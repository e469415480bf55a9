package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hash-sketch hot paths.
  *
  * The same computations are expressible with higher-order functions
  * (`aggregate`/`zip_with`), but HOF lambda bodies are interpreted
  * per-element with boxed values — a 64-hash MinHash signature over ~70
  * shingles costs thousands of allocating interpreted evals per row
  * (measured ~4 ms/row). These expressions run the identical loops as
  * tight unboxed JVM code (~20 us/row) using Spark's own XXH64.
  *
  * `CodegenFallback` is deliberate: the expression body is one compiled
  * method call per row, so whole-stage codegen would add nothing — the
  * loop, not the dispatch, is the cost.
  */

/** Shared token-hash / shingle-roll kernels for [[ShingleHash]] and
  * [[MultiShingleHash]] — one definition so single- and multi-n callers
  * cannot drift apart.
  */
private[functions] object ShingleOps {
  final val Seed = 42L

  /** xxhash64 of every token, one pass. */
  def tokenHashes(toks: ArrayData): Array[Long] = {
    val numToks = toks.numElements()
    val th = new Array[Long](numToks)
    var i = 0
    while (i < numToks) {
      th(i) = XXH64.hashUTF8String(toks.getUTF8String(i), Seed)
      i += 1
    }
    th
  }

  /** Distinct sorted n-gram shingle hashes rolled over pre-hashed tokens;
    * fewer than `n` tokens collapse to one whole-text shingle. */
  def roll(th: Array[Long], n: Int): GenericArrayData = {
    val numToks = th.length
    val out =
      if (numToks < n) { // whole-text fallback shingle
        var h = Seed
        var j = 0
        while (j < numToks) { h = XXH64.hashLong(th(j), h); j += 1 }
        Array(h)
      } else {
        val numShingles = numToks - n + 1
        val hs = new Array[Long](numShingles)
        var s = 0
        while (s < numShingles) {
          var h = Seed
          var j = 0
          while (j < n) { h = XXH64.hashLong(th(s + j), h); j += 1 }
          hs(s) = h
          s += 1
        }
        hs
      }
    // distinct via sort + unique (shingle sets are set-semantics)
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }
}

/** Hashes a token array into distinct word n-gram shingle hashes:
  * each token is xxhash64'd once, each n-gram hash chains the token
  * hashes. If the document has fewer than `n` tokens the whole token
  * array collapses to one shingle (mirrors [[graft.ops.Dedup.shingles]]).
  */
case class ShingleHash(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    ShingleOps.roll(ShingleOps.tokenHashes(toks), n)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHash =
    copy(child = newChild)
}

/** Positional word n-gram shingle hashes — [[ShingleHash]] WITHOUT the
  * distinct step: element i is the hash of the n-gram starting at token
  * i, so multiplicity and order are preserved (one element per n-gram
  * OCCURRENCE). The duplicated-span metric needs occurrence counts — a
  * phrase repeated 50 times inside one document must weigh 50 positions,
  * which set-semantics [[ShingleHash]] collapses to one. Fewer than `n`
  * tokens collapse to the same whole-text fallback shingle.
  */
case class PositionalShingleHash(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "positional_shingle_hash"

  override def nullSafeEval(input: Any): Any = {
    val th = ShingleOps.tokenHashes(input.asInstanceOf[ArrayData])
    val numToks = th.length
    val out =
      if (numToks < n) { // whole-text fallback shingle (mirrors roll)
        var h = ShingleOps.Seed
        var j = 0
        while (j < numToks) { h = XXH64.hashLong(th(j), h); j += 1 }
        Array(h)
      } else {
        val numShingles = numToks - n + 1
        val hs = new Array[Long](numShingles)
        var s = 0
        while (s < numShingles) {
          var h = ShingleOps.Seed
          var j = 0
          while (j < n) { h = XXH64.hashLong(th(s + j), h); j += 1 }
          hs(s) = h
          s += 1
        }
        hs
      }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PositionalShingleHash =
    copy(child = newChild)
}

/** Distinct shingle-hash sets for SEVERAL n-gram sizes in one pass:
  * tokens are xxhash64'd once and each size rolls over the shared token
  * hashes, vs one full re-tokenize + re-hash per size when stacking
  * [[ShingleHash]] calls (the three-size Jaccard query spent ~35% of its
  * compute re-deriving identical token hashes). Field `n<k>` of the
  * result struct is bit-identical to `ShingleHash(child, k)`.
  */
case class MultiShingleHash(child: Expression, ns: Seq[Int])
  extends UnaryExpression with CodegenFallback {
  require(ns.nonEmpty, "at least one shingle size required")
  require(ns.forall(_ >= 1), "shingle sizes must be >= 1")
  require(ns.distinct == ns, "shingle sizes must be distinct")

  override def dataType: DataType = StructType(ns.map(n =>
    StructField(s"n$n", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "multi_shingle_hash"

  override def nullSafeEval(input: Any): Any = {
    val th = ShingleOps.tokenHashes(input.asInstanceOf[ArrayData])
    val fields = new Array[Any](ns.length)
    var i = 0
    while (i < ns.length) {
      fields(i) = ShingleOps.roll(th, ns(i))
      i += 1
    }
    new GenericInternalRow(fields)
  }

  override protected def withNewChildInternal(newChild: Expression): MultiShingleHash =
    copy(child = newChild)
}

/** Word n-gram shingle STRINGS of a token array, space-joined — the
  * exact strings `transform(sequence(...), i -> concat_ws(' ',
  * slice(toks, i, n)))` produces (fewer than `n` tokens collapse to one
  * whole-text shingle), so DuckDB-oracle string parity is preserved,
  * but built in one compiled loop instead of an interpreted lambda tree
  * allocating a slice array per gram — the HOF formulation dominated
  * decontamination at sf1 (measured ~20x slower end-to-end). */
case class StringShingles(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "string_shingles"

  private final val Space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val numToks = toks.numElements()
    val ts = new Array[UTF8String](numToks)
    var i = 0
    while (i < numToks) { ts(i) = toks.getUTF8String(i); i += 1 }
    val out =
      if (numToks < n) Array[Any](UTF8String.concatWs(Space, ts: _*))
      else {
        val numShingles = numToks - n + 1
        val gs = new Array[Any](numShingles)
        val window = new Array[UTF8String](n)
        var s = 0
        while (s < numShingles) {
          var j = 0
          while (j < n) { window(j) = ts(s + j); j += 1 }
          gs(s) = UTF8String.concatWs(Space, window: _*)
          s += 1
        }
        gs
      }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): StringShingles =
    copy(child = newChild)
}

/** MinHash signature over a (distinct) shingle-hash array: element k of
  * the result is `min over shingles s of xxhash64(s, seed = k)`. */
case class MinHashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {
  require(numHashes >= 1, "numHashes must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val sh = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.numElements()) {
      val s = sh.getLong(i)
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashLong(s, k)
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** 64-bit SimHash over a token array: one xxhash64 per token, then the
  * usual signed bit-count vote. */
case class SimHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  private final val Seed = 42L

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val counters = new Array[Int](64)
    var i = 0
    while (i < toks.numElements()) {
      val h = XXH64.hashUTF8String(toks.getUTF8String(i), Seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** One-pass frequency statistics over a string array: element count,
  * distinct count, the highest single-element frequency, total characters
  * (code points), and the characters sitting in repeat occurrences (every
  * occurrence after an element's first). One hash-map traversal — the HOF
  * formulation (a nested `filter` per distinct element) is interpreted
  * AND quadratic: the top-n-gram share alone cost 55 s over the 50k-doc
  * sf1 corpus. Serves the repetition/boilerplate signals: duplicate-line
  * ratio = (n - n_distinct)/n, duplicate-char ratio = dup_chars /
  * total_chars, top-n-gram share = max_count/n. */
case class ArrayFreqStats(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("max_count", IntegerType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false),
    StructField("n_once", IntegerType, nullable = false)))
  override def prettyName: String = "array_freq_stats"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var maxCount = 0
    var totalChars = 0L
    var dupChars = 0L
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val len = s.numChars()
      totalChars += len
      val c = counts.merge(s, 1, (a, b) => a + b)
      if (c > 1) dupChars += len
      if (c > maxCount) maxCount = c
      i += 1
    }
    // hapax count (values occurring exactly once) — one O(distinct)
    // pass over the already-built map, the lexical-diversity signal's
    // only extra cost
    var nOnce = 0
    val vit = counts.values().iterator()
    while (vit.hasNext) if (vit.next() == 1) nOnce += 1
    // Array[Any] cells: a Seq literal of mixed Int/Long fields would
    // numerically WIDEN the Ints to Long (Scala weak conformance),
    // breaking the declared Int schema at eval time.
    val cells = new Array[Any](6)
    cells(0) = n
    cells(1) = counts.size()
    cells(2) = maxCount
    cells(3) = totalChars
    cells(4) = dupChars
    cells(5) = nOnce
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(cells.toIndexedSeq)
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayFreqStats =
    copy(child = newChild)
}

/** Shannon entropy of a text column's CODEPOINT distribution, in bits
  * per character, plus the codepoint count — the cheap statistical
  * garbage detector (binary-soup/random-key text scores near log2 of
  * its alphabet; natural language sits around 4-4.5 bits; single-char
  * spam near 0). One hash-map pass per row, no shuffle. Codepoints, not
  * UTF-16 chars: the oracle engine counts characters, so surrogate
  * pairs must weigh 1 on both sides. Entropy is computed as
  * `log2(n) - sum(c*log2(c))/n` from exact integer counts — the only
  * float exposure is per-term log rounding, absorbed by the shared
  * oracle nudge. */
case class CharEntropy(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_cp", IntegerType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val counts = new java.util.HashMap[Integer, Int](64)
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts.merge(cp, 1, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    val ent =
      if (n == 0) 0.0
      else {
        val ln2 = math.log(2.0)
        var acc = 0.0
        val it = counts.values().iterator()
        while (it.hasNext) { val c = it.next().toDouble; acc += c * (math.log(c) / ln2) }
        math.log(n.toDouble) / ln2 - acc / n
      }
    val cells = new Array[Any](2)
    cells(0) = n
    cells(1) = ent
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(cells.toIndexedSeq)
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** Winnowing-style character k-gram fingerprint: xxhash64 (seed 42, the
  * `xxhash64()` function's seed) of every k-char window of the text, then
  * the `keep` smallest DISTINCT hashes, ascending — bit-identical to
  * `slice(array_sort(array_distinct(transform(sequence(...), i ->
  * xxhash64(substr(text, i, k))))), 1, keep)`, which evaluated an
  * interpreted lambda + substring allocation per window (~21 s over the
  * sf1 corpus; this is one compiled scan over the UTF-8 bytes). Texts
  * shorter than `k` hash their single whole-text window. */
case class CharShingleFingerprint(child: Expression, k: Int, keep: Int)
  extends UnaryExpression with CodegenFallback {
  require(k >= 1 && keep >= 1, "k and keep must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_shingle_fingerprint"

  private final val Seed = 42L

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val numChars = s.numChars()
    val numWin = math.max(numChars - k + 1, 1)
    // code point -> byte offset table (one pass; ASCII fast path implicit)
    val bytes = s.getBytes
    val offs = new Array[Int](numChars + 1)
    var b = 0
    var cp = 0
    while (cp < numChars) {
      offs(cp) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      cp += 1
    }
    offs(numChars) = bytes.length
    val hs = new Array[Long](numWin)
    var i = 0
    while (i < numWin) {
      val from = offs(i)
      val until = offs(math.min(i + k, numChars))
      hs(i) = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from, until - from, Seed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    var r = 0
    while (r < hs.length && w < keep) {
      if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(newChild: Expression): CharShingleFingerprint =
    copy(child = newChild)
}

/** One-pass text profile: every counting signal the quality / language-ID
  * heuristics need, from a single traversal of the string — token count,
  * token characters, per-set stopword hits, ASCII punct/digit/upper
  * counts, CJK character count. The HOF formulation re-tokenizes the text
  * once per signal (HOFs are interpreted `CodegenFallback`s, so no
  * common-subexpression elimination rescues it) — language-ID alone cost
  * ~9 s over the 50k-doc sf1 corpus; this expression profiles it in one
  * compiled pass. The derived ratios/scores stay OUTSIDE as plain column
  * arithmetic, so policy remains declarative and oracle-parity rides on
  * integer counts.
  *
  * Parity notes vs the HOF/oracle formulation: tokens split on the shared
  * explicit whitespace class; token lengths count code points (= Spark
  * `length`); stopword membership lowercases per token (equivalent to
  * tokenizing `lower(text)` — lowercasing never creates whitespace);
  * punct is Java `\p{Punct}` = the 32 ASCII punctuation chars, matching
  * RE2 `[[:punct:]]`; upper/digit are ASCII; CJK is the 一-鿿
  * block (BMP, so UTF-16 iteration counts code points exactly). */
case class TextProfile(child: Expression, stop: Seq[String],
                       langs: Seq[(String, Seq[String])])
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(
    Seq("n_chars", "n_tok", "n_stop", "n_punct", "n_digit", "n_upper", "n_cjk")
      .map(StructField(_, IntegerType, nullable = false)) ++
      Seq(StructField("sum_tok_len", LongType, nullable = false)) ++
      langs.map { case (l, _) => StructField(s"n_$l", IntegerType, nullable = false) })
  override def prettyName: String = "text_profile"

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stop.size * 2)
    stop.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  @transient private lazy val langSets: Array[java.util.HashSet[UTF8String]] =
    langs.map { case (_, ws) =>
      val s = new java.util.HashSet[UTF8String](ws.size * 2)
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  private def isPunct(c: Char): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    val nUtf16 = s.length
    var nTok = 0
    var sumTokLen = 0L
    var nStop = 0
    var nPunct = 0
    var nDigit = 0
    var nUpper = 0
    var nCjk = 0
    var surrogates = 0
    val langHits = new Array[Int](langSets.length)
    var i = 0
    while (i < nUtf16) {
      // char-class counts (ASCII + BMP classes: never surrogates)
      val c = s.charAt(i)
      if (java.lang.Character.isHighSurrogate(c)) surrogates += 1
      if (isPunct(c)) nPunct += 1
      else if (c >= '0' && c <= '9') nDigit += 1
      else if (c >= 'A' && c <= 'Z') nUpper += 1
      else if (c >= 0x4e00 && c <= 0x9fff) nCjk += 1
      // token scan: c starts a token iff non-ws preceded by start/ws
      if (!isWs(c) && (i == 0 || isWs(s.charAt(i - 1)))) {
        var j = i + 1
        while (j < nUtf16 && !isWs(s.charAt(j))) j += 1
        nTok += 1
        var tokSurr = 0
        var k = i
        while (k < j) { if (java.lang.Character.isHighSurrogate(s.charAt(k))) tokSurr += 1; k += 1 }
        sumTokLen += (j - i) - tokSurr // code points, not UTF-16 units
        val tok = UTF8String.fromString(s.substring(i, j).toLowerCase)
        if (stopSet.contains(tok)) nStop += 1
        var li = 0
        while (li < langHits.length) {
          if (langSets(li).contains(tok)) langHits(li) += 1
          li += 1
        }
      }
      i += 1
    }
    val cells = new Array[Any](8 + langHits.length)
    cells(0) = nUtf16 - surrogates // code-point length = Spark length()
    cells(1) = nTok
    cells(2) = nStop
    cells(3) = nPunct
    cells(4) = nDigit
    cells(5) = nUpper
    cells(6) = nCjk
    cells(7) = sumTokLen
    var li = 0
    while (li < langHits.length) { cells(8 + li) = langHits(li); li += 1 }
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(cells.toIndexedSeq)
  }

  override protected def withNewChildInternal(newChild: Expression): TextProfile =
    copy(child = newChild)
}

/** Stratum-value sanitization (null handled by the caller's coalesce):
  * spaces -> '_', runs of non-ASCII -> single '?'. One pass over the
  * string — replaces two java.util.regex passes per row, which dominated
  * the per-row cost of the summary's aggregation input. */
/** Removes repeated non-empty lines WITHIN a document, keeping each
  * line's first occurrence and every empty line (document structure) —
  * the intra-document granularity of C4-style boilerplate removal
  * ([[graft.ops.Dedup.globalLineDedup]] is the corpus-global one).
  * One hash-set pass per row; as a pure projection the operator needs
  * no shuffle at any scale. */
case class DedupLines(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "dedup_lines"

  override def nullSafeEval(input: Any): Any = {
    val lines = input.asInstanceOf[UTF8String].toString.split("\n", -1)
    val seen = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder()
    var first = true
    var i = 0
    while (i < lines.length) {
      val ln = lines(i)
      if (ln.isEmpty || seen.add(ln)) {
        if (!first) sb.append('\n')
        sb.append(ln)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): DedupLines =
    copy(child = newChild)
}

case class SanitizeStrat(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "sanitize_strat"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var inNonAscii = false
    while (i < n) {
      val ch = s.charAt(i)
      if (ch > 0x7F) {
        if (!inNonAscii) { sb.append('?'); inNonAscii = true }
      } else {
        inNonAscii = false
        sb.append(if (ch == ' ') '_' else ch)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): SanitizeStrat =
    copy(child = newChild)
}

/** Base for the vector-math expressions: children evaluate to
  * array<float> OR array<double>, read natively — no Cast node. The
  * defensive `cast("array<double>")` the wrappers used to inject made
  * every float-embedding comparison ALLOCATE two widened copies per
  * pair (the s8 candidate join: ~8M pairs × 2 × 64-element arrays of
  * pure GC churn, in a Project already outside whole-stage codegen
  * because of the CodegenFallback boundary). float→double widening is
  * IEEE-exact and happens here per ELEMENT in the same accumulation
  * order, so results are bit-identical to the cast formulation. Any
  * other element type fails analysis with a cast-first message. */
abstract class BinaryVectorExpression extends Expression with CodegenFallback {
  def left: Expression
  def right: Expression
  override def children: Seq[Expression] = Seq(left, right)
  override def nullable: Boolean = left.nullable || right.nullable
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float> or array<double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString} — " +
          "cast to array<double> first")
  }

  @transient protected final lazy val leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient protected final lazy val rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // one predictable branch per element — the JIT hoists the instance-
  // final boolean out of the loop; no boxing, no lambda dispatch
  protected final def elemL(a: ArrayData, i: Int): Double =
    if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
  protected final def elemR(b: ArrayData, i: Int): Double =
    if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)

  protected def compute(a: ArrayData, b: ArrayData): Double

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }
}

/** Dot product of two numeric arrays (length = min of the two). */
case class DotProduct(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "dot_product"
  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += elemL(a, i) * elemR(b, i); i += 1 }
    dot
  }
  override protected def withNewChildrenInternal(l: IndexedSeq[Expression]): DotProduct =
    copy(left = l(0), right = l(1))
}

/** Cosine similarity of two numeric arrays; 0.0 when either norm is 0.
  * One pass accumulating dot and both norms — the HOF formulation
  * (`aggregate(zip_with(...))` x5, interpreted, no common-subexpression
  * elimination under CodegenFallback) costs ~15 array traversals. Same
  * sequential IEEE accumulation order, so results are bit-identical. */
case class CosineSim(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "cosine_sim"
  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elemL(a, i)
      val y = elemR(b, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }
  override protected def withNewChildrenInternal(l: IndexedSeq[Expression]): CosineSim =
    copy(left = l(0), right = l(1))
}

/** Product-quantization kernel of [[PqEncode]] — the vector is never
  * sub-sliced into intermediate arrays; every distance runs over
  * (offset, len) windows of the original buffer with sequential IEEE
  * accumulation, so the c7 oracle's per-position replay sees identical
  * doubles. */
private[functions] object PqOps {
  /** codes(sub) = argmin over centroids of squared L2 on the sub-window;
    * ties break to the LOWEST centroid index. `cb(sub)(cent)` is dsub
    * doubles. */
  def encode(v: ArrayData, cb: Array[Array[Array[Double]]], dsub: Int): Array[Int] = {
    val m = cb.length
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val cents = cb(sub)
      val off = sub * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val diff = v.getDouble(off + j) - cent(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(sub) = best
      sub += 1
    }
    out
  }
}

/** PQ code assignment: `array<int>` of length m — element `sub` is the
  * index of the nearest (squared-L2, ties to lowest index) centroid of
  * `codebooks(sub)` for the vector's `sub`-th dsub-wide window. The
  * codebooks ride INSIDE the expression as plain data (the
  * [[NearestCentroids]] plan-cost argument: one node regardless of
  * m × ksub). Input dimension must be exactly m · dsub — a silent
  * truncation would corrupt every downstream code. */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
  extends UnaryExpression with CodegenFallback {
  require(codebooks.nonEmpty, "codebooks must not be empty")
  require(codebooks.forall(_.nonEmpty), "every subspace needs >= 1 centroid")
  private val dsub = codebooks.head.head.length
  require(dsub >= 1 && codebooks.forall(_.forall(_.length == dsub)),
    "all centroids must share one subvector dimension")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    require(v.numElements() == cb.length * dsub,
      s"pq_encode: vector dim ${v.numElements()} != ${cb.length} x $dsub")
    new GenericArrayData(PqOps.encode(v, cb, dsub))
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric-distance lookup: given a PQ code array and the QUERY's
  * precomputed distance table (`table(sub)(cent)` = squared L2 from the
  * query's sub-window to that centroid), the approximate distance is the
  * m-term table sum — the scan side of PQ search never touches a vector,
  * only m small-int lookups per row. */
case class PqAdcDistance(child: Expression, table: Seq[Seq[Double]])
  extends UnaryExpression with CodegenFallback {
  require(table.nonEmpty, "distance table must not be empty")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_distance"

  @transient private lazy val t: Array[Array[Double]] = table.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    require(codes.numElements() == t.length,
      s"pq_adc_distance: ${codes.numElements()} codes != ${t.length} subspaces")
    var sum = 0.0
    var sub = 0
    while (sub < t.length) {
      sum += t(sub)(codes.getInt(sub))
      sub += 1
    }
    sum
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcDistance =
    copy(child = newChild)
}

/** Jaro / Jaro-Winkler kernels shared by [[JaroWinklerSim]] — one tight
  * unboxed loop per pair, semantics pinned to the de-facto standard the
  * d21 oracle cross-validates against DuckDB's `jaro_winkler_similarity`:
  * either side empty → 0.0 (even for two empties); match window
  * `max(l1,l2)/2 − 1`; half-counted transpositions; Winkler boost
  * `j + min(prefix,4) · 0.1 · (1 − j)` applied only when jaro > 0.7. */
private[functions] object JaroOps {
  def jaro(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(i + window, l2 - 1)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2
    val md = m.toDouble
    (md / l1 + md / l2 + (md - tr) / md) / 3.0
  }

  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    val maxP = math.min(4, math.min(s1.length, s2.length))
    var p = 0
    while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
    j + p * 0.1 * (1.0 - j)
  }
}

/** Jaro-Winkler similarity of two strings in [0, 1] — the prefix-biased
  * fuzzy-name metric complementing exact Levenshtein (d18): insensitive
  * to string LENGTH in cost (one O(l1·l2/...) windowed pass, no DP
  * matrix), biased toward shared prefixes, which is what name/title
  * linkage wants. Constants are the standard ones (see [[JaroOps]]).
  * Operates on UTF-16 code units (= code points for the BMP text this
  * engine's corpora carry). */
case class JaroWinklerSim(left: Expression, right: Expression)
  extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right)
  override def nullable: Boolean = left.nullable || right.nullable
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler_sim"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    JaroOps.jaroWinkler(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)
  }

  override protected def withNewChildrenInternal(l: IndexedSeq[Expression]): JaroWinklerSim =
    copy(left = l(0), right = l(1))
}

/** Indices of the `nprobe` highest-cosine centroids for a vector, against
  * a codebook carried INSIDE the expression as plain data. The
  * alternative — one cosine sub-expression per centroid assembled into an
  * `array(struct(...))` and sorted — grows the PLAN (and its codegen)
  * linearly with the codebook, which stops being free around a few
  * hundred centroids; here the plan cost is one node no matter the nlist.
  * Ordering matches the struct formulation bit-for-bit: cosine uses the
  * same one-pass min-length accumulation as [[CosineSim]], ranking is
  * (score desc, index asc). */
case class NearestCentroids(child: Expression, cents: Seq[Seq[Double]], nprobe: Int)
  extends UnaryExpression with CodegenFallback {
  require(cents.nonEmpty, "codebook must not be empty")
  require(nprobe >= 1, "nprobe must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val cArr: Array[Array[Double]] = cents.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val k = math.min(nprobe, cArr.length)
    val topScore = new Array[Double](k)
    val topIdx = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < cArr.length) {
      val cent = cArr(c)
      val n = math.min(v.numElements(), cent.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = v.getDouble(i); val y = cent(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      val s = if (d == 0.0) 0.0 else dot / d
      // insertion into the running top-k: better = higher score, or equal
      // score with lower index (matches struct(score, -i) max semantics)
      var pos = filled
      while (pos > 0 && (s > topScore(pos - 1) ||
          (s == topScore(pos - 1) && c < topIdx(pos - 1)))) pos -= 1
      if (pos < k) {
        val last = math.min(filled, k - 1)
        var j = last
        while (j > pos) { topScore(j) = topScore(j - 1); topIdx(j) = topIdx(j - 1); j -= 1 }
        topScore(pos) = s; topIdx(pos) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topIdx, filled))
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

object HashFunctions {
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Distinct word-n-gram shingle hashes of a token-array column. */
  def shingleHash(tokens: Column, n: Int): Column =
    ColumnBridge.column(ShingleHash(expr(tokens), n))

  /** Positional (multiplicity-preserving) word-n-gram shingle hashes of
    * a token-array column — element i = hash of the gram at position i. */
  def positionalShingleHash(tokens: Column, n: Int): Column =
    ColumnBridge.column(PositionalShingleHash(expr(tokens), n))

  /** Struct of distinct shingle-hash sets for several n-gram sizes
    * (field `n<k>` = `shingleHash(tokens, k)`), token-hashing once. */
  def multiShingleHash(tokens: Column, ns: Seq[Int]): Column =
    ColumnBridge.column(MultiShingleHash(expr(tokens), ns))

  /** Word-n-gram shingle strings of a token-array column (space-joined,
    * whole-text fallback below `n` tokens — HOF-parity semantics). */
  def stringShingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(StringShingles(expr(tokens), n))

  /** MinHash signature (array<long> of length `numHashes`) of a
    * shingle-hash array column. */
  def minHashSignature(shingleHashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(expr(shingleHashes), numHashes))

  /** 64-bit SimHash of a token-array column. */
  def simHash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(expr(tokens)))

  /** Jaro-Winkler similarity of two string columns (standard constants:
    * boost threshold 0.7, prefix cap 4, scale 0.1). */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinklerSim(expr(a), expr(b)))

  /** PQ code array (length m) of a double-array column under per-subspace
    * codebooks `codebooks(sub)(cent)(j)`. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqEncode(expr(vec), codebooks))

  /** Asymmetric PQ distance of a code-array column under a query's
    * per-subspace distance table. */
  def pqAdcDistance(codes: Column, table: Seq[Seq[Double]]): Column =
    ColumnBridge.column(PqAdcDistance(expr(codes), table))

  /** One-pass frequency stats struct (n, n_distinct, max_count,
    * total_chars, dup_chars) of a string-array column. */
  def arrayFreqStats(arr: Column): Column =
    ColumnBridge.column(ArrayFreqStats(expr(arr)))

  /** One-pass codepoint-entropy struct (n_cp, entropy-in-bits) of a
    * text column. */
  def charEntropy(text: Column): Column =
    ColumnBridge.column(CharEntropy(expr(text)))

  /** Winnowing-style fingerprint: the `keep` smallest distinct xxhash64
    * values over the k-char windows of a text column, ascending. */
  def charShingleFingerprint(text: Column, k: Int, keep: Int): Column =
    ColumnBridge.column(CharShingleFingerprint(expr(text), k, keep))

  /** One-pass strat-value sanitization (space -> '_', non-ASCII run -> '?'). */
  def sanitizeStrat(c: Column): Column =
    ColumnBridge.column(SanitizeStrat(expr(c)))

  /** First-occurrence dedup of non-empty lines within a text column
    * (empty lines always kept). */
  def dedupLines(text: Column): Column =
    ColumnBridge.column(DedupLines(expr(text)))

  /** One-pass text profile struct (token/stopword/char-class/CJK counts). */
  def textProfile(text: Column, stop: Seq[String],
                  langs: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(TextProfile(expr(text), stop, langs))

  // No defensive double-cast here: the expressions read float- and
  // double-backed ArrayData natively (element-wise widening, bit-
  // identical), and the cast node cost two widened array ALLOCATIONS
  // per comparison on float embeddings — the s8/d5 candidate joins'
  // dominant GC load. Other element types fail analysis with a clear
  // cast-first message instead of reading garbage bytes.
  /** Dot product of two numeric-array columns. */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(expr(a), expr(b)))

  /** Cosine similarity of two numeric-array columns (0.0 on zero norm). */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(expr(a), expr(b)))

  /** Indices of the `nprobe` nearest (highest-cosine) codebook centroids. */
  def nearestCentroids(vec: Column, cents: Seq[Seq[Double]], nprobe: Int): Column =
    ColumnBridge.column(NearestCentroids(expr(vec.cast("array<double>")), cents, nprobe))
}
