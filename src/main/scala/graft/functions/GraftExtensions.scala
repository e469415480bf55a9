package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL registration for the graft custom expressions, so they are
  * callable from `spark.sql(...)` as well as the Column API: set
  * `spark.sql.extensions=graft.functions.GraftExtensions` when the
  * session is built (the standard extension-injection path).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("shingle_hash"),
      info("shingle_hash", "shingle_hash(tokens, n) - distinct word n-gram shingle hashes"),
      (args: Seq[Expression]) => ShingleHash(args(0), intLit(args(1), "shingle_hash n"))),
    (FunctionIdentifier("multi_shingle_hash"),
      info("multi_shingle_hash",
        "multi_shingle_hash(tokens, n1, n2, ...) - struct of distinct shingle-hash sets, one token-hash pass"),
      (args: Seq[Expression]) => MultiShingleHash(args.head,
        args.tail.map(intLit(_, "multi_shingle_hash n")))),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(shingle_hashes, k) - k-element MinHash signature"),
      (args: Seq[Expression]) => MinHashSignature(args(0), intLit(args(1), "minhash_signature k"))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))),
    (FunctionIdentifier("string_shingles"),
      info("string_shingles", "string_shingles(tokens, n) - word n-gram shingle strings"),
      (args: Seq[Expression]) => StringShingles(args(0), intLit(args(1), "string_shingles n"))),
    (FunctionIdentifier("array_freq_stats"),
      info("array_freq_stats",
        "array_freq_stats(arr) - struct(n, n_distinct, max_count, total_chars, dup_chars, n_once)"),
      (args: Seq[Expression]) => ArrayFreqStats(args(0))),
    (FunctionIdentifier("char_shingle_fingerprint"),
      info("char_shingle_fingerprint",
        "char_shingle_fingerprint(text, k, keep) - keep smallest distinct k-char window hashes"),
      (args: Seq[Expression]) => CharShingleFingerprint(args(0),
        intLit(args(1), "char_shingle_fingerprint k"),
        intLit(args(2), "char_shingle_fingerprint keep"))),
    (FunctionIdentifier("dedup_lines"),
      info("dedup_lines",
        "dedup_lines(text) - drop repeated non-empty lines, keep first occurrences and empties"),
      (args: Seq[Expression]) => DedupLines(args(0))),
    (FunctionIdentifier("sanitize_strat"),
      info("sanitize_strat",
        "sanitize_strat(s) - stratum sanitization: space -> '_', non-ASCII run -> '?'"),
      (args: Seq[Expression]) => SanitizeStrat(args(0))),
    (FunctionIdentifier("positional_shingle_hash"),
      info("positional_shingle_hash",
        "positional_shingle_hash(tokens, n) - word n-gram hashes per POSITION (multiplicity kept)"),
      (args: Seq[Expression]) => PositionalShingleHash(args(0),
        intLit(args(1), "positional_shingle_hash n"))),
    (FunctionIdentifier("char_entropy"),
      info("char_entropy",
        "char_entropy(text) - struct(n_cp, entropy): codepoint-distribution Shannon entropy in bits"),
      (args: Seq[Expression]) => CharEntropy(args(0))),
  )
}
