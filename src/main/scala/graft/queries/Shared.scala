package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Util.table
import graft.ops.TextAnalysis

/** The fixtures and DuckDB SQL helpers that more than one query family
  * uses. */
object Shared {

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"), col("text"))

  /** The d6/d13/d13c/c5 shared planted near-dup corpus: doc_id % 5 == 3
    * becomes a double-space copy of doc_id - 1 and doc_id % 5 == 4 a
    * triple-space copy of doc_id - 2 — the same token stream (identical
    * shingle sets) under different raw text, so each % 5 == 2 donor
    * anchors a 3-clique that exact dedup does not absorb. */
  private[queries] def plantedNearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val c1 = d.select((col("doc_id") + 1).as("doc_id"),
      expr("replace(text, ' ', '  ')").as("__c1"))
    val c2 = d.select((col("doc_id") + 2).as("doc_id"),
      expr("replace(text, ' ', '   ')").as("__c2"))
    d.join(c1, Seq("doc_id"), "left").join(c2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 3 && col("__c1").isNotNull, col("__c1"))
          .when(col("doc_id") % 5 === 4 && col("__c2").isNotNull, col("__c2"))
          .otherwise(col("text")).as("text"))
  }

  /** The o15/c9 shared export handshake: wipe the target dirs, run
    * [[graft.sources.Sinks.exportJsonlSharded]] on `df` (must carry
    * doc_id/source/text/n_tok), re-read the JSONL with tokens
    * RECOMPUTED from the round-tripped text, and return the per-shard
    * census with the one-file-per-shard and manifest-match booleans.
    * The re-read census is persisted and the ≤shards rows collected
    * once (aggregates-only contract), so the JSONL is read ONCE — the
    * earlier def-per-consumer shape re-read and re-tokenized the
    * corpus three times per bench rep. */
  private[queries] def jsonlExportCensus(s: SparkSession, df: DataFrame,
                                outName: String, mtName: String): DataFrame = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    def pth(n: String) = new org.apache.hadoop.fs.Path(wh, n).toString
    val out = pth(outName); val mt = pth(mtName)
    val fs0 = new org.apache.hadoop.fs.Path(wh).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    fs0.delete(new org.apache.hadoop.fs.Path(out), true)
    fs0.delete(new org.apache.hadoop.fs.Path(mt), true)
    val rep = graft.sources.Sinks.exportJsonlSharded(
      df, out, "doc_id", "n_tok", manifestTable = mt)
    val reread = s.read
      .schema("doc_id LONG, source STRING, text STRING, n_tok LONG")
      .json(out)
      .withColumn("rt", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("rt").as("n_tokens"))
      .persist()
    try {
      val manifest = graft.sources.VersionedTable.read(s, mt)
        .select(col("shard"), col("n_docs"), col("n_tokens"))
      val manifestOk = reread.exceptAll(manifest)
        .unionAll(manifest.exceptAll(reread)).isEmpty
      val rows = reread.orderBy("shard").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          rep.nFiles == rep.nShards, manifestOk))
      import s.implicits._
      rows.toDF("shard", "n_docs", "n_tokens",
          "one_file_per_shard", "manifest_match")
        .orderBy("shard")
    } finally reread.unpersist()
  }

  // DuckDB-side token array matching TextAnalysis.tokens. The whitespace
  // class is the shared explicit one (Java \s and RE2 \s disagree on \x0B).
  private[queries] val Ws = s"[${TextAnalysis.WhitespaceClass}]"
  private[queries] val Toks = raw"list_filter(string_split_regex(text, '$Ws+'), t -> length(t) > 0)"
  private[queries] def toksOf(c: String) =
    raw"list_filter(string_split_regex(lower($c), '$Ws+'), t -> length(t) > 0)"

  /** DuckDB n-gram shingle list matching Dedup.shingles (lowercased). */
  private[queries] def shingleSql(n: Int, tk: String): String =
    if (n == 1) s"list_distinct($tk)"
    else {
      val cat = (0 until n).map(i => s"$tk[i+$i]").mkString("concat_ws(' ', ", ", ", ")")
      s"list_distinct(CASE WHEN len($tk) < $n THEN [array_to_string($tk, ' ')] " +
        s"ELSE list_transform(range(1, len($tk) - ${n - 2}), i -> $cat) END)"
    }

  private[queries] val StopwordList =
    TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** `SimilarityQueries.bucketSql` gated on a runtime plane count `pExpr` (SQL scalar):
    * bit i contributes only when i < p — mirrors Similarity.lshBucketGated
    * so the oracle tracks the adaptive plane formula exactly. */
  private[queries] def bucketSqlGated(vecExpr: String, planes: Seq[Seq[Double]], pExpr: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = p.mkString("[", ", ", "]")
      s"(CASE WHEN $i < $pExpr AND list_inner_product($vecExpr, $plane) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Per-language score expression over a lowercased token list `tk`. */
  private def langScoreSql(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(tk, t -> list_contains($list, t)))::DOUBLE / greatest(len(tk), 1)"
  }

  /** Text-enrichment CTE chain shared by x2 and c1: tokenizes `src` (a
    * table name or parenthesized derived table with doc_id, text) and
    * exposes per-doc language scores (s_de..s_zh, max m), n_tok, and the
    * quality-heuristic inputs in CTE `f`. Mirrors TextAnalysis exactly —
    * both queries' parity rides on this one definition. */
  private[queries] def enrichSql(src: String, pre: String = ""): String = {
    val langs = TextAnalysis.LangStopwords.toSeq.sortBy(_._1) // de en es fr it
    val scoreCols = langs.map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }
    s"WITH ${pre}t AS (SELECT doc_id, text, ${toksOf("text")} AS tk FROM $src), " +
      "s AS (SELECT doc_id, text, tk, " + scoreCols.mkString(", ") + ", " +
      raw"length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS s_zh, " +
      "len(tk) AS n_tok, " +
      raw"length(regexp_replace(text, '$Ws', '', 'g'))::DOUBLE / greatest(len(tk), 1) AS mtl, " +
      s"len(list_filter(tk, t -> list_contains($StopwordList, t)))::DOUBLE / greatest(len(tk), 1) AS stop_r, " +
      "length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS punct_r, " +
      "length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS digit_r, " +
      "length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS upper_r " +
      "FROM t), " +
      "f AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_it, s_zh) AS m FROM s) "
  }

  /** Quality heuristic over CTE `f`'s columns — TextAnalysis.qualityScoreP. */
  private[queries] val QualityScoreSql: String =
    "(((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN stop_r >= 0.05 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN punct_r <= 0.3 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN digit_r <= 0.3 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN upper_r <= 0.3 THEN 1.0 ELSE 0.0 END)) / 6.0)"

  /** Language pick over CTE `f` — TextAnalysis.languageId's array_max
    * tie-break: highest score, then lexicographically LARGEST language. */
  private[queries] val LangPickSql: String = {
    val pick = ("zh" +: TextAnalysis.LangStopwords.toSeq.sortBy(_._1).map(_._1).reverse)
      .map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"(CASE WHEN m > 0.05 THEN (CASE $pick END) ELSE 'und' END)"
  }
}
