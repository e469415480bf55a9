package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Composite-pipeline helpers for multi-signal corpus curation.
  *
  * A curation composite (dedup → N per-doc signal stages → join → gate →
  * report) re-executes its shared upstream once per signal stage when
  * left fully lazy — at 100 TB the deduped corpus is the single most
  * expensive intermediate in the pipeline, and production always
  * materializes it once (a checkpoint table between pipeline stages).
  * [[withMaterialized]] is that storage decision as a call-scoped
  * operator: the composite's cost becomes dedup + Σ(signal stages over
  * the CACHED corpus) instead of Σ(dedup + signal stage).
  */
object Curation {

  /** Run `build` against a call-scoped MATERIALIZED view of `corpus`,
    * then release the storage before returning.
    *
    * The composite's RESULT must be aggregate-sized (a report, not row
    * data): it is collected so the persist has a sound release point —
    * the same contract as every other call-scoped persist in the
    * library (OrderStatistics.prefixOffsets, Clustering.kMeans). A result
    * larger than `maxResultRows` fails loudly instead of silently
    * hauling row data through the driver; such a composite should write
    * its corpus to a real checkpoint table instead.
    *
    * MEMORY_AND_DISK, not MEMORY_ONLY: a corpus partition that doesn't
    * fit the storage pool spills to local disk rather than silently
    * evicting and re-running the dedup per stage (which would undo the
    * whole point under memory pressure). */
  def withMaterialized(corpus: DataFrame, build: DataFrame => DataFrame,
                       maxResultRows: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    val mat = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val result = build(mat)
      val rows = result.limit(maxResultRows + 1).collect()
      require(rows.length <= maxResultRows,
        s"withMaterialized result exceeded $maxResultRows rows — " +
          "composite results must be aggregate-sized; checkpoint the " +
          "corpus to a table instead")
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), result.schema)
    } finally { mat.unpersist(); () }
  }
}
