package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.FrequentItems

/** Streaming maintenance of the frequent-items summary — the streaming
  * face of [[graft.ext.FrequentItems]], same discipline as
  * [[SketchStream]]: each micro-batch reduces to ONE Misra–Gries
  * summary row (total + ≤capacity counters) landed under `batch=<id>`;
  * any later heavy-hitter read merges the persisted summaries and never
  * re-reads raw events. A trending-tokens dashboard stays O(summary)
  * while the stream is unbounded.
  *
  * State lives in the summary parquet, not the state store: restart
  * needs only the files, and a replayed batch OVERWRITES its own
  * `batch=<id>` dir. One honest nuance vs the quantile sketch: an MG
  * summary is guarantee-valid but not partition-order-canonical, so a
  * replay may land a DIFFERENT valid summary of the same rows. What IS
  * invariant — and what the spec gates — is the downstream answer:
  * every item above the threshold stays covered (candidate superset
  * survives any valid rewrite), so the exact re-count output is
  * byte-identical across replays.
  *
  * Cross-batch guarantee (conservative one-shot merge bound, same as
  * [[FrequentItems.rollupCandidates]]): undercount ≤ 2N/(capacity+1)
  * over all batches, so exact serving needs shareDen < (capacity+1)/2.
  */
object FrequentStream {

  /** Land one MG summary row per micro-batch at
    * `summaryPath/batch=<id>`: (total BIGINT, items ARRAY<STRUCT>). */
  def maintain(
      stream: DataFrame,
      itemCol: String,
      summaryPath: String,
      capacity: Int,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[Row] =
    // run-scoped base (WaveStream.storeBase): a second fresh-checkpoint
    // run must append new dirs, not clobber batch=0..n
    WaveStream.maintain(stream, summaryPath, trigger, compactEvery) {
      // one aggregate over the batch; the buffer-sized result rides
      // through sliceSummaries' grouped path on a constant key
      batch => FrequentItems.sliceSummaries(
          batch.withColumn("_slice", lit(1)), Seq("_slice"),
          itemCol, capacity)
        .drop("_slice")
        .coalesce(1)
    }

  /** Small-files lifecycle: carry the pinned summary ROWS into one
    * compaction wave (summaries stay per-batch rows — MG merging
    * happens at read in [[candidates]], so compaction only bounds the
    * directory count) and reclaim old dirs with [[expire]]. */
  def compact(spark: SparkSession, summaryPath: String): Long =
    graft.model.WaveTable(summaryPath).compactRows(spark)

  def expire(spark: SparkSession, summaryPath: String,
      keepVersions: Int = 1): Seq[Long] =
    graft.model.WaveTable(summaryPath).expire(spark, keepVersions)

  /** Merged candidates over everything ingested so far:
    * (item, lb, total) — summary-only, raw events never re-read. */
  def candidates(spark: SparkSession, summaryPath: String,
      capacity: Int): DataFrame =
    FrequentItems.rollupCandidates(
      graft.model.WaveTable(summaryPath).read(spark)()
        .select(col("total"), col("items")),
      Nil, capacity)

  /** Exact heavy hitters over an ARCHIVE of the ingested events (the
    * curated landing table), using the stream-maintained candidates to
    * avoid shuffling the archive's item domain. */
  def exactOver(archive: DataFrame, itemCol: String, shareDen: Long,
      spark: SparkSession, summaryPath: String, capacity: Int): DataFrame = {
    require(2L * shareDen < capacity + 1L,
      s"shareDen=$shareDen needs capacity+1 > ${2 * shareDen} to cover " +
        "the cross-batch merge bound")
    val cand = candidates(spark, summaryPath, capacity)
    val total = graft.model.WaveTable(summaryPath).read(spark)()
      .agg(coalesce(sum(col("total")), lit(0L))).head().getLong(0)
    FrequentItems.exactFromCandidates(archive, itemCol, shareDen, total,
      cand.select(col("item").as(itemCol)))
  }
}
