package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.Quantiles

/** Streaming maintenance of the deterministic quantile sketch — the
  * streaming face of [[graft.ext.Quantiles]]: each micro-batch reduces
  * to its own tiny bucket-count table (one map-side-combinable
  * aggregate over the batch) and lands it under `batch=<id>`; any later
  * percentile read merges the persisted counts and NEVER re-reads raw
  * events. This is how a p95 dashboard stays O(sketch) while the event
  * stream is unbounded.
  *
  * State lives in the sketch parquet, not the Spark state store (the
  * [[StreamingNearDup]] discipline): the stream restarts from files
  * alone, and because each batch OVERWRITES its own `batch=<id>` dir,
  * foreachBatch's at-least-once replay is idempotent — a retried batch
  * rewrites identical counts (the sketch is a pure function of the
  * batch), never double-counts.
  *
  * Merge-is-exact (bucket counts add) means the stream-maintained
  * sketch is bit-identical to a batch sketch over all events seen —
  * spec-asserted, the property that makes the persisted table
  * trustworthy as THE source for percentile serving.
  */
object SketchStream {

  /** Maintain a per-`keys` sketch of `valCol` at `sketchPath`, one
    * bucket-count partition per micro-batch — at `base + epochId` with
    * the run-scoped base from [[WaveStream.storeBase]], so a second
    * fresh-checkpoint run appends new dirs instead of clobbering the
    * first run's `batch=0..n` (the [[CountMinStream.maintain]]
    * hazard). */
  def maintain(
      stream: DataFrame,
      keys: Seq[String],
      valCol: String,
      sketchPath: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[Row] =
    WaveStream.maintain(stream, sketchPath, trigger, compactEvery)(
      Quantiles.sketch(_, keys, valCol))

  /** Quantiles over everything ingested so far: rollup-merge of the
    * PINNED waves (kilobytes; legacy stores scan every dir), then the
    * estimate walk. Hash-gated by `q_sketch_serve` (a batch-partitioned
    * store read back against the whole-corpus sketch oracle —
    * merge-is-exact makes the answer batching-independent). */
  def quantiles(spark: SparkSession, sketchPath: String, keys: Seq[String],
      qs: Seq[(String, Int, Int)]): DataFrame =
    Quantiles.estimate(
      Quantiles.rollup(graft.model.WaveTable(sketchPath).read(spark)()
        .drop("batch"), keys), keys, qs)

  /** Small-files lifecycle: collapse the pinned waves into one
    * compaction wave (bucket counts ADD — the serve answer is
    * invariant) and reclaim old dirs with [[expire]]. */
  def compact(spark: SparkSession, sketchPath: String): Long =
    graft.model.WaveTable(sketchPath).compactRows(spark)

  def expire(spark: SparkSession, sketchPath: String,
      keepVersions: Int = 1): Seq[Long] =
    graft.model.WaveTable(sketchPath).expire(spark, keepVersions)
}
