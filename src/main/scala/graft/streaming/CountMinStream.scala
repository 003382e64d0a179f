package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.CountMin

/** Streaming maintenance of the Count-Min sketch — the streaming face
  * of [[graft.ext.CountMin]], on the [[SketchStream]] discipline: each
  * micro-batch reduces to its own ≤ d·w cell table (one map-side-
  * combinable aggregate over the batch) landed under `batch=<id>`;
  * estimates merge the persisted cells and never re-read raw rows.
  * Because CM cells ADD exactly, the stream-maintained sketch is
  * bit-identical to a one-shot batch sketch over everything ingested —
  * spec-asserted, and the q_countmin_serve driver row rides the SAME
  * oracle as the batch estimate face.
  *
  * State lives in the sketch parquet, not the state store: restart
  * needs only the files, and a replayed batch OVERWRITES its own
  * `batch=<id>` dir (the sketch is a pure function of the batch), so
  * at-least-once delivery never double-counts.
  *
  * The store rides the full [[DedupState]]/[[graft.model.WaveManifest]]
  * lifecycle: per-batch waves commit to the manifest (legacy dirs are
  * seeded into the first commit), [[compact]] collapses the pinned
  * waves into ONE cell-merged compaction wave (cells ADD, so the merge
  * is exact and the serve answer is invariant — the small-files
  * lifecycle every other wave store already has), [[expire]] reclaims
  * unreferenced dirs, and serving pins the manifest snapshot so a
  * batch committing mid-read is invisible. A crash between the
  * compacted wave's data and its manifest commit leaves an invisible
  * wave the re-run overwrites — counts can never double.
  */
object CountMinStream {

  /** The cell-merge rule for compaction: (i, j) cells ADD exactly. */
  private val mergeCells: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame =
    df => df.groupBy(col("i"), col("j")).agg(sum(col("cnt")).as("cnt"))

  /** Maintain a CM sketch of `keyCol` at `path`, one cell-table
    * partition per micro-batch. Shape (d, w, seed) is the caller's
    * contract — every batch and every reader must agree on it.
    *
    * Batch dirs land at `base + epochId` with the run-scoped base from
    * [[WaveStream.storeBase]]: a SECOND run against the same path
    * with a fresh checkpoint restarts epoch ids at 0, and without the
    * base its overwrites of `batch=0..n` would silently clobber the
    * first run's cell tables — losing counts and breaking the
    * one-sided est ≥ true contract. A checkpoint RESTART keeps its
    * recorded base (the marker is keyed by the streaming queryId), so
    * replays still overwrite their own dirs. */
  def maintain(
      stream: DataFrame,
      keyCol: String,
      path: String,
      d: Int, w: Int, seed: Long = 42L,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[Row] =
    WaveStream.maintain(stream, path, trigger, compactEvery, mergeCells)(
      CountMin.sketch(_, keyCol, d, w, seed))

  /** The merged sketch over everything ingested so far — cell-wise sum
    * of the PINNED waves (manifest-less legacy stores scan every dir).
    * Kilobytes in, ≤ d·w rows out. */
  def rollup(spark: SparkSession, path: String): DataFrame =
    graft.model.WaveTable(path).read(spark)()
      .groupBy(col("i"), col("j"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Collapse the pinned waves into one cell-merged compaction wave —
    * the small-files lifecycle; serving is invariant (cells add). */
  def compact(spark: SparkSession, path: String): Long =
    graft.model.WaveTable(path).compactRows(spark, reduce = mergeCells)

  /** Retention: drop old manifest versions, reclaim unreferenced
    * `batch=` dirs. */
  def expire(spark: SparkSession, path: String,
      keepVersions: Int = 1): Seq[Long] =
    graft.model.WaveTable(path).expire(spark, keepVersions)

  /** Point-frequency estimates against the merged persisted sketch. */
  def estimate(spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String, d: Int, w: Int, seed: Long = 42L): DataFrame =
    CountMin.estimate(rollup(spark, path), keys, keyCol, d, w, seed)
}
