package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The foreachBatch shell of every stream that maintains a wave store
  * ([[graft.model.WaveTable]]): the run-scoped base offset, and the
  * per-batch step — absorbed-replay no-op, empty-batch skip, wave commit
  * and auto-compaction — of the persisted-index streams
  * ([[IndexStream]], [[VectorIndexStream]], [[PqIndexStream]]) and the
  * single-table sketch stores ([[SketchStream]], [[CountMinStream]],
  * [[FrequentStream]]).
  */
private[streaming] object WaveStream {

  /** A streaming run's base offset, resolved once — on the run's first
    * batch, through [[DedupState.resolveBaseWith]] under the streaming
    * query id — and cached for the run. foreachBatch executes serially
    * on the stream's execution thread, where Spark sets the
    * `sql.streaming.queryId` local property. `fresh` is the base an
    * unseen query id gets. */
  final class RunBase(path: String, fresh: SparkSession => Long) {
    private val ref = new AtomicLong(Long.MinValue)

    def apply(spark: SparkSession): Long = {
      if (ref.get == Long.MinValue)
        ref.set(DedupState.resolveBaseWith(spark, path,
          DedupState.queryId(spark), fresh(spark)))
      ref.get
    }
  }

  /** The base of a single-table stream store ([[DedupState.resolveBase]]:
    * one past every stream-space `batch=` dir and the watermark). */
  def storeBase(path: String): RunBase =
    new RunBase(path, DedupState.storeRunBase(_, path))

  /** The base of a manifest-backed index stream, in epoch-id space
    * ([[DedupState.indexRunBase]]): a second run with a fresh checkpoint
    * restarts epoch ids at 0, and without the base its dynamic
    * overwrites would clobber the first run's waves 1..n. A checkpoint
    * restart keeps its marker-recorded base, preserving replay
    * idempotence. */
  def indexBase(path: String): RunBase =
    new RunBase(path, DedupState.indexRunBase(_, path))

  /** A sink that runs `step(batch, base + epochId)` for every batch with
    * rows, under the run's [[storeBase]] for the single-table store at
    * `path`. */
  def eachBatch(stream: DataFrame, path: String, trigger: Trigger)(
      step: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val base = storeBase(path)
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) step(batch, base(batch.sparkSession) + id)
      }
  }

  /** Maintain a single-table store at `path` whose waves are a pure
    * function of their batch (`rows`): each batch with rows lands as its
    * own wave unless a compaction already absorbed it (a replay — its
    * rows live in the compacted wave), then commits and compacts
    * through [[DedupState.commitAndMaybeCompact]] (`reduce` merges rows
    * in the rewrite). A replay overwrites its own wave, so at-least-once
    * delivery never double-counts. */
  def maintain(stream: DataFrame, path: String, trigger: Trigger,
      compactEvery: Int, reduce: DataFrame => DataFrame = identity)(
      rows: DataFrame => DataFrame): DataStreamWriter[Row] =
    eachBatch(stream, path, trigger) { (batch, eff) =>
      val spark = batch.sparkSession
      if (!DedupState.absorbed(spark, path, eff)) {
        graft.model.WaveTable(path).write(rows(batch), eff)
        DedupState.commitAndMaybeCompact(spark, path, eff, compactEvery,
          reduce)
      }
    }

  /** Start the maintenance query of the index at `path`: every
    * micro-batch runs `step(batch, epochId, base)` under the run's
    * [[indexBase]]. */
  def start(stream: DataFrame, path: String, checkpoint: String)(
      step: (DataFrame, Long, Long) => Unit): StreamingQuery = {
    val base = indexBase(path)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        step(batch, id, base(batch.sparkSession))
      }
      .start()
  }

  /** One micro-batch as wave `wave` of the index at `path`. A no-op
    * when a compaction already ABSORBED the wave (a replay: its rows
    * live in the compacted wave, and re-landing them would leave an
    * unreferenced dir) or when the batch has no rows (an idle trigger,
    * or an upstream filter that removed every row: committing it would
    * spin a manifest version, and at `compactEvery` a whole compaction,
    * per idle trigger; the gap in wave ids is fine with the manifest).
    * Otherwise `append` lands and commits the wave (the index's
    * [[graft.model.WaveTable.append]] face), and the index is compacted
    * once its pinned wave count reaches `compactEvery` (> 0; same
    * foreachBatch thread, so the compactor never races ingest). */
  def appendBatch(batch: DataFrame, path: String, wave: Long,
      compactEvery: Int, compact: (SparkSession, String) => Long)(
      append: => Unit): Unit = {
    val spark = batch.sparkSession
    if (DedupState.absorbed(spark, path, wave) || batch.isEmpty) return
    append
    if (graft.model.WaveTable(path).compactDue(spark, compactEvery)) {
      compact(spark, path)
      ()
    }
  }
}
