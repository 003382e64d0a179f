package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance for the persisted IVF vector index — the DENSE
  * twin of [[IndexStream]], completing the wave unification review r11
  * asked for: each micro-batch of NEW vectors is assigned to the saved
  * quantizer's lists WITHOUT refitting ([[graft.ext.IvfIndex.assignTo]]
  * against the tiny persisted centroid table) and lands as its own
  * `batch=<wave>` partition via dynamic partition overwrite — so a
  * replayed micro-batch (foreachBatch is at-least-once) REPLACES its own
  * wave instead of double-writing neighbors into the lists, and a serve
  * through a [[graft.ext.IvfIndex.load]]-pinned snapshot never mixes an
  * in-flight wave in.
  *
  * Wave ids are `batchId + 1`: the quantizer must exist before the
  * stream starts (assignment needs centroids), so wave 0 is always the
  * [[graft.ext.IvfIndex.IvfModel.save]] build wave and streaming waves
  * slot after it without collision. The manifest commit lands AFTER the
  * wave's data (skipped on replay of an already-pinned wave) — the
  * [[IndexStream.appendBatch]] protocol exactly.
  *
  * Precondition (the append posture): vector ids must be new across
  * batches — re-ingesting an indexed vector duplicates it in its list.
  * Dedup upstream ([[StreamingDedup]]).
  */
object VectorIndexStream {

  /** Start the maintenance query. `vectors` is a STREAMING frame with
    * (idCol, vecCol); `path` must hold a saved index (the quantizer).
    * `compactEvery > 0` auto-compacts when the pinned wave count
    * reaches it (same foreachBatch thread — never races ingest). Epoch
    * ids are offset by the run-scoped [[WaveStream.indexBase]]. */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            path: String, checkpoint: String,
            compactEvery: Int = 0): StreamingQuery =
    WaveStream.start(vectors, path, checkpoint) { (batch, id, base) =>
      appendBatch(batch, idCol, vecCol, path, base + id, compactEvery)
    }

  /** One wave under `batch=<batchId + 1>` — the [[WaveStream
    * .appendBatch]] step over the index's single write path ([[graft
    * .ext.IvfIndex.appendSave]], i.e. [[graft.model.WaveTable.append]])
    * and assignment rule ([[graft.ext.IvfIndex.assignTo]], the
    * nearest-list rule every probe face applies), so the layout and
    * list choice cannot diverge between batch, incremental, and
    * streaming writers. Public so specs can drive replays directly. */
  def appendBatch(batch: DataFrame, idCol: String, vecCol: String,
                  path: String, batchId: Long,
                  compactEvery: Int = 0): Unit =
    WaveStream.appendBatch(batch, path, batchId + 1, compactEvery,
        graft.ext.IvfIndex.compact) {
      val model = graft.ext.IvfIndex.load(batch.sparkSession, path)
      graft.ext.IvfIndex.appendSave(path,
        graft.ext.IvfIndex.assignTo(model, batch, idCol, vecCol),
        batchId + 1)
    }

  /** Serve the streamed index: a fresh pinned [[graft.ext.IvfIndex
    * .load]] snapshot + the standard pruned probe — no serving changes,
    * the wave layout's whole point. */
  def serve(spark: SparkSession, path: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame =
    graft.ext.IvfIndex.search(
      graft.ext.IvfIndex.load(spark, path), queries, idCol, vecCol, k, nProbe)
}
