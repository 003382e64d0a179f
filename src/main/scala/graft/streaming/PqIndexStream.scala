package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance for the persisted IVF-PQ index — the CODED
  * twin of [[VectorIndexStream]], closing the loop on the unified
  * persistence discipline: every index family this engine ships
  * (posting, dense IVF, dedup state, coded IVF-PQ) now has batch,
  * incremental, AND streaming write faces over one wave layout. Each
  * micro-batch of NEW vectors is encoded against the SAVED model
  * ([[graft.ext.IvfPq.load]]'s coarse + PQ codebook tables — never a
  * refit) and lands as its own `batch=<wave>` partition via dynamic
  * partition overwrite, so a replayed micro-batch (foreachBatch is
  * at-least-once) REPLACES its wave instead of double-writing codes,
  * and a serve through a load-pinned snapshot never mixes an
  * in-flight wave in.
  *
  * Wave ids are `batchId + 1`: the model must exist before the stream
  * starts (encoding needs the codebooks), so wave 0 is always the
  * [[graft.ext.IvfPq.save]] build wave and streaming waves slot after
  * it without collision. Manifest commit AFTER the wave's data,
  * skipped on replay of an already-pinned wave; auto-compaction waves
  * come from the disjoint id space — the [[IndexStream.appendBatch]]
  * protocol exactly.
  *
  * Precondition (the append posture): vector ids must be new across
  * batches — re-ingesting an indexed vector duplicates its codes.
  * Dedup upstream ([[StreamingDedup]]).
  */
object PqIndexStream {

  /** Start the maintenance query. `vectors` is a STREAMING frame with
    * (idCol, vecCol); `path` must hold a saved IVF-PQ index.
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
    * .appendBatch]] step: encode with the loaded model's codebooks (the
    * same coarse-routing + residual-assignment rule every other face
    * applies) and DELEGATE to [[graft.ext.IvfPq.appendSave]], the
    * single shared write path, so layout and code choice cannot diverge
    * between batch, incremental, and streaming writers. The step's
    * empty-batch skip also keeps an idle trigger away from encode, which
    * refuses an empty frame (loud by design on the batch face). Public
    * so specs can drive replays directly. */
  def appendBatch(batch: DataFrame, idCol: String, vecCol: String,
                  path: String, batchId: Long,
                  compactEvery: Int = 0): Unit =
    WaveStream.appendBatch(batch, path, batchId + 1, compactEvery,
        graft.ext.IvfPq.compact) {
      val model = graft.ext.IvfPq.load(batch.sparkSession, path).model
      graft.ext.IvfPq.appendSave(path,
        graft.ext.IvfPq.encode(batch, idCol, vecCol, model)
          .localCheckpoint(),
        batchId + 1)
    }

  /** Serve the streamed index: a fresh pinned snapshot + the standard
    * pruned ADC probe — no serving changes, the wave layout's point. */
  def serve(spark: SparkSession, path: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int,
            nProbe: Int): DataFrame =
    graft.ext.IvfPq.searchPruned(
      graft.ext.IvfPq.load(spark, path), queries, idCol, vecCol, k, nProbe)
}
