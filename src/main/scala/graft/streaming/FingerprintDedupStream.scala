package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.Dedup

/** Streaming near-dup filter for ANY 63-bit fingerprint family — the
  * media face of the [[DedupState.NearDup]] cycle [[StreamingNearDup]]
  * runs for text minhash, for every fingerprint source that pairs
  * through [[Dedup.hammingPairs63]] — [[graft.ext.ImageHash.dhash63]],
  * [[graft.ext.AudioHash.energyHash63]], [[graft.ext.VideoHash
  * .contour63]], and [[Dedup.simhash]] itself.
  *
  * The caller supplies the `fingerprint` extraction (a batch of raw
  * media rows → one (id, fp) row each — e.g. [[graft.ext.ImageHash
  * .fingerprints]] over a decoded [[graft.ext.Multimodal.MediaRow]]
  * frame); everything downstream is modality-blind: probe the persisted
  * fingerprint index with [[Dedup.hammingPairs63Incremental]] (corpus
  * media bytes are never re-decoded — the index parquet holds only
  * (id, fp) and is the whole corpus state), drop batch docs under the
  * shared keep-min policy ([[DedupState.droppedIds]]), land survivors'
  * fingerprints as the batch's wave.
  *
  * Undecodable media (fingerprint < 0, the [[graft.ext.ImageHash
  * .fingerprints]] −1 convention) never pairs and never enters the
  * index: corrupt bytes pass through as survivors — loud in the output,
  * never silently dropped, never poisoning the corpus state. Batch face
  * hash-gated by `q_image_neardup_filter`; the micro-batch accumulation
  * twin is spec-gated (FingerprintDedupStreamSpec).
  */
object FingerprintDedupStream extends DedupState.IndexFaces {

  private def nearDup(fingerprint: DataFrame => DataFrame, idCol: String,
      fpCol: String, maxHamming: Int) =
    DedupState.NearDup(idCol,
      fingerprint(_).select(col(idCol), col(fpCol)),
      Dedup.hammingPairs63Incremental(_, _, idCol, fpCol, maxHamming),
      indexable = col(fpCol) >= 0L)

  /** BATCH face ([[DedupState.NearDup.filterBatch]]); `corpusFps` holds
    * (idCol, fpCol) rows, fingerprints already extracted. */
  def filterBatch(
      corpusFps: DataFrame,
      batch: DataFrame,
      fingerprint: DataFrame => DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3): DataFrame =
    nearDup(fingerprint, idCol, fpCol, maxHamming)
      .filterBatch(corpusFps, batch)

  /** One micro-batch ([[DedupState.NearDup.ingest]]). */
  private[streaming] def processBatch(
      batch: DataFrame,
      fingerprint: DataFrame => DataFrame,
      idCol: String,
      fpCol: String,
      indexPath: String,
      maxHamming: Int,
      eff: Long,
      onSurvivors: (DataFrame, Long) => Unit,
      onDuplicates: (DataFrame, Long) => Unit,
      compactEvery: Int = 0): Unit =
    nearDup(fingerprint, idCol, fpCol, maxHamming)
      .ingest(batch, indexPath, eff, onSurvivors, onDuplicates,
        compactEvery, () => true)

  /** @param docs        STREAMING frame of raw media rows (idCol + the
    *                    columns `fingerprint` consumes)
    * @param fingerprint batch → (idCol, fpCol) extraction, run ONCE per
    *                    micro-batch (the only place media bytes are
    *                    decoded)
    * The other parameters: [[DedupState.NearDup.stream]]; the duplicate
    * evidence is (doc_a, doc_b, hamming). */
  def filter(
      docs: DataFrame,
      fingerprint: DataFrame => DataFrame,
      idCol: String,
      fpCol: String,
      indexPath: String,
      maxHamming: Int = 3,
      onSurvivors: (DataFrame, Long) => Unit,
      onDuplicates: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[Row] =
    nearDup(fingerprint, idCol, fpCol, maxHamming)
      .stream(docs, indexPath, trigger, onSurvivors, onDuplicates,
        compactEvery)
}
