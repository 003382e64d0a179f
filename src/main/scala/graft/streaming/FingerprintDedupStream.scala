package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.Dedup

/** Streaming near-dup filter for ANY 63-bit fingerprint family — the
  * continuous-ingestion face the media modalities were missing (review
  * r12): [[StreamingNearDup]] gives text minhash a per-batch
  * index-probe filter; this gives the SAME shape to every fingerprint
  * source that pairs through [[Dedup.hammingPairs63]] —
  * [[graft.ext.ImageHash.dhash63]], [[graft.ext.AudioHash
  * .energyHash63]], [[graft.ext.VideoHash.contour63]], and
  * [[Dedup.simhash]] itself.
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
  * never silently dropped, never poisoning the corpus state.
  *
  * Persistence is [[DedupState]] verbatim — one wave-manifest
  * discipline across the text and media ingestion faces: pinned
  * snapshot serving ([[index]]), compaction with absorbed-id burn
  * ([[compact]]), retention ([[expire]]), run-scoped base offsets.
  * Batch face hash-gated by `q_image_neardup_filter`; the micro-batch
  * accumulation twin is spec-gated (FingerprintDedupStreamSpec).
  */
object FingerprintDedupStream {

  /** BATCH face: the rows of `batch` that survive one micro-batch's
    * drop policy against a prebuilt corpus fingerprint set
    * (`corpusFps`: (idCol, fpCol) rows, fingerprints already
    * extracted). Near-dup evidence comes from
    * [[Dedup.hammingPairs63Incremental]]; keep-min within the batch;
    * fingerprints < 0 (undecodable) never pair. */
  def filterBatch(
      corpusFps: DataFrame,
      batch: DataFrame,
      fingerprint: DataFrame => DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3): DataFrame = {
    val batchFps = fingerprint(batch)
      .select(col(idCol), col(fpCol)).localCheckpoint()
    val pairs = Dedup.hammingPairs63Incremental(
      corpusFps.filter(col(fpCol) >= 0L),
      batchFps.filter(col(fpCol) >= 0L), idCol, fpCol, maxHamming)
    batch.join(
      DedupState.droppedIds(pairs, batchFps.select(col(idCol)), idCol),
      Seq(idCol), "left_anti")
  }

  /** One micro-batch at its run-scoped EFFECTIVE id: extract
    * fingerprints once, probe the pinned corpus snapshot, drop per
    * keep-min, land the survivors' (id, fp) rows as `batch=<eff>`,
    * commit the manifest. Idempotent under replay; a no-op for absorbed
    * batches. */
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
      compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    if (DedupState.absorbed(spark, indexPath, eff)) return
    val batchFps = fingerprint(batch)
      .select(col(idCol), col(fpCol)).localCheckpoint()
    val corpusFps = DedupState.corpusFor(spark, indexPath, eff)
      .map(_.select(col(idCol), col(fpCol)))
      .getOrElse(batchFps.limit(0))
    val pairs = Dedup.hammingPairs63Incremental(
      corpusFps.filter(col(fpCol) >= 0L),
      batchFps.filter(col(fpCol) >= 0L), idCol, fpCol, maxHamming)
      .localCheckpoint()
    val dropped = DedupState.droppedIds(pairs,
      batchFps.select(col(idCol)), idCol)
    val survivors = batch.join(dropped, Seq(idCol), "left_anti")
    // corrupt rows survive the FILTER but stay out of the corpus state:
    // a −1 "fingerprint" matches nothing and must not accumulate
    val survivorFps = batchFps.filter(col(fpCol) >= 0L)
      .join(dropped, Seq(idCol), "left_anti")
    graft.model.WaveTable(indexPath).write(survivorFps, eff)
    DedupState.commitAndMaybeCompact(spark, indexPath, eff, compactEvery)
    onDuplicates(pairs, eff)
    onSurvivors(survivors, eff)
  }

  /** The fingerprint index as a PINNED SNAPSHOT — serve face for
    * external readers; `pin` overrides the pointer for time travel. */
  def index(spark: SparkSession, indexPath: String,
      pin: Option[Seq[Long]] = None): DataFrame =
    graft.model.WaveTable(indexPath).read(spark, pin)()

  /** Collapse the pinned wave set into ONE compaction-space wave.
    * @return the new wave id */
  def compact(spark: SparkSession, indexPath: String): Long =
    graft.model.WaveTable(indexPath).compactRows(spark)

  /** Retention — reclaim every wave dir no surviving manifest version
    * references. */
  def expire(spark: SparkSession, indexPath: String,
      keepVersions: Int): Seq[Long] =
    graft.model.WaveTable(indexPath).expire(spark, keepVersions)

  /** @param docs        STREAMING frame of raw media rows (idCol + the
    *                    columns `fingerprint` consumes)
    * @param fingerprint batch → (idCol, fpCol) extraction, run ONCE per
    *                    micro-batch (the only place media bytes are
    *                    decoded)
    * @param indexPath   fingerprint index location (created on first
    *                    batch if absent)
    * @param onSurvivors (survivingRows, effectiveBatchId) sink
    * @param onDuplicates (pairs, effectiveBatchId) sink — (doc_a,
    *                    doc_b, hamming) evidence for every dropped doc
    * @param compactEvery > 0 auto-compacts at that pinned wave count
    */
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
  ): DataStreamWriter[Row] = {
    WaveStream.eachBatch(docs, indexPath, trigger) { (batch, eff) =>
      processBatch(batch, fingerprint, idCol, fpCol, indexPath,
        maxHamming, eff, onSurvivors, onDuplicates, compactEvery)
    }
  }
}
