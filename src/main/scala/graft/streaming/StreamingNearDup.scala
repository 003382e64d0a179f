package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.Dedup

/** Streaming NEAR-dup filter for document ingestion — the text face of
  * the [[DedupState.NearDup]] cycle over
  * [[graft.ext.Dedup.minhashLshPairsIncremental]]: each micro-batch
  * builds its own minhash index (one pass over the batch text), probes
  * the PERSISTED corpus index for near-dup pairs (corpus text is never
  * re-read — the index parquet is the only corpus state), drops batch
  * docs that match, and appends the survivors' index rows so later
  * batches dedup against them.
  *
  * Drop policy (deterministic): a batch doc is dropped iff it near-dup
  * pairs with any INDEXED doc or with a SMALLER-id doc of its own batch
  * ([[DedupState.droppedIds]]).
  */
object StreamingNearDup extends DedupState.IndexFaces {

  private def nearDup(idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bandSize: Int, threshold: Double) =
    DedupState.NearDup(idCol,
      Dedup.minhashIndex(_, idCol, textCol, shingleN, numHashes),
      Dedup.minhashLshPairsIncremental(_, _, idCol, bandSize, threshold),
      indexable = lit(true))

  /** BATCH face against a prebuilt corpus [[Dedup.minhashIndex]]
    * ([[DedupState.NearDup.filterBatch]]), hash-gated by q_neardup_filter. */
  def filterBatch(
      corpusIdx: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 12,
      bandSize: Int = 4,
      threshold: Double = 0.7): DataFrame =
    nearDup(idCol, textCol, shingleN, numHashes, bandSize, threshold)
      .filterBatch(corpusIdx, batch)

  /** One micro-batch of the filter ([[DedupState.NearDup.ingest]]). */
  private[streaming] def processBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      shingleN: Int,
      numHashes: Int,
      bandSize: Int,
      threshold: Double,
      eff: Long,
      onSurvivors: (DataFrame, Long) => Unit,
      onDuplicates: (DataFrame, Long) => Unit,
      compactEvery: Int = 0,
      gate: () => Boolean = () => true): Unit =
    nearDup(idCol, textCol, shingleN, numHashes, bandSize, threshold)
      .ingest(batch, indexPath, eff, onSurvivors, onDuplicates,
        compactEvery, gate)

  /** The streaming filter ([[DedupState.NearDup.stream]]); its
    * duplicate evidence is (doc_a, doc_b, jaccard). */
  def filter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      shingleN: Int = 3,
      numHashes: Int = 12,
      bandSize: Int = 4,
      threshold: Double = 0.7,
      onSurvivors: (DataFrame, Long) => Unit,
      onDuplicates: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[Row] =
    nearDup(idCol, textCol, shingleN, numHashes, bandSize, threshold)
      .stream(docs, indexPath, trigger, onSurvivors, onDuplicates,
        compactEvery)
}
