package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ext.Dedup

/** Streaming NEAR-dup filter for document ingestion — the streaming face
  * of [[graft.ext.Dedup.minhashLshPairsIncremental]]: each micro-batch
  * builds its own minhash index (one pass over the batch text), probes
  * the PERSISTED corpus index for near-dup pairs (corpus text is never
  * re-read — the index parquet is the only corpus state), drops batch
  * docs that match, and appends the survivors' index rows so later
  * batches dedup against them.
  *
  * State lives in the index parquet, NOT the Spark state store: the
  * stream is restartable from the files alone, survivors accumulate
  * across runs, and a batch compaction pass can rewrite the index
  * without touching the stream — the same per-run-upsert vs periodic-GC
  * split as the reference's ingestion (§2.10).
  *
  * Persistence is the [[DedupState]] wave-manifest discipline, shared
  * verbatim with [[FingerprintDedupStream]] (review r12 — this was the
  * last persisted index outside the snapshot discipline): dynamic
  * partition overwrite per `batch=<eff>` wave (at-least-once replay
  * idempotent), manifest commit after data, [[index]] = pinned snapshot
  * serve, [[compact]]/[[expire]] = small-files lifecycle + retention
  * with absorbed batch ids burned by the `#through=` watermark, and
  * run-scoped base offsets so a fresh checkpoint's epoch 0 lands past
  * everything already indexed. Pre-manifest indexes (legacy dirs) keep
  * working via the dir-listing fallback.
  *
  * Drop policy (deterministic): a batch doc is dropped iff it near-dup
  * pairs with any INDEXED doc or with a SMALLER-id doc of its own batch
  * ([[DedupState.droppedIds]]).
  */
object StreamingNearDup {

  private[streaming] def resolveBase(spark: SparkSession, indexPath: String,
      queryId: String): Long =
    DedupState.resolveBase(spark, indexPath, queryId)

  /** BATCH face of the filter: the rows of `batch` that survive the
    * SAME drop policy one micro-batch applies against a prebuilt corpus
    * [[Dedup.minhashIndex]] — near-dup evidence comes from
    * [[Dedup.minhashLshPairsIncremental]] (corpus text never re-read),
    * keep-min within the batch. Hash-gated by `q_neardup_filter`; the
    * streaming twin (micro-batches + persisted index accumulation) is
    * spec-gated with this as its per-batch semantics. */
  def filterBatch(
      corpusIdx: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 12,
      bandSize: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val batchIdx = Dedup.minhashIndex(batch, idCol, textCol,
      shingleN, numHashes).localCheckpoint()
    val pairs = Dedup.minhashLshPairsIncremental(corpusIdx, batchIdx,
      idCol, bandSize, threshold)
    batch.join(
      DedupState.droppedIds(pairs, batchIdx.select(col(idCol)), idCol),
      Seq(idCol), "left_anti")
  }

  /** One micro-batch of the filter, at its run-scoped EFFECTIVE batch id:
    * probe the pinned corpus snapshot, drop batch docs per the keep-min
    * policy, land `batch=<eff>` with the survivors' index rows, commit
    * the manifest. Calling this twice with the same `eff` is idempotent
    * — the at-least-once replay contract; a batch a compaction already
    * absorbed is a complete no-op.
    *
    * `gate` lets the caller run a batch-level admission check (the
    * QualityGate audit) CONCURRENTLY with the signature computation:
    * it is awaited after the read-only minhash checkpoint but before
    * the corpus probe and any write — a refused batch costs one
    * wasted signature job and touches neither index. */
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
      gate: () => Boolean = () => true): Unit = {
    val spark = batch.sparkSession
    if (DedupState.absorbed(spark, indexPath, eff)) return
    // the signature job runs CONCURRENTLY with the caller's gate audit
    // by design — but a malformed batch the audit is about to refuse
    // can CRASH tokenization first (advice r17). Await the gate on
    // failure: a refused batch still routes to quarantine (return
    // false-path) instead of killing the stream; a gate-PASSING
    // batch's signature failure is a real error and rethrows.
    val batchIdx =
      try Dedup.minhashIndex(batch, idCol, textCol,
        shingleN, numHashes).localCheckpoint()
      catch {
        case scala.util.control.NonFatal(e) =>
          if (!gate()) return
          throw e
      }
    if (!gate()) return
    val corpusIdx = DedupState.corpusFor(spark, indexPath, eff)
      .getOrElse(batchIdx.limit(0))
    val pairs = Dedup.minhashLshPairsIncremental(corpusIdx, batchIdx,
      idCol, bandSize, threshold).localCheckpoint()
    val dropped = DedupState.droppedIds(pairs,
      batchIdx.select(col(idCol)), idCol)
    val survivors = batch.join(dropped, Seq(idCol), "left_anti")
    val survivorIdx = batchIdx.join(dropped, Seq(idCol), "left_anti")
    // land the survivor-index wave CONCURRENTLY with the sinks (review
    // r16 #3): the sinks read `survivors`/`pairs`, which derive from
    // the checkpointed batch/pairs frames, not from the index write —
    // the two index families' waves are independent until each one's
    // own manifest commit, and every crash interleaving (neither /
    // either / both landed) is repaired by the at-least-once replay
    // rewriting both waves byte-identically under the same eff.
    graft.model.ConcurrentJobs.awaitAll(
      () => {
        graft.model.WaveTable(indexPath).write(survivorIdx, eff)
        DedupState.commitAndMaybeCompact(spark, indexPath, eff,
          compactEvery)
      },
      () => {
        onDuplicates(pairs, eff)
        onSurvivors(survivors, eff)
      })
  }

  /** The survivor index as a PINNED SNAPSHOT — the serve face for
    * external readers (downstream dedup jobs probing the accumulated
    * corpus); `pin` overrides the pointer for time travel. */
  def index(spark: SparkSession, indexPath: String,
      pin: Option[Seq[Long]] = None): DataFrame =
    graft.model.WaveTable(indexPath).read(spark, pin)()

  /** Collapse the pinned wave set into ONE compaction-space wave —
    * survivor rows are disjoint across waves (each doc survived exactly
    * one batch), so every later probe sees the identical corpus.
    * @return the new wave id */
  def compact(spark: SparkSession, indexPath: String): Long =
    graft.model.WaveTable(indexPath).compactRows(spark)

  /** Retention for the survivor index — reclaim every wave dir no
    * surviving manifest version references. */
  def expire(spark: SparkSession, indexPath: String,
      keepVersions: Int): Seq[Long] =
    graft.model.WaveTable(indexPath).expire(spark, keepVersions)

  /** @param indexPath  corpus index location (parquet; created on first
    *                    batch if absent)
    * @param onSurvivors (survivingDocs, effectiveBatchId) sink — receives
    *                    the batch rows that were NOT near-dups
    * @param onDuplicates (pairs, effectiveBatchId) sink — the (doc_a,
    *                    doc_b, jaccard) evidence for every dropped doc
    * @param compactEvery > 0 auto-compacts whenever the pinned wave
    *                    count reaches it (same foreachBatch thread — the
    *                    compactor never races ingest)
    */
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
  ): DataStreamWriter[Row] = {
    // the run-scoped base resolves on the run's first non-empty batch
    WaveStream.eachBatch(docs, indexPath, trigger) { (batch, eff) =>
      processBatch(batch, idCol, textCol, indexPath, shingleN, numHashes,
        bandSize, threshold, eff, onSurvivors, onDuplicates, compactEvery)
    }
  }
}
