package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming posting-index maintenance — the continuous-ingestion face
  * of [[graft.ext.PostingIndex]]: each micro-batch of NEW documents
  * lands as its own `batch=<id>` partition wave in all four index
  * tables, and [[graft.ext.PostingIndex.scoreQuery]] serves the
  * growing index unchanged (its df/stats reads aggregate across
  * waves; batches hold disjoint doc sets, so document frequencies and
  * corpus totals are sums).
  *
  * Replay idempotence is STRUCTURAL (the SketchStream discipline): a
  * wave writes with dynamic partition overwrite into `batch=<id>`, so
  * a replayed micro-batch — foreachBatch gives at-least-once, not
  * exactly-once — REPLACES its own partitions instead of doubling
  * postings. Nothing merges in place, nothing renames: every batch's
  * data is immutable once its trigger commits, which is also what
  * makes the wave layout compaction-friendly later
  * ([[graft.ext.PostingIndex.compact]] owns that job, run inline at
  * `compactEvery`).
  *
  * Precondition (the [[graft.ext.PostingIndex.append]] posture): doc
  * ids must be new across batches — re-ingesting an indexed doc
  * double-counts it. Dedup upstream ([[StreamingDedup]]).
  */
object IndexStream {

  /** Start the maintenance query. `docs` is a STREAMING frame with
    * (idCol, textCol). `compactEvery > 0` auto-compacts whenever the
    * pinned wave count reaches it (the small-files lifecycle inline in
    * the maintenance loop — same single foreachBatch thread, so the
    * compactor never races ingest).
    *
    * Epoch ids are offset by a RUN-SCOPED base ([[WaveStream.indexBase]]
    * — one slot past every pinned stream wave and the compaction
    * watermark), so a second run with a fresh checkpoint cannot
    * clobber the first run's waves.
    *
    * One-time migration hazard, now DETECTED (advice/VERDICT r14 #7):
    * a checkpoint created BEFORE the run-scoped mapping replays its
    * last uncommitted-by-checkpoint batch under a shifted wave id — if
    * that batch's docs were already committed under the OLD mapping
    * (wave = raw epoch id + 1), they would land twice (both waves
    * pinned, postings double-counted). [[appendBatchGuarded]] checks
    * exactly that case before writing: when the base is shifted AND
    * the un-shifted wave is pinned holding EXACTLY this batch's doc
    * set, the batch already landed pre-upgrade and the replay is
    * skipped idempotently. The check reads one partition-pruned
    * doclens wave only when both conditions can hold — normal batches
    * never pay it. A clean AvailableNow drain before upgrading remains
    * the zero-risk migration. */
  def start(docs: DataFrame, idCol: String, textCol: String,
            path: String, checkpoint: String,
            termBuckets: Int = 64, compactEvery: Int = 0): StreamingQuery =
    WaveStream.start(docs, path, checkpoint) { (batch, id, base) =>
      appendBatchGuarded(batch, idCol, textCol, path, id, base,
        termBuckets, compactEvery)
    }

  /** [[appendBatch]] under the run-scoped base, with the pre-upgrade
    * double-land detection described on [[start]]. Public so specs can
    * replay a pre-upgrade checkpoint directly. */
  def appendBatchGuarded(batch: DataFrame, idCol: String, textCol: String,
                         path: String, rawEpochId: Long, base: Long,
                         termBuckets: Int, compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    if (base > 0 &&
        alreadyLandedPreUpgrade(spark, path, rawEpochId + 1, batch, idCol))
      return
    appendBatch(batch, idCol, textCol, path, base + rawEpochId,
      termBuckets, compactEvery)
  }

  /** True iff wave `oldWave` (the PRE-run-scoped mapping of this epoch)
    * is pinned and its doclens doc set equals the batch's — the replay
    * already landed under the old mapping. Exact set equality, both
    * directions (a pinned wave from a DIFFERENT run that merely shares
    * some ids stays false and proceeds to the normal shifted write —
    * where the doc-ids-new-across-batches precondition governs, as
    * ever). A pinned wave with NO doclens dir at all (a tombstone-only
    * wave sharing the index's wave space, or a wave committed from an
    * empty micro-batch whose dynamic overwrite wrote no partition)
    * cannot be a pre-upgrade landing of THIS batch — route through
    * [[graft.model.WaveManifest.sideTableWaves]]'s tolerant existence
    * semantics and proceed with the normal shifted write, instead of
    * tripping readWaves' corrupted-index require (advice r16,
    * medium). */
  private[streaming] def alreadyLandedPreUpgrade(spark: SparkSession,
      path: String, oldWave: Long, batch: DataFrame,
      idCol: String): Boolean = {
    import org.apache.spark.sql.functions.col
    if (!graft.model.WaveManifest.pinned(spark, path)
        .exists(_.contains(oldWave))) return false
    // explicit pinned dir, not a root scan (WaveManifest.readWaves doc)
    val oldTbl = graft.model.WaveManifest
      .sideTableWaves(spark, path, "doclens", Some(Seq(oldWave)))
    if (oldTbl.isEmpty) return false
    val old = oldTbl.get.select(col("doc_id"))
    val ids = batch.select(col(idCol).as("doc_id")).distinct()
    ids.join(old, Seq("doc_id"), "left_anti").limit(1).count() == 0L &&
      old.join(ids, Seq("doc_id"), "left_anti").limit(1).count() == 0L
  }

  /** One wave under `batch=<batchId + 1>` — the [[WaveStream
    * .appendBatch]] step over [[graft.ext.PostingIndex.append]], the
    * index's single write path, so the bucket layout and tf semantics
    * cannot diverge between the batch, incremental, and streaming faces
    * (review r11 finding). The `+ 1` mirrors [[VectorIndexStream]]:
    * epoch ids start at 0, so a stream aimed at an index created by
    * [[graft.ext.PostingIndex.build]] would otherwise land its first
    * batch ON the build wave — the dynamic overwrite clobbers the built
    * doclens/terms/stats partitions and commitWave silently skips the
    * already-pinned wave 0 (review r12, medium). The manifest commit
    * lands AFTER the data wave (and is skipped on a replay of an
    * already-pinned wave), so a concurrent [[graft.ext.PostingIndex
    * .scoreQuery]] serve pins either the pre- or post-batch snapshot —
    * never a mix. Public so specs can drive replays directly. */
  def appendBatch(batch: DataFrame, idCol: String, textCol: String,
                  path: String, batchId: Long, termBuckets: Int,
                  compactEvery: Int = 0): Unit =
    WaveStream.appendBatch(batch, path, batchId + 1, compactEvery,
        graft.ext.PostingIndex.compact) {
      graft.ext.PostingIndex.append(batch, idCol, textCol, path,
        batchId + 1, termBuckets)
    }

  /** Serve the streamed index — [[graft.ext.PostingIndex.scoreQuery]]
    * verbatim; the wave layout needs no serving changes. */
  def serve(spark: SparkSession, path: String, terms: Seq[String],
            termBuckets: Int = 64): DataFrame =
    graft.ext.PostingIndex.scoreQuery(spark, path, terms, termBuckets)
}
