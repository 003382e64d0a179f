package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Expectations

/** The streaming END-TO-END curation pipeline (review r15 #6): the
  * batch funnel's serving chain composed as ONE micro-batch body —
  *
  *   source stream → [[QualityGate]]'s routing rule (audit the whole
  *   batch, quarantine on any violation) → [[StreamingNearDup]]'s
  *   per-batch near-dup filter against the persisted survivor index →
  *   [[IndexStream]]'s posting-index append of the survivors
  *
  * — so a corpus streamed file-by-file ends up IDENTICAL to running
  * the documented batch faces over the same micro-batch split
  * (spec-pinned end-to-end: the final streamed index serves
  * score-for-score what a one-shot [[graft.ext.PostingIndex.build]]
  * over the batch-face survivor corpus serves, through a
  * kill-and-resume with an at-least-once replay in the middle).
  *
  * Composition is INSIDE one foreachBatch, not three chained queries:
  * structured streaming cannot pipe one foreachBatch sink into
  * another's source, and a per-batch chain is exactly what gives the
  * stage-2/stage-3 writes a shared fate — a crash between them is
  * repaired by the replay (stage 2 rewrites its wave with identical
  * content and re-emits the same survivors; stage 3's guarded append
  * overwrites its own wave idempotently).
  *
  * State discipline: both persisted indexes (minhash survivor index,
  * posting index) live under the [[DedupState]] wave-manifest
  * snapshot rules with run-scoped base offsets — a restart from the
  * same checkpoint keeps its recorded bases (replay-idempotent), a
  * fresh checkpoint lands past everything already indexed.
  */
object CurationStream {

  /** Start the composed pipeline.
    * @param docs       STREAMING frame with (idCol, textCol) + whatever
    *                   columns the rules audit
    * @param rowRules   [[Expectations]] rules; ANY violation routes the
    *                   WHOLE batch to `quarantine` (the QualityGate
    *                   contract — a violating source is misbehaving)
    * @param dedupPath  minhash survivor index (created on first batch)
    * @param indexPath  posting index (created on first batch)
    * @param quarantine (dirtyBatch, rawBatchId, auditReport) sink
    * @param onSurvivors observation hook per landed batch */
  def start(docs: DataFrame, idCol: String, textCol: String,
      rowRules: Seq[Expectations.RowRule],
      dedupPath: String, indexPath: String, checkpoint: String,
      quarantine: (DataFrame, Long, Seq[Row]) => Unit = (_, _, _) => (),
      onSurvivors: (DataFrame, Long) => Unit = (_, _) => (),
      termBuckets: Int = 64, shingleN: Int = 3, numHashes: Int = 12,
      bandSize: Int = 4, threshold: Double = 0.7,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val dedupBase = WaveStream.storeBase(dedupPath)
    val postBase = WaveStream.indexBase(indexPath)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          // run-scoped bases, resolved once on the first non-empty batch
          val spark = batch.sparkSession
          processBatch(batch, id, idCol, textCol, rowRules, dedupPath,
            indexPath, dedupBase(spark), postBase(spark), quarantine,
            onSurvivors, termBuckets, shingleN, numHashes, bandSize,
            threshold)
        }
      }
      .start()
  }

  /** One micro-batch through all three stages — public so specs can
    * drive an at-least-once REPLAY directly (same raw id + bases =
    * byte-identical no-op against both indexes). */
  def processBatch(batch: DataFrame, rawId: Long, idCol: String,
      textCol: String, rowRules: Seq[Expectations.RowRule],
      dedupPath: String, indexPath: String, dedupBase: Long,
      postBase: Long,
      quarantine: (DataFrame, Long, Seq[Row]) => Unit,
      onSurvivors: (DataFrame, Long) => Unit,
      termBuckets: Int, shingleN: Int, numHashes: Int,
      bandSize: Int, threshold: Double): Unit = {
    batch.persist()
    try {
      // the whole-batch audit runs CONCURRENTLY with the dedup stage's
      // read-only signature checkpoint (review r16 #3 — they were two
      // sequential actions over the same cached batch); the gate is
      // awaited before the corpus probe, so a failing batch still
      // touches neither index and routes whole to quarantine
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import graft.model.ConcurrentJobs.ec
      val reportF =
        Future(Expectations.audit(batch, rowRules).collect().toSeq)
      def report = Await.result(reportF, Duration.Inf)
      def pass = report.forall(_.getAs[Boolean]("pass"))
      StreamingNearDup.processBatch(batch, idCol, textCol, dedupPath,
        shingleN, numHashes, bandSize, threshold,
        eff = dedupBase + rawId,
        onSurvivors = (surv, _) => {
          IndexStream.appendBatchGuarded(surv, idCol, textCol,
            indexPath, rawId, postBase, termBuckets)
          onSurvivors(surv, rawId)
        },
        onDuplicates = (_, _) => (),
        gate = () => pass)
      if (!pass) quarantine(batch, rawId, report)
    } finally { batch.unpersist(); () }
  }

  /** Serve the streamed corpus — the posting index's pinned-snapshot
    * BM25 face, unchanged. */
  def serve(spark: SparkSession, indexPath: String, terms: Seq[String],
      termBuckets: Int = 64): DataFrame =
    graft.ext.PostingIndex.scoreQuery(spark, indexPath, terms, termBuckets)
}
