package graft.streaming

import graft.SparkSpec
import graft.ext.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The modality-blind streaming near-dup filter over 63-bit
  * fingerprints: micro-batches must apply exactly the batch face's
  * drop policy, the persisted index must accumulate under the shared
  * wave-manifest discipline, and corrupt (fp < 0) rows must pass
  * through without ever entering the corpus state. */
class FingerprintDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  // fingerprints with engineered Hamming structure:
  // batch 0: 2 is 1 bit from 1 (in-batch drop); 3 is far (survives)
  private val b0 = Seq((1L, 0L), (2L, 1L), (3L, 0x7777777L))
  // batch 1: 4 is 2 bits from INDEXED 1 (drops); 5 is far (survives);
  //          6 is 1 bit from in-batch 5 (drops); 7 is CORRUPT (fp −1:
  //          survives the filter, stays out of the index)
  private val b1 = Seq((4L, 6L), (5L, 0x5A5A5A5A5L),
    (6L, 0x5A5A5A5A4L), (7L, -1L))

  private val ident: DataFrame => DataFrame =
    df => df.select(col("doc_id"), col("fp"))

  test("incremental pairs ≡ full hammingPairs63 restricted to " +
      "batch-touching pairs") {
    val corpus = b0.toDF("doc_id", "fp")
    val batch = b1.filter(_._2 >= 0).toDF("doc_id", "fp")
    val incr = Dedup.hammingPairs63Incremental(corpus, batch,
      "doc_id", "fp", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val batchIds = b1.map(_._1).toSet
    val full = Dedup.hammingPairs63(
      corpus.unionByName(batch).localCheckpoint(), "doc_id", "fp",
      maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    assert(incr == full && incr.nonEmpty)
    assert(incr.contains((1L, 4L, 2)) && incr.contains((5L, 6L, 1)))
  }

  test("batch face: keep-min drop policy; corrupt rows survive but " +
      "never pair") {
    val corpus = b0.toDF("doc_id", "fp")
    val out = FingerprintDedupStream.filterBatch(corpus,
      b1.toDF("doc_id", "fp"), ident, "doc_id", "fp", maxHamming = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(5L, 7L))
  }

  test("two micro-batches ≡ sequential batch faces; index accumulates; " +
      "replay is idempotent; corrupt fps stay out of the index") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("fpdedup").toString + "/idx"
    val mem = MemoryStream[(Long, Long)]
    var survived = Map.empty[Long, Vector[Long]]
    val q = FingerprintDedupStream.filter(
      mem.toDF().toDF("doc_id", "fp"), ident, "doc_id", "fp", dir,
      maxHamming = 3,
      onSurvivors = (df, id) => survived += id ->
        df.select("doc_id").as[Long].collect().toVector.sorted,
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
      mem.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()
    // batch 0: 2 drops against in-batch 1
    assert(survived(0L) == Vector(1L, 3L), survived.toString)
    // batch 1: 4 drops vs indexed 1; 6 drops vs in-batch 5; corrupt 7
    // passes through
    assert(survived(1L) == Vector(5L, 7L), survived.toString)
    // the index holds exactly the decodable survivors' fingerprints
    val idx = FingerprintDedupStream.index(spark, dir)
    assert(idx.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L))
    assert(idx.filter(col("fp") < 0).count() == 0L)
    // replay batch 1 directly: same survivors, index unchanged
    FingerprintDedupStream.processBatch(b1.toDF("doc_id", "fp"), ident,
      "doc_id", "fp", dir, maxHamming = 3, eff = 1L,
      onSurvivors = (df, id) => survived += id ->
        df.select("doc_id").as[Long].collect().toVector.sorted,
      onDuplicates = (_, _) => ())
    assert(survived(1L) == Vector(5L, 7L))
    assert(FingerprintDedupStream.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
  }

  test("crash-after-wave replay is clean; auto-compaction keeps the " +
      "corpus intact; absorbed replays are no-ops") {
    val dir = java.nio.file.Files
      .createTempDirectory("fpdedup2").toString + "/idx"
    def drive(data: Seq[(Long, Long)], eff: Long,
        sink: Vector[Long] => Unit = _ => ()): Unit =
      FingerprintDedupStream.processBatch(data.toDF("doc_id", "fp"),
        ident, "doc_id", "fp", dir, maxHamming = 3, eff = eff,
        onSurvivors = (df, _) =>
          sink(df.select("doc_id").as[Long].collect().toVector.sorted),
        onDuplicates = (_, _) => (), compactEvery = 2)
    drive(b0, 0L)
    // the worst crash point: wave 0 landed AND its manifest committed,
    // but the streaming checkpoint did not — the replay must overwrite
    // wave 0 identically, not double it
    drive(b0, 0L)
    assert(FingerprintDedupStream.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    // batch 1 commits, pinned count hits compactEvery = 2 → compaction
    drive(b1, 1L)
    assert(graft.model.WaveManifest.pinned(spark, dir).get ===
      Seq(graft.model.WaveManifest.CompactBase))
    assert(FingerprintDedupStream.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // a replay of the ABSORBED batch 1 is a complete no-op
    var called = false
    drive(b1, 1L, _ => called = true)
    assert(!called)
    assert(FingerprintDedupStream.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // a further batch still dedups against the compacted corpus:
    // 8 is 1 bit from compacted 3 → drops; 9 survives
    var last = Vector.empty[Long]
    drive(Seq((8L, 0x7777776L), (9L, 0x123450000L)), 2L, v => last = v)
    assert(last == Vector(9L))
    // and a fresh run bases itself past the burned watermark
    assert(DedupState.resolveBase(spark, dir, "qFresh") == 3L)
  }

  test("a fingerprint extraction that throws propagates and leaves the " +
      "index untouched") {
    val dir = java.nio.file.Files
      .createTempDirectory("fpdedup3").toString + "/idx"
    var sinkCalls = 0
    def drive(fingerprint: DataFrame => DataFrame, data: Seq[(Long, Long)],
        eff: Long): Unit =
      FingerprintDedupStream.processBatch(data.toDF("doc_id", "fp"),
        fingerprint, "doc_id", "fp", dir, maxHamming = 3, eff = eff,
        onSurvivors = (_, _) => sinkCalls += 1,
        onDuplicates = (_, _) => sinkCalls += 1)
    drive(ident, b0, 0L)
    def state = (graft.model.WaveManifest.latestVersion(spark, dir),
      new java.io.File(dir).list().filter(_.startsWith("batch=")).toSeq.sorted,
      sinkCalls)
    val before = state
    intercept[IllegalStateException](drive(
      _ => throw new IllegalStateException("undecodable batch"), b1, 1L))
    assert(state == before, state.toString)
  }
}
