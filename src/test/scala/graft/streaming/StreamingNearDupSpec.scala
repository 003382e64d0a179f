package graft.streaming

import graft.SparkSpec
import graft.ext.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val other =
    "fresh second batch content with many novel tokens inside it"

  // near-dups are NORMALIZATION-identical (case/whitespace), so their
  // shingle sets — and band signatures — are equal: the LSH pair is
  // guaranteed, not a function of band recall on this fixture.
  // batch 0: 2 is a near-dup of 1; 3 is distinct.
  private val b0 = Seq(
    (1L, base),
    (2L, base.toUpperCase),
    (3L, "totally different words entirely here now today yes ok fine"))
  // batch 1: 4 is a near-dup of (already indexed) 1; 5 is distinct;
  //          6 is a near-dup of 5 within the same batch.
  private val b1 = Seq(
    (4L, base.replace(" ", "  ")),
    (5L, other),
    (6L, other.toUpperCase))

  test("two micro-batches ≡ sequential incremental calls; index accumulates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString + "/idx"
    val mem = MemoryStream[(Long, String)]
    var survived = Map.empty[Long, Vector[Long]]
    val q = StreamingNearDup.filter(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
      threshold = 0.5,
      onSurvivors = (df, id) =>
        survived += id -> df.select("doc_id").as[Long].collect().toVector.sorted,
      trigger = Trigger.ProcessingTime("0 seconds")).start()
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
      mem.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()

    // batch 0: doc 2 drops against doc 1 (in-batch, smaller id)
    assert(survived(0L) == Vector(1L, 3L), survived.toString)
    // batch 1: 4 drops vs indexed 1; 6 drops vs in-batch 5
    assert(survived(1L) == Vector(5L), survived.toString)

    // the persisted index holds exactly the survivors of both batches
    val idx = spark.read.parquet(dir)
    assert(idx.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))

    // cross-check the evidence path: probing the final index with doc 4
    // again still reports the 4~1 pair
    val probe = Dedup.minhashIndex(Seq((4L, base)).toDF("doc_id", "text"),
      "doc_id", "text", 3, 12)
    val pairs = Dedup.minhashLshPairsIncremental(idx, probe, "doc_id",
      bandSize = 4, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("fresh-checkpoint second run dedups against the corpus, never clobbers it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("neardup2").toString + "/idx"
    var calls = Vector.empty[(Long, Vector[Long])]
    def runOnce(data: Seq[(Long, String)]): Unit = {
      val mem = MemoryStream[(Long, String)]
      mem.addData(data: _*)
      val q = StreamingNearDup.filter(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
        threshold = 0.5,
        onSurvivors = (df, id) =>
          calls :+= id -> df.select("doc_id").as[Long].collect().toVector.sorted)
        .start()
      q.awaitTermination(60000)
    }
    runOnce(b0)
    // a NEW query (fresh checkpoint) restarts Spark's epoch ids at 0;
    // the run-scoped base must map its first batch PAST batch=0, so new
    // docs dedup against the accumulated corpus instead of silently
    // replacing it
    runOnce(Seq((10L, base.replace(" ", "   ")), (11L, other)))
    // run 1 reported at effective batch 0; run 2 at effective batch 1,
    // where doc 10 dropped against INDEXED doc 1 and doc 11 survived
    assert(calls == Vector(0L -> Vector(1L, 3L), 1L -> Vector(11L)),
      calls.toString)
    // the corpus accumulated across runs — run 1's survivors intact,
    // run 2's appended under its own batch partition
    val idx = spark.read.parquet(dir)
    assert(idx.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 11L))
    assert(idx.select("batch").as[Int].collect().toSet == Set(0, 1))
  }

  test("replayed batch id is idempotent: same corpus state, dir overwritten") {
    val dir = java.nio.file.Files.createTempDirectory("neardup3").toString + "/idx"
    var calls = Vector.empty[(Long, Vector[Long])]
    def once(): Unit = StreamingNearDup.processBatch(
      b0.toDF("doc_id", "text"), "doc_id", "text", dir,
      shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
      eff = 0L,
      onSurvivors = (df, id) =>
        calls :+= id -> df.select("doc_id").as[Long].collect().toVector.sorted,
      onDuplicates = (_, _) => ())
    once()
    // at-least-once replay: the same effective batch re-arrives with its
    // index dir already written by the first attempt
    once()
    // both attempts report the same survivors, and the index holds ONE
    // copy of them (dir overwritten, not double-appended)
    assert(calls == Vector(0L -> Vector(1L, 3L), 0L -> Vector(1L, 3L)),
      calls.toString)
    val idx = spark.read.parquet(dir)
    assert(idx.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  private def runBatch(dir: String, data: Seq[(Long, String)], eff: Long,
      onSurvivors: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => (),
      compactEvery: Int = 0): Unit =
    StreamingNearDup.processBatch(
      data.toDF("doc_id", "text"), "doc_id", "text", dir,
      shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
      eff = eff, onSurvivors = onSurvivors, onDuplicates = (_, _) => (),
      compactEvery = compactEvery)

  test("upgrading a LEGACY (pre-manifest) index: the first commit pins " +
      "every legacy wave — cross-batch dedup and serving keep the " +
      "accumulated corpus") {
    val dir = java.nio.file.Files.createTempDirectory("neardup-legacy")
      .toString + "/idx"
    // build a pre-manifest index: batch dirs only, manifest stripped —
    // exactly the layout every pre-upgrade StreamingNearDup index has
    runBatch(dir, b0, 0L)
    val mdir = new java.io.File(s"$dir/_manifest")
    mdir.listFiles().foreach(f => assert(f.delete()))
    assert(mdir.delete())
    assert(graft.model.WaveManifest.pinned(spark, dir).isEmpty)
    // first post-upgrade batch: doc 4 must still drop against LEGACY
    // doc 1, and the FIRST manifest commit must pin wave 0 alongside
    // wave 1 — pinning only the new wave would hide the accumulated
    // corpus from every later batch (review r13, high)
    var calls = Vector.empty[(Long, Vector[Long])]
    runBatch(dir, b1, 1L, (df, id) =>
      calls :+= id -> df.select("doc_id").as[Long].collect().toVector.sorted)
    assert(calls == Vector(1L -> Vector(5L)), calls.toString)
    assert(graft.model.WaveManifest.pinned(spark, dir).get == Seq(0L, 1L))
    // the pinned serve face sees legacy survivors too
    assert(StreamingNearDup.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // and the NEXT batch's corpus probe resolves via the manifest and
    // still dedups against the legacy wave
    runBatch(dir, Seq((20L, base.replace(" ", "    ")),
      (21L, "entirely fresh text that matches no indexed document")),
      2L, (df, id) => calls :+= id ->
        df.select("doc_id").as[Long].collect().toVector.sorted)
    assert(calls.last == 2L -> Vector(21L), calls.toString)
  }

  test("a reader pinned BEFORE a batch answers the pre-batch snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("neardup5").toString + "/idx"
    runBatch(dir, b0, 0L)
    // resolve the pointer as an external reader would, BEFORE batch 1
    val pin = graft.model.WaveManifest.pinned(spark, dir)
    assert(pin.contains(Seq(0L)))
    runBatch(dir, b1, 1L)
    // the pinned read still answers the batch-0 survivor set even
    // though batch 1 committed mid-"query"; an unpinned read sees both
    assert(StreamingNearDup.index(spark, dir, pin)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(StreamingNearDup.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L))
  }

  test("compaction preserves the corpus; absorbed replays are no-ops; " +
      "new batches still dedup against the compacted waves") {
    val dir = java.nio.file.Files.createTempDirectory("neardup6").toString + "/idx"
    var calls = Vector.empty[(Long, Vector[Long])]
    val sink = (df: org.apache.spark.sql.DataFrame, id: Long) =>
      calls :+= id -> df.select("doc_id").as[Long].collect().toVector.sorted
    runBatch(dir, b0, 0L, sink)
    runBatch(dir, b1, 1L, sink)
    val before = StreamingNearDup.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val newWave = StreamingNearDup.compact(spark, dir)
    assert(newWave == graft.model.WaveManifest.CompactBase)
    assert(StreamingNearDup.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == before)
    StreamingNearDup.expire(spark, dir, keepVersions = 1)
    // only the compacted wave's dir survives on disk
    val dirs = Option(new java.io.File(dir).listFiles()).get
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirs == Seq(s"batch=$newWave"))
    // an at-least-once replay of an ABSORBED batch is a complete no-op:
    // no callback, no dirty dir, nothing double-counted
    val callsBefore = calls
    runBatch(dir, b0, 0L, sink)
    assert(calls == callsBefore)
    assert(Option(new java.io.File(dir).listFiles()).get
      .map(_.getName).filter(_.startsWith("batch=")).toSeq ==
      Seq(s"batch=$newWave"))
    // a NEW batch dedups against the compacted corpus: doc 20 is a
    // near-dup of (compacted) doc 1 and drops; doc 21 survives
    runBatch(dir, Seq((20L, base.replace(" ", "    ")),
      (21L, "entirely novel content appearing nowhere else in any batch")),
      2L, sink)
    assert(calls.last == 2L -> Vector(21L), calls.toString)
    assert(StreamingNearDup.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == before + 21L)
    // and a fresh run bases itself past the burned watermark, not at 0
    assert(DedupState.resolveBase(spark, dir, "qFresh") == 3L)
  }

  test("auto-compaction in the maintenance loop never loses survivors") {
    val dir = java.nio.file.Files.createTempDirectory("neardup7").toString + "/idx"
    // compactEvery = 2: batch 1 triggers a compaction of waves {0, 1};
    // batch 2 (wave 2 > watermark 1) must pass the guard, not overwrite
    // the compacted wave, and still dedup against everything
    runBatch(dir, b0, 0L, compactEvery = 2)
    runBatch(dir, b1, 1L, compactEvery = 2)
    assert(graft.model.WaveManifest.pinned(spark, dir).get ===
      Seq(graft.model.WaveManifest.CompactBase))
    var last = Vector.empty[Long]
    runBatch(dir, Seq((30L, base.replace(" ", "     ")),
      (31L, "wholly new words that collide with no indexed document")),
      2L, (df, _) => last = df.select("doc_id").as[Long].collect()
        .toVector.sorted, compactEvery = 2)
    assert(last == Vector(31L))
    assert(StreamingNearDup.index(spark, dir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 5L, 31L))
  }

  test("an index build that throws awaits the gate: a refused batch " +
      "returns cleanly, a passing one rethrows; neither touches the index") {
    val dir = java.nio.file.Files.createTempDirectory("neardup8").toString + "/idx"
    runBatch(dir, b0, 0L)
    def state = (graft.model.WaveManifest.latestVersion(spark, dir),
      new java.io.File(dir).list().filter(_.startsWith("batch=")).toSeq.sorted)
    val before = state
    var sinkCalls = 0
    var gateCalls = 0
    // no text column: the minhash index step fails at analysis
    def malformed(gate: Boolean): Unit = StreamingNearDup.processBatch(
      Seq(7L, 8L).toDF("doc_id"), "doc_id", "text", dir,
      shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
      eff = 1L, onSurvivors = (_, _) => sinkCalls += 1,
      onDuplicates = (_, _) => sinkCalls += 1,
      gate = () => { gateCalls += 1; gate })
    malformed(gate = false)
    assert(gateCalls == 1 && sinkCalls == 0)
    assert(state == before, state.toString)
    intercept[org.apache.spark.sql.AnalysisException](malformed(gate = true))
    assert(gateCalls == 2 && sinkCalls == 0)
    assert(state == before, state.toString)
  }

  test("resolveBase: restart keeps a query's base; a new query lands past the index") {
    val dir = java.nio.file.Files.createTempDirectory("neardup4").toString + "/idx"
    // empty index: first query starts at base 0
    assert(DedupState.resolveBase(spark, dir, "qA") == 0L)
    // simulate qA having written batches 0..2
    Seq((1L, base)).toDF("doc_id", "text").write
      .parquet(s"$dir/batch=2")
    // checkpoint restart of qA: the recorded base wins, so a replayed
    // epoch rewrites the SAME dir it wrote before
    assert(DedupState.resolveBase(spark, dir, "qA") == 0L)
    // a different query (fresh checkpoint, epochs from 0) is based past
    // every existing batch
    assert(DedupState.resolveBase(spark, dir, "qB") == 3L)
    // and that assignment is itself sticky across qB's restarts
    assert(DedupState.resolveBase(spark, dir, "qB") == 3L)
  }
}
