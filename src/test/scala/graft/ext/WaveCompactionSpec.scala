package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import graft.model.WaveManifest
import org.apache.spark.sql.functions._
import scala.util.Random

/** Wave compaction + retention for both manifest-pinned indexes: N
  * micro-batch waves collapse to one (small-files lifecycle), serving
  * is bit-identical across the swap, old waves survive for pinned
  * readers until the index's `expire` reclaims them.
  */
class WaveCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark join table scan fast"),
    (2L, "slow table scan table scan"),
    (3L, "spark spark join"),
    (4L, "nothing relevant here at all"),
    (5L, "join")).toDF("doc_id", "text")
  private val terms = Seq("spark", "table", "join")

  private def freshPath() = Files.createTempDirectory("wave_cmp_").toString

  private def serveRows(path: String,
      pin: Option[Seq[Long]] = None) =
    PostingIndex.scoreQuery(spark, path, terms, termBuckets = 8, pin = pin)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        (2 to 4).map(r.getLong), r.getDouble(5))).sortBy(_._1).toSeq

  private def waveDirs(path: String, table: String): Seq[String] =
    Option(new java.io.File(s"$path/$table").listFiles()).getOrElse(Array())
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq

  test("posting compaction: serve is bit-identical, waves collapse to " +
      "one, expire reclaims the old waves") {
    val path = freshPath()
    PostingIndex.build(docs.filter($"doc_id" <= 2), "doc_id", "text",
      path, termBuckets = 8)
    PostingIndex.append(docs.filter($"doc_id" === 3L || $"doc_id" === 4L),
      "doc_id", "text", path, wave = 1L, termBuckets = 8)
    PostingIndex.append(docs.filter($"doc_id" === 5L), "doc_id", "text",
      path, wave = 2L, termBuckets = 8)
    val before = serveRows(path)
    val newWave = PostingIndex.compact(spark, path)
    // compaction ids come from the DISJOINT space above CompactBase —
    // `waves.max + 1` would be the next micro-batch's id (review r12)
    assert(newWave == WaveManifest.CompactBase)
    assert(WaveManifest.pinned(spark, path).contains(Seq(newWave)))
    assert(serveRows(path) === before) // bit-for-bit across the swap
    // the compacted stats/terms tables hold ONE wave of summed rows
    assert(spark.read.parquet(s"$path/stats")
      .filter($"batch" === newWave).count() == 1L)
    // old waves still serve pinned readers (time travel to v2 = {0,1,2})
    val v2 = WaveManifest.wavesAt(spark, path, 2L)
    assert(v2 === Seq(0L, 1L, 2L))
    assert(serveRows(path, pin = Some(v2)) === before)
    // retention: keep only the latest manifest version → waves 0-2 go
    val deleted = PostingIndex.expire(spark, path, keepVersions = 1)
    assert(deleted === Seq(0L, 1L, 2L))
    Seq("postings", "doclens", "terms", "stats").foreach { t =>
      assert(waveDirs(path, t) === Seq(s"batch=$newWave"),
        s"stale waves in $t")
    }
    assert(serveRows(path) === before) // the live snapshot is untouched
    assert(WaveManifest.versions(spark, path) === Seq(3L))
  }

  test("IVF compaction: search is bit-identical, lists collapse to one " +
      "wave, expire reclaims") {
    val rnd = new Random(53)
    val data = (0L until 60L).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    val q = data.filter($"vec_id" < 4)
    val path = freshPath()
    IvfIndex.buildSign(data.filter($"vec_id" % 3 === 0),
      "vec_id", "embedding", bits = 2).save(path)
    def appendWave(pred: org.apache.spark.sql.Column, w: Long): Unit =
      IvfIndex.appendSave(path,
        IvfIndex.assignTo(IvfIndex.load(spark, path),
          data.filter(pred), "vec_id", "embedding"), wave = w)
    appendWave($"vec_id" % 3 === 1, 1L)
    appendWave($"vec_id" % 3 === 2, 2L)
    def run() = IvfIndex.search(IvfIndex.load(spark, path), q,
      "vec_id", "embedding", k = 3, nProbe = 1)
      .select("query_id", "neighbor_id", "cosine", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val before = run()
    val newWave = IvfIndex.compact(spark, path)
    assert(newWave == WaveManifest.CompactBase)
    assert(run() == before && before.nonEmpty)
    val loaded = IvfIndex.load(spark, path)
    assert(loaded.assigned.count() == 60L)
    IvfIndex.expire(spark, path, keepVersions = 1)
    assert(waveDirs(path, "lists") === Seq(s"batch=$newWave"))
    assert(run() == before)
  }

  test("expire keeps the manifest of a wave whose data deletion FAILED " +
      "so a re-run can still reclaim it") {
    val path = freshPath()
    PostingIndex.build(docs.filter($"doc_id" <= 2), "doc_id", "text",
      path, termBuckets = 8)
    PostingIndex.append(docs.filter($"doc_id" > 2), "doc_id", "text",
      path, wave = 1L, termBuckets = 8)
    PostingIndex.compact(spark, path)
    // first pass: wave 1's deletion fails (a transient FS error) —
    // deleting its manifest anyway would orphan its batch= dirs forever
    // (no later run would see a manifest referencing them)
    val deleted1 = WaveManifest.expireWith(spark, path, keepVersions = 1,
      removeWave = _ != 1L)
    assert(deleted1 === Seq(0L))
    // the version(s) referencing the failed wave survive; v0 = {0} was
    // fully reclaimed and may go
    val remaining = WaveManifest.versions(spark, path)
    assert(remaining.exists(v =>
      WaveManifest.wavesAt(spark, path, v).contains(1L)),
      s"no surviving manifest references the failed wave: $remaining")
    // re-run with a healthy FS: the orphan is found via its manifest
    // and reclaimed, after which the manifest goes too
    val deleted2 = WaveManifest.expireWith(spark, path, keepVersions = 1,
      removeWave = _ => true)
    // wave 0 reappears (still referenced by the kept version, and its
    // already-gone dir deletes trivially) — the orphaned 1 is the point
    assert(deleted2 === Seq(0L, 1L))
    assert(WaveManifest.versions(spark, path).size == 1)
    assert(serveRows(path).nonEmpty)
  }

  test("a crash BETWEEN compaction data and manifest flip leaves the " +
      "old snapshot serving (data-first discipline)") {
    val path = freshPath()
    PostingIndex.build(docs.filter($"doc_id" <= 3), "doc_id", "text",
      path, termBuckets = 8)
    PostingIndex.append(docs.filter($"doc_id" > 3), "doc_id", "text",
      path, wave = 1L, termBuckets = 8)
    val before = serveRows(path)
    // simulate the dying compactor: the new wave's data landed (write
    // the compacted rows by hand at the id the compactor would pick)
    // but the manifest never moved
    val pinnedWaves = WaveManifest.pinned(spark, path).get
    val orphan = WaveManifest.nextCompactionWave(pinnedWaves)
    Seq("doclens", "postings", "terms", "stats").foreach { t =>
      val rows = spark.read.parquet(s"$path/$t")
        .filter($"batch".isin(pinnedWaves.map(Long.box): _*))
        .drop("batch").localCheckpoint()
      val parts: Seq[String] = if (t == "postings") Seq("bucket") else Nil
      rows.withColumn("batch", lit(orphan))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch" +: parts: _*).parquet(s"$path/$t")
    }
    assert(serveRows(path) === before) // orphan wave invisible
    // the compaction retry runs to completion and re-pins
    val w = PostingIndex.compact(spark, path)
    assert(w == orphan) // idempotent: overwrites its own orphan wave
    assert(serveRows(path) === before)
  }
}
