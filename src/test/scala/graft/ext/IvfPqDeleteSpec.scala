package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Tombstone deletes on the persisted IVF-PQ index: pinned masks with
  * snapshot semantics in BOTH directions, replay idempotence, physical
  * removal at compaction, and the documented re-insert contract. */
class IvfPqDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def mkData(seed: Int, n: Int = 60) = {
    val rnd = new Random(seed)
    (0L until n.toLong).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
  }

  private def freshPath() = Files.createTempDirectory("ivfpq_del_").toString

  private def build(data: org.apache.spark.sql.DataFrame, path: String) = {
    val model = IvfPq.train(data, "vec_id", "embedding",
      nLists = 3, coarseRounds = 2, m = 2, k = 4, pqRounds = 2)
    IvfPq.save(model, IvfPq.encode(data, "vec_id", "embedding", model),
      path)
    model
  }

  private def neighbors(path: String,
      q: org.apache.spark.sql.DataFrame): Set[Long] =
    IvfPq.searchPruned(IvfPq.load(spark, path), q,
      "vec_id", "embedding", k = 100, nProbe = 3)
      .select("neighbor_id").as[Long].collect().toSet

  test("a tombstone hides its vid from new serves; a pre-delete pin " +
      "still sees it; replay is idempotent") {
    val data = mkData(73)
    val q = data.filter($"vec_id" === 0L)
    val path = freshPath()
    build(data, path)
    val before = neighbors(path, q)
    assert(before.nonEmpty)
    val victim = before.min
    val prePin = IvfPq.load(spark, path)
    IvfPq.deleteSave(path, Seq(victim).toDF("vec_id"), "vec_id", wave = 1L)
    val after = neighbors(path, q)
    assert(!after.contains(victim) && before.contains(victim))
    // snapshot semantics: the pre-delete handle still serves the victim
    val pinned = IvfPq.searchPruned(prePin, q, "vec_id", "embedding",
      k = 100, nProbe = 3).select("neighbor_id").as[Long].collect().toSet
    assert(pinned === before)
    // replayed delete (same wave) changes nothing
    IvfPq.deleteSave(path, Seq(victim).toDF("vec_id"), "vec_id", wave = 1L)
    assert(neighbors(path, q) === after)
  }

  test("compaction physically removes tombstoned codes, serves " +
      "identically, and resets the mask") {
    val data = mkData(79)
    val q = data.filter($"vec_id" === 0L)
    val path = freshPath()
    build(data, path)
    IvfPq.deleteSave(path, Seq(3L, 7L, 11L).toDF("vec_id"), "vec_id",
      wave = 1L)
    val masked = neighbors(path, q)
    val preCount = IvfPq.load(spark, path).codes.count()
    IvfPq.compact(spark, path)
    assert(neighbors(path, q) === masked)
    val loaded = IvfPq.load(spark, path)
    assert(loaded.codes.count() === preCount) // mask was already applied
    // physical: the compacted wave's raw rows no longer hold the vids
    val pinnedWaves = graft.model.WaveManifest.pinned(spark, path).get
    val raw = spark.read.parquet(s"$path/codes")
      .filter(col("batch").isin(pinnedWaves.map(Long.box): _*))
    assert(raw.filter(col("vid").isin(3L, 7L, 11L)).count() === 0L)
    assert(raw.count() === preCount)
  }

  test("expire reclaims absorbed code AND tombstone waves") {
    val data = mkData(97)
    val q = data.filter($"vec_id" === 0L)
    val docs = (0L until 8L).map(i => (i, s"spark wave doc$i"))
      .toDF("doc_id", "text")
    // each index's own retention face (delete → compact → expire): a
    // table list that left out `tombs` would orphan its dirs
    final case class Face(data: String, build: String => Unit,
        delete: String => Unit, compact: String => Long,
        expire: String => Seq[Long], serve: String => Set[Long])
    val faces = Seq(
      Face("codes", p => { build(data, p); () },
        IvfPq.deleteSave(_, Seq(2L).toDF("vec_id"), "vec_id", wave = 1L),
        IvfPq.compact(spark, _), IvfPq.expire(spark, _, keepVersions = 1),
        neighbors(_, q)),
      Face("lists",
        IvfIndex.buildSign(data, "vec_id", "embedding", bits = 2).save(_),
        IvfIndex.deleteSave(_, Seq(2L).toDF("vec_id"), "vec_id", wave = 1L),
        IvfIndex.compact(spark, _), IvfIndex.expire(spark, _, keepVersions = 1),
        p => IvfIndex.search(IvfIndex.load(spark, p), q, "vec_id",
          "embedding", k = 100, nProbe = 4)
          .select("neighbor_id").as[Long].collect().toSet),
      Face("postings",
        PostingIndex.build(docs, "doc_id", "text", _, termBuckets = 4),
        PostingIndex.deleteSave(_, Seq(2L).toDF("doc_id"), "doc_id", wave = 1L),
        PostingIndex.compact(spark, _),
        PostingIndex.expire(spark, _, keepVersions = 1),
        p => PostingIndex.scoreQuery(spark, p, Seq("spark"), termBuckets = 4)
          .select("doc_id").as[Long].collect().toSet))
    faces.foreach { f =>
      val path = freshPath()
      f.build(path)
      f.delete(path)
      val before = f.serve(path)
      f.compact(path)
      f.expire(path)
      assert(!new java.io.File(s"$path/${f.data}/batch=0").exists(), f.data)
      val tombs = new java.io.File(s"$path/tombs")
      assert(Option(tombs.list()).forall(!_.exists(_.startsWith("batch="))),
        s"${f.data}: tombstone dirs survived expire")
      assert(f.serve(path) === before, f.data)
    }
  }

  test("the documented re-insert contract: masked until compaction, " +
      "live again after") {
    val data = mkData(83)
    val path = freshPath()
    val model = build(data.filter($"vec_id" < 40), path)
    val q = data.filter($"vec_id" === 0L)
    IvfPq.deleteSave(path, Seq(5L).toDF("vec_id"), "vec_id", wave = 1L)
    // re-insert vid 5 as a later wave: the standing tombstone masks it
    IvfPq.appendSave(path,
      IvfPq.encode(data.filter($"vec_id" === 5L), "vec_id", "embedding",
        model).localCheckpoint(), wave = 2L)
    assert(!neighbors(path, q).contains(5L))
    // compaction clears the tombstone (and, with it, the re-inserted
    // codes — delete wins over any masked wave); a fresh append lands
    IvfPq.compact(spark, path)
    assert(!neighbors(path, q).contains(5L))
    IvfPq.appendSave(path,
      IvfPq.encode(data.filter($"vec_id" === 5L), "vec_id", "embedding",
        model).localCheckpoint(),
      wave = 3L)
    assert(neighbors(path, q).contains(5L))
  }
}
