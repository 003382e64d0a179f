package graft.model

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ext.{IvfIndex, IvfPq, PostingIndex}
import org.apache.spark.sql.DataFrame

/** The three wave guards of [[WaveTable]], driven through each index's
  * public append and delete faces: wave 0 (the build wave), a wave in
  * the compaction id space, and a wave a compaction already absorbed.
  * Every refusal names its rule and leaves the store untouched — no new
  * `batch=` dir, no new manifest version.
  */
class WaveTableSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    0L -> "wave 0 is the build wave",
    WaveManifest.CompactBase -> "compaction id space",
    1L -> "compaction watermark")

  private val vecs = (0L until 12L).map { i =>
    (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat))
  }.toDF("vec_id", "embedding")

  private val docs =
    (0L until 6L).map(i => (i, s"spark wave doc$i")).toDF("doc_id", "text")

  private def batchDirs(path: String): Set[String] = {
    val root = Paths.get(path)
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("batch="))
      .map((p: Path) => root.relativize(p).toString).toSet
    finally walk.close()
  }

  /** Build, land wave 1 and compact it — the watermark is then 1 — and
    * check every rule against both faces. */
  private def refusesAll(prefix: String, build: String => Unit,
      compact: String => Long, append: (String, Long) => Unit,
      delete: (String, Long) => Unit): Unit = {
    val path = Files.createTempDirectory(prefix).toString
    build(path)
    append(path, 1L)
    compact(path)
    val compacted = WaveManifest.pinned(spark, path)
    for ((verb, face) <- Seq("append" -> append, "delete" -> delete);
         (wave, rule) <- rules) {
      val before = (WaveManifest.versions(spark, path), batchDirs(path))
      val ex = intercept[IllegalArgumentException](face(path, wave))
      assert(ex.getMessage.contains(rule) && ex.getMessage.contains(verb),
        s"$prefix $verb wave $wave: ${ex.getMessage}")
      assert((WaveManifest.versions(spark, path), batchDirs(path)) == before,
        s"$prefix $verb wave $wave left a trace")
    }
    assert(WaveManifest.pinned(spark, path) == compacted)
  }

  private def ids(col: String): DataFrame = Seq(3L).toDF(col)

  test("PostingIndex: append and delete refuse all three guarded ids") {
    refusesAll("wt-posting",
      PostingIndex.build(docs, "doc_id", "text", _, termBuckets = 4),
      PostingIndex.compact(spark, _),
      PostingIndex.append(Seq((10L, "fresh spark")).toDF("doc_id", "text"),
        "doc_id", "text", _, _, termBuckets = 4),
      (p, w) => PostingIndex.deleteSave(p, ids("doc_id"), "doc_id", w))
  }

  test("IvfIndex: appendSave and deleteSave refuse all three guarded ids") {
    val model = IvfIndex.buildSign(vecs, "vec_id", "embedding", bits = 2)
    val rows = IvfIndex.assignTo(model,
      Seq((20L, Array(1f, 1f, 1f, 1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding").localCheckpoint()
    refusesAll("wt-ivf", model.save, IvfIndex.compact(spark, _),
      IvfIndex.appendSave(_, rows, _),
      (p, w) => IvfIndex.deleteSave(p, ids("vec_id"), "vec_id", w))
  }

  test("IvfPq: appendSave and deleteSave refuse all three guarded ids") {
    val model = IvfPq.train(vecs, "vec_id", "embedding",
      nLists = 2, coarseRounds = 1, m = 2, k = 2, pqRounds = 1)
    val codes = IvfPq.encode(vecs, "vec_id", "embedding", model)
      .localCheckpoint()
    val fresh = IvfPq.encode(
      Seq((20L, Array(1f, 1f, 1f, 1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", model).localCheckpoint()
    refusesAll("wt-ivfpq", IvfPq.save(model, codes, _),
      IvfPq.compact(spark, _), IvfPq.appendSave(_, fresh, _),
      (p, w) => IvfPq.deleteSave(p, ids("vec_id"), "vec_id", w))
  }
}
