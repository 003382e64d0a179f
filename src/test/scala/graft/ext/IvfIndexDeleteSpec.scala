package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Tombstone deletes on the persisted DENSE index — the IvfPqDeleteSpec
  * contracts replayed on the raw-vector lists: pinned masks with
  * both-direction snapshot semantics, replay idempotence, physical
  * removal at compaction, and expire reclaiming both tables. */
class IvfIndexDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def mkData(seed: Int, n: Int = 40) = {
    val rnd = new Random(seed)
    (0L until n.toLong).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
  }

  private def freshPath() = Files.createTempDirectory("ivf_del_").toString

  private def neighbors(path: String,
      q: org.apache.spark.sql.DataFrame): Set[Long] =
    IvfIndex.search(IvfIndex.load(spark, path), q,
      "vec_id", "embedding", k = 100, nProbe = 4)
      .select("neighbor_id").as[Long].collect().toSet

  test("tombstone hides the id; pre-delete pin still serves it; " +
      "replay idempotent; compaction removes physically") {
    val data = mkData(103)
    val q = data.filter($"vec_id" === 0L)
    val path = freshPath()
    IvfIndex.buildSign(data, "vec_id", "embedding", bits = 2).save(path)
    val before = neighbors(path, q)
    val victim = before.min
    val prePin = IvfIndex.load(spark, path)
    IvfIndex.deleteSave(path, Seq(victim).toDF("vec_id"), "vec_id",
      wave = 1L)
    val after = neighbors(path, q)
    assert(!after.contains(victim) && before.contains(victim))
    assert(IvfIndex.search(prePin, q, "vec_id", "embedding",
        k = 100, nProbe = 4)
      .select("neighbor_id").as[Long].collect().toSet === before)
    IvfIndex.deleteSave(path, Seq(victim).toDF("vec_id"), "vec_id",
      wave = 1L)
    assert(neighbors(path, q) === after)
    // compaction: identical serves, physically gone, mask reset
    IvfIndex.compact(spark, path)
    assert(neighbors(path, q) === after)
    val pinnedWaves = graft.model.WaveManifest.pinned(spark, path).get
    val raw = spark.read.parquet(s"$path/lists")
      .filter(col("batch").isin(pinnedWaves.map(Long.box): _*))
    assert(raw.filter(col("neighbor_id") === victim).count() === 0L)
    // expire reclaims both the absorbed lists wave and the tombstones
    IvfIndex.expire(spark, path, keepVersions = 1)
    assert(!new java.io.File(s"$path/tombs/batch=1").exists())
    assert(neighbors(path, q) === after)
  }
}
