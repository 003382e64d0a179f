package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.ext.IvfPq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming face of the persisted IVF-PQ index: encoded waves land
  * through the shared appendSave path, replay under the same id
  * replaces rather than doubles, and the recovered index serves
  * exactly like encoding everything in one shot — the
  * [[VectorIndexStreamSpec]] posture for coded vectors.
  */
class PqIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def writeVec(dir: String, name: String, id: Long,
      v: Seq[Float]): Unit =
    Files.write(Paths.get(dir, name),
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}\n""".getBytes)

  private def mkData(n: Int) = {
    val rnd = new scala.util.Random(67)
    (0L until n.toLong).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "neighbor_id", "adc_sqdist", "rk")
    .as[(Long, Long, Long, Int)].collect().toSet

  private def trainSave(data: org.apache.spark.sql.DataFrame,
      path: String): IvfPq.IvfPqModel = {
    val model = IvfPq.train(data, "vec_id", "embedding",
      nLists = 3, coarseRounds = 2, m = 2, k = 4, pqRounds = 2)
    IvfPq.save(model, IvfPq.encode(data, "vec_id", "embedding", model),
      path)
    model
  }

  test("streamed waves ≡ one-shot encode; crash mid-stream replays " +
      "its wave idempotently") {
    val data = mkData(24)
    val base = data.filter(_._1 < 12) // the built (wave 0) half
    val streamed = data.filter(_._1 >= 12) // arrives via the stream
    val inDir = Files.createTempDirectory("pqstream-in").toString
    val ckpt = Files.createTempDirectory("pqstream-ckpt").toString
    val path = Files.createTempDirectory("pqstream-idx").toString
    val model = trainSave(base.toDF("vec_id", "embedding"), path)
    streamed.zipWithIndex.foreach { case ((id, v), i) =>
      writeVec(inDir, s"v$i.json", id, v.toSeq)
    }

    @volatile var crashed = false
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4).json(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          PqIndexStream.appendBatch(batch, "vec_id", "embedding", path, id)
          // crash AFTER the wave landed but BEFORE the batch commits:
          // the worst replay case — a complete wave that must be
          // overwritten identically, not doubled
          if (id == 1 && !crashed) {
            crashed = true
            throw new RuntimeException("simulated crash before batch commit")
          }
          ()
        }
        .start()
      try q.awaitTermination(60000)
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          assert(e.getMessage.contains("simulated crash"), e.getMessage)
      }
    }

    run() // dies after batch 1's wave landed, batch 1 uncommitted
    assert(crashed)
    run() // restart: batch 1 replays under the same id, rest follow

    val all = data.toDF("vec_id", "embedding")
    val queries = all.filter($"vec_id".isin(0L, 13L, 23L))
    val served = rows(PqIndexStream.serve(spark, path, queries,
      "vec_id", "embedding", k = 3, nProbe = 2))
    // one-shot twin: SAME model (trained on the base half — streaming
    // never refits), everything encoded in one save
    val oneShot = Files.createTempDirectory("pqstream-full").toString
    IvfPq.save(model, IvfPq.encode(all, "vec_id", "embedding", model),
      oneShot)
    assert(served == rows(IvfPq.searchPruned(IvfPq.load(spark, oneShot),
      queries, "vec_id", "embedding", k = 3, nProbe = 2)) &&
      served.nonEmpty)
    // no vector's codes stored twice (the double-write corruption the
    // wave layout exists to prevent): m rows per vid exactly
    val loaded = IvfPq.load(spark, path)
    assert(loaded.codes.count() ==
      loaded.codes.select("vid").distinct().count() * 2)
    assert(loaded.codes.select("vid").distinct().count() == data.size.toLong)
  }

  test("an empty micro-batch (idle trigger) is a no-op, not a crash") {
    val data = mkData(71)
    val path = Files.createTempDirectory("pqstream-empty").toString
    trainSave(data.toDF("vec_id", "embedding"), path)
    val before = graft.model.WaveManifest.pinned(spark, path)
    PqIndexStream.appendBatch(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, 0L)
    assert(graft.model.WaveManifest.pinned(spark, path) === before)
    assert(IvfPq.load(spark, path).codes.count() > 0)
    // the posting and dense index streams take the same step: an idle
    // trigger commits no wave, writes no dir, and at compactEvery
    // triggers no compaction
    val vecPath = Files.createTempDirectory("vecstream-empty").toString
    graft.ext.IvfIndex.buildSign(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", bits = 2).save(vecPath)
    val postPath = Files.createTempDirectory("poststream-empty").toString
    graft.ext.PostingIndex.build(Seq((1L, "spark stream")).toDF("doc_id",
      "text"), "doc_id", "text", postPath, termBuckets = 4)
    (0L to 1L).foreach { id =>
      VectorIndexStream.appendBatch(
        Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
        "vec_id", "embedding", vecPath, id, compactEvery = 2)
      IndexStream.appendBatch(Seq.empty[(Long, String)].toDF("doc_id",
        "text"), "doc_id", "text", postPath, id, 4, compactEvery = 2)
    }
    Seq(vecPath, postPath).foreach { p =>
      assert(graft.model.WaveManifest.versions(spark, p) === Seq(0L), p)
      assert(graft.model.WaveManifest.pinned(spark, p) === Some(Seq(0L)), p)
    }
    assert(!new java.io.File(s"$postPath/stats/batch=1").exists())
  }

  test("a batch arriving AFTER an auto-compaction keeps every " +
      "pre-compaction code (disjoint compaction id space)") {
    val data = mkData(24)
    val path = Files.createTempDirectory("pqstream-cmp").toString
    trainSave(data.filter(_._1 < 8).toDF("vec_id", "embedding"), path)
    // batch 0 → wave 1; pinned {0, 1} hits compactEvery = 2 → compaction
    // into the CompactBase space; batch 1 → wave 2 must pass the
    // watermark AND not overwrite the compacted wave's list partitions
    PqIndexStream.appendBatch(
      data.filter(x => x._1 >= 8 && x._1 < 16).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, 0L, compactEvery = 2)
    assert(graft.model.WaveManifest.pinned(spark, path).get ===
      Seq(graft.model.WaveManifest.CompactBase))
    PqIndexStream.appendBatch(
      data.filter(_._1 >= 16).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, 1L, compactEvery = 2)
    val loaded = IvfPq.load(spark, path)
    assert(loaded.codes.select("vid").distinct().count() == data.size.toLong)
    assert(loaded.codes.count() ==
      loaded.codes.select("vid").distinct().count() * 2)
  }
}
