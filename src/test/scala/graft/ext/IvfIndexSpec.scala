package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  // list_id partition dirs across every batch=<wave> dir of the layout
  private def listIdDirs(dir: String): Array[java.io.File] =
    Option(new java.io.File(s"$dir/lists").listFiles()).getOrElse(Array())
      .filter(_.getName.startsWith("batch="))
      .flatMap(b => Option(b.listFiles()).getOrElse(Array()))
      .filter(_.getName.startsWith("list_id="))

  // three well-separated clusters around orthogonal anchors
  private def cluster(center: Array[Float], n: Int, base: Long, rnd: Random) =
    (0 until n).map { i =>
      (base + i, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }

  private lazy val vecs = {
    val rnd = new Random(7)
    val a = cluster(Array(10f, 0f, 0f, 0f), 20, 0L, rnd)
    val b = cluster(Array(0f, 10f, 0f, 0f), 20, 100L, rnd)
    val c = cluster(Array(0f, 0f, 10f, 0f), 20, 200L, rnd)
    (a ++ b ++ c).toDF("vec_id", "embedding")
  }

  test("assign puts each separated cluster in one list") {
    val assigned = IvfIndex.assign(vecs, "vec_id", "embedding", nLists = 3)
    // every original cluster maps to exactly one list id
    val spread = assigned
      .withColumn("orig", (col("vec_id") / 100).cast("int"))
      .groupBy("orig").agg(countDistinct("list_id").as("lists"))
      .select("lists").as[Long].collect()
    assert(spread.forall(_ == 1L))
  }

  test("IVF top-k matches brute force for in-cluster queries (nProbe=1)") {
    val queries = vecs.filter($"vec_id".isin(0L, 100L, 200L))
    val model = IvfIndex.build(vecs, "vec_id", "embedding", nLists = 3)
    val ivf = IvfIndex.search(model, queries, "vec_id", "embedding",
      k = 3, nProbe = 1)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)]
      .collect().toSet
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding",
      k = 3)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)]
      .collect().toSet
    assert(ivf == brute) // separated clusters: probing 1 list is lossless
  }

  test("one build serves many probe batches; save/load round-trips") {
    val model = IvfIndex.build(vecs, "vec_id", "embedding", nLists = 3)
    val batch1 = vecs.filter($"vec_id" === 0L)
    val batch2 = vecs.filter($"vec_id" === 100L)
    val r1 = IvfIndex.search(model, batch1, "vec_id", "embedding", 3, 1)
    val r2 = IvfIndex.search(model, batch2, "vec_id", "embedding", 3, 1)
    assert(r1.count() == 3 && r2.count() == 3)

    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    model.save(dir)
    // on-disk layout is partition-pruned: one directory per list id
    // under the build wave (batch=0)
    assert(listIdDirs(dir).length == 3)
    val loaded = IvfIndex.load(spark, dir)
    val viaLoaded = IvfIndex
      .search(loaded, batch1, "vec_id", "embedding", 3, 1)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)]
      .collect().toSet
    val viaBuilt = r1
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)]
      .collect().toSet
    assert(viaLoaded == viaBuilt)
  }

  test("search over a loaded index scans ONLY the probed partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val model = IvfIndex.build(vecs, "vec_id", "embedding", nLists = 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_prune").toString
    model.save(dir)
    val loaded = IvfIndex.load(spark, dir)
    // one in-cluster query, nProbe=1 → exactly 1 of 3 list partitions read
    val q = IvfIndex.search(loaded, vecs.filter($"vec_id" === 0L),
      "vec_id", "embedding", 3, 1)
    q.collect()
    def leaves(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan) // AQE stages are leaves
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    val listScan = leaves(q.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("lists")))
    assert(listScan.isDefined, "no file scan over the lists layout found")
    val numFiles = listScan.get.metrics("numFiles").value
    val totalFiles = listIdDirs(dir).length
    assert(totalFiles == 3)
    assert(numFiles >= 1 && numFiles < totalFiles,
      s"expected pruned scan, read $numFiles of $totalFiles partitions")
  }

  test("sign quantizer: nProbe=1 search ≡ same-bucket brute force (lshTopK)") {
    // mixed-sign vectors so the 2-bit bucket space is actually populated
    val rnd = new Random(11)
    val data = (0L until 60L).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    val queries = data.filter($"vec_id" < 4)
    val model = IvfIndex.buildSign(data, "vec_id", "embedding", bits = 2)
    val viaIvf = IvfIndex.search(model, queries, "vec_id", "embedding",
      k = 3, nProbe = 1)
      .select("query_id", "neighbor_id", "cosine", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val viaLsh = Similarity.lshTopK(data, queries, "vec_id", "embedding",
      k = 3, bucketBits = 2)
      .select("query_id", "neighbor_id", "cosine", "rk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaIvf == viaLsh)
  }

  test("assignTo/append: half built + half inserted ≡ one full build") {
    val rnd = new Random(23)
    val data = (0L until 60L).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    val queries = data.filter($"vec_id" < 4)
    val full = IvfIndex.buildSign(data, "vec_id", "embedding", bits = 2)
    val half = IvfIndex.buildSign(data.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", bits = 2)
    val appended = IvfIndex.append(half,
      data.filter($"vec_id" % 2 =!= 0), "vec_id", "embedding")
    def run(m: IvfIndex.IvfModel) =
      IvfIndex.search(m, queries, "vec_id", "embedding", k = 3, nProbe = 1)
        .select("query_id", "neighbor_id", "cosine", "rk")
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(appended) == run(full) && run(full).nonEmpty)
    // inserted rows landed in exactly the lists the full build chooses
    val fullAssign = full.assigned.select("neighbor_id", "list_id")
      .as[(Long, Int)].collect().toMap
    val appAssign = appended.assigned.select("neighbor_id", "list_id")
      .as[(Long, Int)].collect().toMap
    assert(appAssign == fullAssign)
  }

  test("NaN query components: probe selection still matches the sign bucket") {
    // signBucket follows SQL NaN-is-greatest (`NaN > 0` is true); the
    // driver-side centroid selection must agree, not collapse to list 0
    val rnd = new Random(17)
    val data = (0L until 40L).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    val nanQuery = Seq((999L, Array(Float.NaN, 0.5f, -0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val model = IvfIndex.buildSign(data.union(nanQuery), "vec_id",
      "embedding", bits = 2)
    val ivf = IvfIndex.search(model, nanQuery, "vec_id", "embedding",
      k = 3, nProbe = 1)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    val lsh = Similarity.lshTopK(data.union(nanQuery), nanQuery, "vec_id",
      "embedding", k = 3, bucketBits = 2)
      .select("query_id", "neighbor_id", "rk")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == lsh && ivf.nonEmpty, s"ivf=$ivf lsh=$lsh")
  }

  test("assignTo: a NaN vector lands in the list its probes will scan") {
    // without the search-matching NaN stand-in, DecimalDot nulls every
    // centroid distance and the tie-break dumps the row in list 0 —
    // while signBucket (NaN-is-greatest) and the probe selection pick
    // the bit-SET bucket, so no probe for the vector would scan it
    val rnd = new Random(29)
    val data = (0L until 40L).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    val nanRow = Seq((999L, Array(Float.NaN, 0.5f, -0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val full = IvfIndex.buildSign(data.union(nanRow), "vec_id",
      "embedding", bits = 2)
    val appended = IvfIndex.append(
      IvfIndex.buildSign(data, "vec_id", "embedding", bits = 2),
      nanRow, "vec_id", "embedding")
    val fullList = full.assigned.filter($"neighbor_id" === 999L)
      .select("list_id").as[Int].head()
    val appList = appended.assigned.filter($"neighbor_id" === 999L)
      .select("list_id").as[Int].head()
    assert(appList == fullList)
    def run(m: IvfIndex.IvfModel) =
      IvfIndex.search(m, nanRow, "vec_id", "embedding", k = 3, nProbe = 1)
        .select("query_id", "neighbor_id", "rk")
        .as[(Long, Long, Int)].collect().toSet
    assert(run(appended) == run(full) && run(full).nonEmpty)
  }

  test("assignTo and both searches refuse vectors the rule cannot place") {
    // a vector shorter than the centroids or with a NULL component has no
    // defined distance; it must raise by name instead of landing in an
    // arbitrary list (list 0) that no probe for it scans
    val km = IvfIndex.build(vecs, "vec_id", "embedding", nLists = 3)
    val short = Seq((900L, Seq(10.0, 0.0))).toDF("vec_id", "embedding")
    val nullComp = Seq((901L, Seq[java.lang.Double](10.0, null, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    def message(run: => Any): String = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    for ((bad, why) <- Seq(short -> "shorter than",
        nullComp -> "NULL component")) {
      assert(message(IvfIndex.assignTo(km, bad, "vec_id", "embedding")
        .collect()).contains(why))
      assert(message(IvfIndex.search(km, bad, "vec_id", "embedding", 3, 1)
        .collect()).contains(why))
      assert(message(IvfIndex.searchDistributed(km, bad, "vec_id",
        "embedding", 3, 1).collect()).contains(why))
    }
  }

  test("searchDistributed ≡ search: k-means, sign, NaN, and loaded models") {
    // the distributed probe selection (broadcast-centroid argmin join)
    // must pick the same lists — and so the same results — as search's
    // driver-side selection, on every model family the fixtures cover
    // (cosine is Option: a NaN query's cosine is null on BOTH paths)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cosine", "rk")
      .as[(Long, Long, Option[Double], Int)].collect().toSet

    val km = IvfIndex.build(vecs, "vec_id", "embedding", nLists = 3)
    val kmQ = vecs.filter($"vec_id".isin(0L, 100L, 200L))
    assert(rows(IvfIndex.searchDistributed(km, kmQ, "vec_id", "embedding", 3, 1))
      == rows(IvfIndex.search(km, kmQ, "vec_id", "embedding", 3, 1)))
    // exhaustive probe too (covers multi-list probe ranking)
    assert(rows(IvfIndex.searchDistributed(km, kmQ, "vec_id", "embedding", 3, 3))
      == rows(IvfIndex.search(km, kmQ, "vec_id", "embedding", 3, 3)))

    val rnd = new Random(31)
    val data = (0L until 60L).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    val nanRow = Seq((999L, Array(Float.NaN, 0.5f, -0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val sign = IvfIndex.buildSign(data.union(nanRow), "vec_id",
      "embedding", bits = 2)
    val signQ = data.filter($"vec_id" < 4).union(nanRow)
    val viaSearch = rows(
      IvfIndex.search(sign, signQ, "vec_id", "embedding", 3, 1))
    assert(rows(IvfIndex.searchDistributed(sign, signQ, "vec_id",
      "embedding", 3, 1)) == viaSearch && viaSearch.nonEmpty)
    // non-broadcast probe side takes the shuffle join path — same rows
    assert(rows(IvfIndex.searchDistributed(sign, signQ, "vec_id",
      "embedding", 3, 1, broadcastProbes = false)) == viaSearch)

    val dir = java.nio.file.Files.createTempDirectory("ivf_dist").toString
    sign.save(dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(rows(IvfIndex.searchDistributed(loaded, signQ, "vec_id",
      "embedding", 3, 1)) == viaSearch)
  }

  test("sign quantizer save/load: pruned probe scans only probed partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val rnd = new Random(13)
    val data = (0L until 60L).map { i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_sign").toString
    IvfIndex.buildSign(data, "vec_id", "embedding", bits = 2).save(dir)
    val loaded = IvfIndex.load(spark, dir)
    val q = IvfIndex.search(loaded, data.filter($"vec_id" === 0L),
      "vec_id", "embedding", 3, 1)
    q.collect()
    def leaves(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves) ++
        other.subqueries.flatMap(leaves)
    }
    val listScan = leaves(q.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("lists")))
    assert(listScan.isDefined, "no file scan over the lists layout found")
    val numFiles = listScan.get.metrics("numFiles").value
    // multiple writer tasks → several part-files per list dir; compare
    // against the recursive part-file total, not the dir count
    val allParts = listIdDirs(dir)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(listIdDirs(dir).length > 1)
    assert(numFiles >= 1 && numFiles < allParts,
      s"expected pruned scan, read $numFiles of $allParts part-files")
  }
}
