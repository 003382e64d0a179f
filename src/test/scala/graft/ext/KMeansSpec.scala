package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def fit(vecs: Seq[(Long, Seq[Double])], k: Int, rounds: Int) =
    KMeans.assignments(vecs.toDF("id", "vec"), "id", "vec", k, rounds)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1)

  test("well-separated clusters settle in one update round") {
    // two tight 1-D blobs around 0.0 and 0.4; init = ids 1,2 (both in
    // the low blob) — after one centroid update the high blob flips to
    // its own cluster
    val vecs = Seq(
      1L -> Seq(0.00), 2L -> Seq(0.01), 3L -> Seq(0.02),
      4L -> Seq(0.40), 5L -> Seq(0.41), 6L -> Seq(0.42))
    val out = fit(vecs, k = 2, rounds = 2)
    val byCluster = out.groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toSet }
    assert(byCluster(0) === Set(1L, 2L, 3L))
    assert(byCluster(1) === Set(4L, 5L, 6L))
  }

  test("distances are the exact quantized BIGINT sum") {
    // one vector, one cluster: q(0.25)=250000, centroid q(0.0)=0 after
    // init on id 1 -> id 2's sqdist vs centroid 250000... round 1
    // assigns id 2 to cluster 0 at (250000-0)^2? init centroid IS id 1.
    val out = fit(Seq(1L -> Seq(0.0), 2L -> Seq(0.25)), k = 1, rounds = 1)
    assert(out === Seq((1L, 0, 0L), (2L, 0, 250000L * 250000L)))
  }

  test("assignment ties break to the lowest cluster id") {
    // point exactly between two centroids (init = ids 1, 2)
    val out = fit(Seq(1L -> Seq(0.0), 2L -> Seq(0.2), 3L -> Seq(0.1)),
      k = 2, rounds = 1)
    assert(out.find(_._1 == 3L).get._2 === 0)
  }

  test("centroid mean uses the half-up integer rule") {
    // cluster members q = {0, 1} (x = 0.0, 1e-6): sum=1, n=2 ->
    // half-up mean = 1, not 0. A probe at q=1 then lands at distance 0.
    val vecs = Seq(1L -> Seq(0.0), 2L -> Seq(0.000001), 3L -> Seq(0.000001))
    // k=1: round 1 assigns all to cluster 0, update -> cq = halfUp(2/3)=1
    val out = fit(vecs, k = 1, rounds = 2)
    assert(out.find(_._1 == 2L).get._3 === 0L)
    assert(out.find(_._1 == 1L).get._3 === 1L)
  }

  test("an emptied cluster vanishes instead of going stale") {
    // init = ids 1,2 both at 0.0-ish; everything collapses onto cluster
    // 0 after the first update (cluster 1's centroid equals cluster
    // 0's, ties to 0) -> round 2 has a single surviving cluster
    val vecs = Seq(1L -> Seq(0.0), 2L -> Seq(0.0), 3L -> Seq(0.0))
    val out = fit(vecs, k = 2, rounds = 2)
    assert(out.map(_._2).toSet === Set(0))
  }

  test("result is invariant to input partitioning") {
    val vecs = (1L to 40L).map(i => i -> Seq(math.sin(i.toDouble), math.cos(i * 0.7)))
    val df1 = vecs.toDF("id", "vec")
    val df2 = vecs.toDF("id", "vec").repartition(7, col("id"))
    val a = KMeans.assignments(df1, "id", "vec", 3, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val b = KMeans.assignments(df2, "id", "vec", 3, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(a === b)
  }

  test("guards raise loudly: empty, NULL and ragged vector frames") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("id", "vec")
    val e1 = intercept[IllegalArgumentException] {
      KMeans.assignments(empty, "id", "vec", 2, 1)
    }
    assert(e1.getMessage.contains("non-empty"))
    // a NULL vector must not silently drop out of the assignment
    val withNull = Seq((1L, Seq(0.1)), (2L, null)).toDF("id", "vec")
    val e2 = intercept[IllegalArgumentException] {
      KMeans.assignments(withNull, "id", "vec", 1, 1)
    }
    assert(e2.getMessage.contains("NULL"))
    val ragged = Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.1))).toDF("id", "vec")
    val e3 = intercept[IllegalArgumentException] {
      KMeans.assignments(ragged, "id", "vec", 1, 1)
    }
    assert(e3.getMessage.contains("ragged"))
  }
}
