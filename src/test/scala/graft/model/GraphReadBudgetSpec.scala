package graft.model

import java.nio.file.Files

import graft.{JobCount, SparkSpec}

/** Job budgets of the graph-store read path, pinned exactly.
  *
  * Between ETL runs the store serves point lookups and degree profiles
  * whose latency is fixed per-job overhead, not scan work, so a job
  * added to one of these calls is a regression even when wall time hides
  * it in noise. Counts are of the calls as a reader issues them: resolve
  * the latest snapshots, then collect the query.
  */
class GraphReadBudgetSpec extends SparkSpec {
  import spark.implicits._

  // built eagerly: the commits' own jobs must not land in a counted block
  private val root = {
    val r = Files.createTempDirectory("graftbudget").toString
    GraphStorage.commitSnapshot((0 until 40).map(i =>
      ("Service", s"svc-$i", if (i % 7 == 0) "degraded" else "healthy"))
      .toDF("label", "name", "health_status"), s"$r/vertices")
    GraphStorage.commitSnapshot((0 until 200).map(i =>
      ("Service", s"svc-${i % 40}", "Calls", "Service", s"svc-${(i * 7) % 40}",
        i.toLong)).toDF("src_label", "src_name", "edge_label", "dst_label",
        "dst_name", "calls"), s"$r/edges")
    r
  }

  private def latest() = (GraphStorage.readSnapshot(spark, s"$root/vertices"),
    GraphStorage.readSnapshot(spark, s"$root/edges"))

  test("readSnapshot: 0 jobs") {
    assert(JobCount(spark)(latest())._2 == 0)
  }

  test("pointLookup: 1 job") {
    val (v, _) = latest()
    val (rows, jobs) = JobCount(spark) {
      GraphStore.pointLookup(v, "Service", "svc-7").collect()
    }
    assert(rows.map(_.getAs[String]("health_status")).toSeq == Seq("degraded"))
    assert(jobs == 1)
  }

  test("degrees: 3 jobs") {
    val (v, e) = latest()
    val (rows, jobs) = JobCount(spark) {
      GraphStore.degrees(v, e, "Service").collect()
    }
    assert(rows.length == 40)
    assert(rows.map(_.getAs[Long]("in_degree")).sum == 200L)
    assert(rows.map(_.getAs[Long]("out_degree")).sum == 200L)
    assert(jobs == 3, s"degrees ran $jobs jobs")
  }
}
