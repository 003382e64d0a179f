package graft.model

import java.nio.file.Files

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

class GraphStorageSpec extends SparkSpec {
  import spark.implicits._

  test("label-partitioned roundtrip; label scan prunes to one partition") {
    val dir = Files.createTempDirectory("graftstore").toString
    val vertices = Seq(
      ("Microservice", "a", 1L), ("Microservice", "b", 1L),
      ("RDSCluster", "db", 1L)
    ).toDF("label", "name", "last_updated")

    GraphStorage.writeVertices(vertices, s"$dir/vertices")
    val back = GraphStorage.readVertices(spark, s"$dir/vertices")
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("label", "name", "last_updated"))

    // partition pruning: the physical plan's scan lists only the matching
    // partition directory
    val scan = GraphStore.labelScan(back, "Microservice", "name")
    assert(scan.count() == 2)
    val plan = scan.queryExecution.executedPlan.toString
    assert(!plan.contains("RDSCluster"))

    // on-disk layout really is label=...
    val dirs = new java.io.File(s"$dir/vertices").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("label=Microservice", "label=RDSCluster"))
  }

  test("versioned snapshots: commit, latest, time travel, immutability") {
    val root = Files.createTempDirectory("graftsnap").toString
    assert(GraphStorage.versions(spark, root).isEmpty)

    val v0 = Seq(("EC2", "i-1", "healthy")).toDF("label", "name", "health")
    val v1 = Seq(("EC2", "i-1", "degraded"), ("EC2", "i-2", "healthy"))
      .toDF("label", "name", "health")
    assert(GraphStorage.commitSnapshot(v0, root) == 0L)
    assert(GraphStorage.commitSnapshot(v1, root) == 1L)
    assert(GraphStorage.versions(spark, root) == Seq(0L, 1L))

    // latest pointer follows the newest commit
    assert(GraphStorage.readSnapshot(spark, root).count() == 2)
    // time travel: version 0 is intact after version 1 was committed
    val pinned = GraphStorage.readSnapshot(spark, root, Some(0L))
    assert(pinned.count() == 1)
    assert(pinned.select("health").as[String].head() == "healthy")
    // version dirs are immutable: re-committing the same number is refused
    intercept[Exception] {
      v0.write.mode("errorifexists").parquet(s"$root/v=1")
    }
  }

  test("expireSnapshots keeps the newest versions and latest still reads") {
    val root = Files.createTempDirectory("graftexpire").toString
    (0 to 3).foreach { i =>
      GraphStorage.commitSnapshot(
        Seq(("EC2", s"i-$i")).toDF("label", "name"), root)
    }
    assert(GraphStorage.expireSnapshots(spark, root, keepLast = 2)
      == Seq(0L, 1L))
    assert(GraphStorage.versions(spark, root) == Seq(2L, 3L))
    assert(GraphStorage.readSnapshot(spark, root)
      .select("name").as[String].head() == "i-3")
    // next commit continues the version sequence past the gap
    assert(GraphStorage.commitSnapshot(
      Seq(("EC2", "i-4")).toDF("label", "name"), root) == 4L)
  }

  test("crashed-commit dirs are invisible to history but block numbers") {
    val root = Files.createTempDirectory("graftorphan").toString
    (0 to 2).foreach { i =>
      GraphStorage.commitSnapshot(
        Seq(("EC2", s"i-$i")).toDF("label", "name"), root)
    }
    // simulate a crashed commit: a half-written data dir (no _SUCCESS)
    Seq(("EC2", "orphan")).toDF("label", "name")
      .write.parquet(s"$root/v=5")
    new java.io.File(s"$root/v=5/_SUCCESS").delete()
    assert(GraphStorage.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(GraphStorage.expireSnapshots(spark, root, keepLast = 1)
      == Seq(0L, 1L)) // v=2 (committed latest) survives; v=5 not a slot
    assert(GraphStorage.versions(spark, root) == Seq(2L))
    assert(GraphStorage.readSnapshot(spark, root)
      .select("name").as[String].head() == "i-2")
    // the orphan's number is burned, never reused or clobbered
    assert(GraphStorage.commitSnapshot(
      Seq(("EC2", "i-6")).toDF("label", "name"), root) == 6L)
    // even after the pointer advances past the orphan, it cannot consume
    // a retention slot (the round-2 review scenario)
    assert(GraphStorage.expireSnapshots(spark, root, keepLast = 1)
      == Seq(2L))
    assert(GraphStorage.versions(spark, root) == Seq(6L))
  }

  test("snapshot diff between two committed versions is the change feed") {
    val root = Files.createTempDirectory("graftsnapdiff").toString
    GraphStorage.commitSnapshot(
      Seq(("EC2", "i-1", "healthy"), ("EC2", "i-2", "healthy"))
        .toDF("label", "name", "health"), root)
    GraphStorage.commitSnapshot(
      Seq(("EC2", "i-1", "degraded"), ("EC2", "i-3", "healthy"))
        .toDF("label", "name", "health"), root)
    val out = graft.ops.SnapshotDiff(
      GraphStorage.readSnapshot(spark, root, Some(0L)),
      GraphStorage.readSnapshot(spark, root, Some(1L)),
      Seq("label", "name"), Seq("health"))
      .select("name", "change_type").as[(String, String)].collect().toMap
    assert(out == Map("i-1" -> "changed", "i-2" -> "removed",
      "i-3" -> "added"))
  }

  // ── Job-free reads: the schema comes from the committed footer ──────

  /** The read path's schema must be the one Spark's inference job gives,
    * exactly: names, types, nullability and field metadata. */
  private def assertInferredSchema(read: DataFrame, dir: String): Unit =
    assert(read.schema == spark.read.parquet(dir).schema,
      s"footer schema differs from the inferred one under $dir")

  private val vertexFrame = {
    val doc = new MetadataBuilder().putString("comment", "vertex key").build()
    Seq(("Service", "a", "healthy", 1L), ("Service", "b", "degraded", 2L))
      .toDF("label", "name", "health_status", "last_updated")
      .withColumn("name", col("name").as("name", doc))
  }

  test("readSnapshot resolves a version without running a Spark job") {
    val root = Files.createTempDirectory("graftjobfree").toString
    GraphStorage.commitSnapshot(vertexFrame, root)
    GraphStorage.commitSnapshot(vertexFrame.limit(1), root)
    val (latest, latestJobs) = JobCount(spark) {
      GraphStorage.readSnapshot(spark, root)
    }
    val (_, pinnedJobs) = JobCount(spark) {
      GraphStorage.readSnapshot(spark, root, Some(0L))
    }
    assert(latestJobs == 0 && pinnedJobs == 0)
    assert(latest.count() == 1)
  }

  test("snapshot schema equals the inferred one: vertex store, all-null " +
      "metrics, empty commit") {
    val root = Files.createTempDirectory("graftfooter").toString
    GraphStorage.commitSnapshot(vertexFrame, s"$root/vertices")
    assertInferredSchema(GraphStorage.readSnapshot(spark, s"$root/vertices"),
      s"$root/vertices/v=0")
    assert(GraphStorage.readSnapshot(spark, s"$root/vertices").schema("name")
      .metadata.getString("comment") == "vertex key")

    // an edge store whose metric columns are null on every row
    val edges = Seq(("Resource", "a", "DependsOn", "Resource", "b"))
      .toDF("src_label", "src_name", "edge_label", "dst_label", "dst_name")
      .select(col("*"), lit(null).cast("long").as("calls"),
        lit(null).cast("double").as("avg_value"),
        lit(null).cast("long").as("last_seen"))
    GraphStorage.commitSnapshot(edges, s"$root/edges")
    val back = GraphStorage.readSnapshot(spark, s"$root/edges")
    assertInferredSchema(back, s"$root/edges/v=0")
    assert(back.filter(col("calls").isNull && col("avg_value").isNull).count() == 1)

    // a committed empty frame keeps its schema and reads 0 rows
    GraphStorage.commitSnapshot(vertexFrame.limit(0), s"$root/empty")
    val empty = GraphStorage.readSnapshot(spark, s"$root/empty")
    assertInferredSchema(empty, s"$root/empty/v=0")
    assert(empty.columns.toSeq == vertexFrame.columns.toSeq)
    assert(empty.count() == 0)
  }

  test("a pinned older version keeps its schema after a schema-changing " +
      "commit") {
    val root = Files.createTempDirectory("graftdrift").toString
    GraphStorage.commitSnapshot(vertexFrame, root)
    GraphStorage.commitSnapshot(vertexFrame.drop("health_status")
      .withColumn("first_seen", col("last_updated").cast("int")), root)
    val old = GraphStorage.readSnapshot(spark, root, Some(0L))
    assertInferredSchema(old, s"$root/v=0")
    assert(old.columns.toSeq == vertexFrame.columns.toSeq)
    assertInferredSchema(GraphStorage.readSnapshot(spark, root), s"$root/v=1")
    assert(GraphStorage.readSnapshot(spark, root).columns.contains("first_seen"))
  }

  test("label-partitioned stores keep the inferred partition column") {
    val dir = Files.createTempDirectory("graftpartfooter").toString
    GraphStorage.writeVertices(vertexFrame, s"$dir/vertices")
    assertInferredSchema(GraphStorage.readVertices(spark, s"$dir/vertices"),
      s"$dir/vertices")
    GraphStorage.writeEdges(Seq(("a", "Calls", "b", 3L))
      .toDF("src_name", "edge_label", "dst_name", "calls"), s"$dir/edges")
    val edges = GraphStorage.readEdges(spark, s"$dir/edges")
    assertInferredSchema(edges, s"$dir/edges")
    assert(edges.columns.last == "edge_label")
  }

  test("a committed version dir without a data file fails naming the dir") {
    val root = Files.createTempDirectory("graftnodata").toString
    val dir = new java.io.File(s"$root/v=0")
    assert(dir.mkdirs() && new java.io.File(dir, "_SUCCESS").createNewFile())
    assert(GraphStorage.versions(spark, root) == Seq(0L))
    val e = intercept[IllegalStateException](
      GraphStorage.readSnapshot(spark, root))
    assert(e.getMessage.contains(s"$root/v=0"), e.getMessage)
  }

  test("bucketed tables make the key join shuffle-free") {
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — clear both before writing
    Seq("bkt_left", "bkt_right").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val left = (1 to 500).map(i => (s"n$i", i)).toDF("name", "v")
    val right = (1 to 500).map(i => (s"n$i", i * 2)).toDF("name", "w")
    GraphStorage.writeBucketed(left, "bkt_left", "name", nBuckets = 8)
    GraphStorage.writeBucketed(right, "bkt_right", "name", nBuckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "name")
      assert(joined.count() == 500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
