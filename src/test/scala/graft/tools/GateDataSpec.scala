package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** GateData's replica discipline, checked on a 2-replica copy of
  * sf0.001: sharded tables double with unique keys and shard-local
  * foreign keys, fixed dims stay verbatim, replica 1's words carry the
  * replica prefix (so no near-dup pair crosses replicas) and its
  * embeddings are an exact sign-flip of replica 0's. The same dir then serves the sf1 timing recipe's second step,
  * a Profile run. */
class GateDataSpec extends SparkSpec {
  private val base = "/root/testdata/sf0.001"
  private val dir = Files.createTempDirectory("gatedata_").toFile
  private lazy val out = {
    GateData.generate(spark, base, dir.toString, replicas = 2, parts = 2)
    dir.toString
  }
  private def tbl(root: String, name: String) =
    spark.read.parquet(s"$root/$name.parquet")

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(dir)

  private val keys = Seq("customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"), "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  test("sharded tables double; keys never collide across replicas; " +
      "region and nation stay") {
    keys.foreach { case (name, key) =>
      def distinctKeys(root: String) =
        tbl(root, name).select(key.map(col): _*).distinct().count()
      assert(tbl(out, name).count() == 2 * tbl(base, name).count(), name)
      assert(distinctKeys(out) == 2 * distinctKeys(base),
        s"$name: ${key.mkString(",")} repeats across replicas")
    }
    Seq("region", "nation").foreach { name =>
      assert(tbl(out, name).count() == tbl(base, name).count(), name)
      assert(tbl(out, name).exceptAll(tbl(base, name)).isEmpty, name)
    }
  }

  test("foreign keys resolve shard-locally: matched join rows double") {
    Seq(("orders", "customer", "o_custkey", "c_custkey"),
        ("lineitem", "orders", "l_orderkey", "o_orderkey"),
        ("lineitem", "supplier", "l_suppkey", "s_suppkey")).foreach {
      case (fact, dim, fk, pk) =>
        def matched(root: String) =
          tbl(root, fact).join(tbl(root, dim), col(fk) === col(pk)).count()
        val n = matched(base)
        assert(n > 0 && matched(out) == 2 * n, s"$fact→$dim")
    }
  }

  test("replica-1 document words carry the replica prefix") {
    val docs = tbl(out, "documents")
    val words = docs.filter(col("doc_id") >= 1000000L)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    assert(words.count() > 0)
    assert(words.filter(!col("w").startsWith("r1q")).isEmpty)
    assert(docs.filter(col("doc_id") < 1000000L).select("doc_id", "text")
      .exceptAll(tbl(base, "documents").select("doc_id", "text")).isEmpty)
  }

  test("near-dup pair generators never pair documents across replicas") {
    Seq("q_minhash_lsh", "q_ngram_jaccard").foreach { q =>
      val replicas = SparkEntry.queries(q)(spark, out).collect()
        .map(r => (r.getAs[Long]("doc_a") / 1000000L,
          r.getAs[Long]("doc_b") / 1000000L))
      assert(replicas.toSet.contains((1L, 1L)), s"$q: no replica-1 pair")
      val cross = replicas.filter { case (a, b) => a != b }
      assert(cross.isEmpty, s"$q: cross-replica pair(s) ${cross.toSeq}")
    }
  }

  test("replica-1 embeddings keep replica 0's norms and in-replica dot " +
      "products") {
    def vectors(replica: Int) = tbl(out, "embeddings")
      .filter(col("vec_id") >= replica * 1000000L &&
        col("vec_id") < (replica + 1) * 1000000L)
      .collect().map(r => (r.getLong(0) - replica * 1000000L) ->
        r.getSeq[Number](1).map(_.doubleValue)).toMap
    val (r0, r1) = (vectors(0), vectors(1))
    assert(r0.nonEmpty && r0.keySet == r1.keySet)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // a ±1 flip is exact in floating point, so equality is exact
    val ids = r0.keys.toSeq.sorted.take(40)
    for (a <- ids; b <- ids)
      assert(dot(r0(a), r0(b)) == dot(r1(a), r1(b)), s"($a, $b)")
    assert(r0.keys.forall(id => dot(r0(id), r0(id)) == dot(r1(id), r1(id))))
    assert(ids.exists(id => r0(id) != r1(id)), "replica 1 is a verbatim copy")
  }

  test("a misspelled table subset throws, names the known tables and " +
      "writes nothing") {
    val typo = Files.createTempDirectory("gatedata_typo_").toFile
    try {
      val e = intercept[IllegalArgumentException](GateData.generate(spark,
        base, typo.toString, replicas = 2, parts = 2,
        only = Some(Set("lineitm"))))
      assert(e.getMessage.contains("lineitm"), e.getMessage)
      assert(keys.map(_._1).forall(e.getMessage.contains), e.getMessage)
      assert(typo.list().isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(typo)
  }

  test("Profile over the gate dir reports ok and the row count") {
    val run = Profile.measure(spark, "q_topology",
      SparkEntry.queries("q_topology")(_, out), warmups = 0)
    assert(run.ok, run.error)
    assert(run.rows.exists(_ > 0), run.rows)
  }
}
