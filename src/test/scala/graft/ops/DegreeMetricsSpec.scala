package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class DegreeMetricsSpec extends SparkSpec {
  import spark.implicits._

  // graph: a->b, a->c(rds), b->c(rds); d isolated
  private val nodes = Seq("a", "b", "c", "d").toDF("node_id")
  private val edges = Seq(
    ("a", "b", "svc"), ("a", "c", "rds"), ("b", "c", "rds")
  ).toDF("src", "dst", "dst_label")

  test("out/in/filtered degrees + entry-point flag (etl_deepflow:536-568)") {
    val out = DegreeMetrics(nodes, "node_id", edges, "src", "dst",
      Seq("rds_out" -> (col("dst_label") === "rds")))
      .collect().map(r => r.getAs[String]("node_id") -> r).toMap

    assert(out("a").getAs[Long]("out_degree") == 2)
    assert(out("a").getAs[Long]("rds_out") == 1)
    assert(out("a").getAs[Long]("in_degree") == 0)
    assert(out("a").getAs[Boolean]("is_entry_point"))

    assert(out("b").getAs[Long]("out_degree") == 1)
    assert(out("b").getAs[Long]("in_degree") == 1)
    assert(!out("b").getAs[Boolean]("is_entry_point"))

    assert(out("c").getAs[Long]("out_degree") == 0)
    assert(out("c").getAs[Long]("in_degree") == 2)

    assert(out("d").getAs[Long]("out_degree") == 0)
    assert(out("d").getAs[Boolean]("is_entry_point"))
  }

  // ── the one-exchange profile against the two-aggregate formulation ──

  /** The formulation DegreeMetrics replaced: an out- and an in-degree
    * aggregation over the edges, each joined to the nodes. */
  private def twoAggregates(nodes: DataFrame, nodeKey: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      filteredOut: Seq[(String, Column)]): DataFrame = {
    val outAggs = count(lit(1)).as("out_degree") +:
      filteredOut.map { case (name, pred) => count(when(pred, 1)).as(name) }
    val out = edges.groupBy(col(srcCol).as(nodeKey)).agg(outAggs.head, outAggs.tail: _*)
    val in  = edges.groupBy(col(dstCol).as(nodeKey)).agg(count(lit(1)).as("in_degree"))
    val filled = (("out_degree", 0L) +: ("in_degree", 0L) +:
      filteredOut.map { case (n, _) => (n, 0L) }).toMap
    nodes
      .join(out, Seq(nodeKey), "left_outer")
      .join(in, Seq(nodeKey), "left_outer")
      .na.fill(filled)
      .withColumn("is_entry_point", col("in_degree") === 0L)
  }

  // keys n0..n5 are nodes; n6, n7 only ever appear on edges
  private val key = Gen.frequency(8 -> Gen.choose(0, 7).map(i => s"n$i"),
    1 -> Gen.const(null: String))
  private val edgeGen = for {
    s <- key
    d <- Gen.frequency(1 -> Gen.const(s), 4 -> key) // self-loops
    k <- Gen.oneOf("rds", "svc", null)               // null predicate rows
  } yield (s, d, k)
  private val caseGen = for {
    ns <- Gen.someOf((0 to 5).map(i => s"n$i"))     // nodes with no edges
    nullNode <- Gen.oneOf(true, false)
    n <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.choose(1, 25))
    es <- Gen.listOfN(n, edgeGen)
    dups <- Gen.choose(0, 3)                          // duplicate edges
  } yield (ns.toSeq ++ (if (nullNode) Seq(null) else Nil), es ++ es.take(dups))

  private val profiles = Seq(
    "rds_out" -> (col("kind") === "rds"),
    "not_rds_out" -> (col("kind") =!= "rds"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("one-exchange profile equals the two-aggregate formulation on " +
      "adversarial graphs") {
    (0 until 12).foreach { i =>
      val (ns, es) = caseGen(Gen.Parameters.default, Seed(11L + i))
        .getOrElse(sys.error(s"seed $i: no sample"))
      val nodeDf = ns.toDF("node_id")
      val edgeDf = (if (i == 0) Seq.empty[(String, String, String)] else es).toDF("src", "dst", "kind")
      val got = DegreeMetrics(nodeDf, "node_id", edgeDf, "src", "dst", profiles)
      val want = twoAggregates(nodeDf, "node_id", edgeDf, "src", "dst", profiles)
      assert(got.schema == want.schema, s"seed $i")
      assert(rows(got) == rows(want), s"seed $i: nodes $ns, edges $es")
    }
  }

  test("output schema: column order, LongType degrees, no nulls") {
    val out = DegreeMetrics(nodes, "node_id", edges, "src", "dst",
      Seq("rds_out" -> (col("dst_label") === "rds")))
    assert(out.columns.toSeq ==
      Seq("node_id", "out_degree", "rds_out", "in_degree", "is_entry_point"))
    Seq("out_degree", "rds_out", "in_degree").foreach { c =>
      assert(out.schema(c).dataType == LongType, c)
      assert(!out.schema(c).nullable, c)
    }
    assert(out.schema("is_entry_point").dataType == BooleanType)
    assert(!out.schema("is_entry_point").nullable)
  }

  /** Shuffles that feed an aggregation, in the plan before AQE runs it. */
  private def aggregationExchanges(df: DataFrame): Int = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect {
      case e: ShuffleExchangeExec if e.child.isInstanceOf[HashAggregateExec] => e
    }.size
  }

  test("the edge side plans one aggregation exchange (two aggregates " +
      "planned two)") {
    val rds = Seq("rds_out" -> (col("dst_label") === "rds"))
    assert(aggregationExchanges(
      DegreeMetrics(nodes, "node_id", edges, "src", "dst", rds)) == 1)
    assert(aggregationExchanges(
      twoAggregates(nodes, "node_id", edges, "src", "dst", rds)) == 2)
  }
}
