package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A9/G3 — per-node degree profile. The reference fuses four Gremlin
  * traversals into one `project()` per service
  * (`lambda/etl_deepflow/neptune_etl_deepflow.py:536-568`, one request per
  * node); here it is ONE aggregation over the edge table plus one join —
  * O(edges) total, not O(nodes) requests:
  *
  *   out_degree, in_degree, label-filtered out-degrees (e.g. calls to
  *   datastores), and `is_entry_point = (in_degree == 0)`
  *   (`etl_deepflow:603-612`).
  *
  * Each edge explodes into two endpoint rows, `(src, out=1, in=0,
  * flags…)` and `(dst, out=0, in=1, null…)`, and one group-by on the
  * endpoint sums them: one scan and one exchange of the edges, where an
  * out- and an in-aggregation would scan and shuffle them twice.
  */
object DegreeMetrics {
  /** @param filteredOut extra out-degree columns: name → predicate over the
    *                    edge row (e.g. only edges to RDS-labeled targets);
    *                    a row whose predicate is null does not count. */
  def apply(
      nodes: DataFrame,
      nodeKey: String,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      filteredOut: Seq[(String, Column)] = Nil
  ): DataFrame = {
    // positional field names: no clash with the caller's column names
    val flags = filteredOut.indices.map(i => s"_f$i")
    def endpoint(key: Column, out: Long, flagCols: Seq[Column]): Column =
      struct(key.as("_ep") +: lit(out).as("_out") +: lit(1L - out).as("_in") +:
        flagCols.zip(flags).map { case (c, f) => c.as(f) }: _*)
    val aggs = sum(col("_out")).as("out_degree") +:
      filteredOut.zip(flags).map { case ((n, _), f) => count(col(f)).as(n) } :+
      sum(col("_in")).as("in_degree")
    val degrees = edges
      .select(inline(array(
        endpoint(col(srcCol), 1L, filteredOut.map { case (_, p) => when(p, 1) }),
        endpoint(col(dstCol), 0L, flags.map(_ => lit(null).cast("int"))))))
      .groupBy(col("_ep").as(nodeKey))
      .agg(aggs.head, aggs.tail: _*)

    val filled = (("out_degree", 0L) +: ("in_degree", 0L) +:
      filteredOut.map { case (n, _) => (n, 0L) }).toMap

    nodes
      .join(degrees, Seq(nodeKey), "left_outer")
      .na.fill(filled)
      .withColumn("is_entry_point", col("in_degree") === 0L)
  }
}
