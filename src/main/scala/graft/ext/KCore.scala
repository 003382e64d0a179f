package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by fixed-round peeling — the graph-density
  * filter for community detection and spam/noise pruning: the k-core is
  * the maximal subgraph where every vertex keeps degree ≥ k after all
  * lower-degree vertices (and their edges) are iteratively removed.
  *
  * `rounds` bounds the peeling (each round removes every currently
  * under-degree vertex at once); once a round removes nothing the result
  * is the true k-core and further rounds are no-ops, so the output is
  * deterministic for any rounds ≥ the peel depth. Fixed rounds keep the
  * operator oracle-expressible (unrolled CTEs, same pattern as the
  * integer PageRank) and the plan depth bounded.
  *
  * Shape for 100 TB: per round, ONE degree aggregate over the surviving
  * edge list and two semi joins against the under-k node set (which only
  * shrinks). Edges are materialized per round (localCheckpoint) — the
  * next round's aggregate would otherwise replan the whole prefix (AQE
  * does not reuse sibling stages; same contract as Components). Peeling
  * is monotone: rows only ever decrease, so the worst round costs one
  * scan of the current edge list.
  *
  * Emits (node, core_deg) for every vertex surviving `rounds` peels,
  * with its degree inside the surviving subgraph.
  */
object KCore {

  /** @param broadcastKeep broadcast the per-round keep set into the two
    *   semi joins (default). One scalar per surviving VERTEX — fine up
    *   to ~10⁸ nodes; beyond that pass false and the joins shuffle on
    *   the node key (the 100 TB path), same contract as
    *   [[Triangles.perNode]]'s adjacency hint. */
  def survivors(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, broadcastKeep: Boolean = true): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val u = col(srcCol)
    val v = col(dstCol)
    // Parallelism.pin on this canon was TRIED and REJECTED (r19, the
    // Triangles-twin measurement): the added post-distinct exchange
    // costs more per peel than the AQE-coalesced layout it would fix
    // (interleaved min-of-3: q_kcore +20%). See Triangles.perNode for
    // the full adjudication.
    var e = edges
      .where(u =!= v)
      .select(least(u, v).as("a"), greatest(u, v).as("b"))
      .distinct()
      .localCheckpoint(false)

    // ONE scan of the edge frame (explode of the endpoint pair), not a
    // unionAll of two projections that each re-read it — measured
    // 2.6 → 2.3 s for the full q_kcore pipeline at sf0.1 (per-pass
    // minima, same-JVM interleaved A/B recorded in commit fd08022)
    def degrees(es: DataFrame): DataFrame = es
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))

    (1 to rounds).foreach { _ =>
      // NOT checkpointed: the keep set feeds both semi joins, but a
      // per-round blocking materialization job costs MORE than the
      // duplicated degree aggregate the two broadcast builds run
      // (measured at sf0.1: 3.2 s → 3.9 s with the checkpoint)
      val keepRaw = degrees(e).filter(col("core_deg") >= k).select(col("node"))
      val keep = if (broadcastKeep) broadcast(keepRaw) else keepRaw
      e = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(false)
    }
    degrees(e)
  }
}
