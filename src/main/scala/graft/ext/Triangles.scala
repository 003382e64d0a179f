package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the local-clustering signal for the
  * knowledge-graph side (community density, link-spam detection).
  *
  * Algorithm: degree-oriented adjacency intersection. Undirected edges
  * are canonicalized (a < b, self-loops dropped, duplicates collapsed),
  * oriented from the lower to the higher endpoint under the total order
  * (degree, id), and each vertex's OUT-neighbor list is collected into a
  * sorted array. Every triangle {u ≺ v ≺ w} is found exactly once at its
  * lowest edge (u→v) as w ∈ out(u) ∩ out(v).
  *
  * Why this shape survives 100 TB:
  *   - Orientation bounds EVERY out-list by O(√2m) — a degree-10⁶ hub
  *     has an out-list only of its few higher-ranked neighbors, so no
  *     row, array, or join key ever concentrates a celebrity vertex.
  *   - The per-edge work is one intersect of two bounded sorted arrays;
  *     nothing materializes the Σ C(outdeg,2) wedge set (an earlier
  *     wedge-join formulation did — measured 2.5× slower at sf0.1 even
  *     with the closing side broadcast).
  *   - Per-node counts come from ONE posexplode of plain ids
  *     (apex positions count 1, the two trailing endpoint positions
  *     count size(ws)) into a partial-aggregated sum — rows produced =
  *     3 × triangle count, the output's own size. Plain-long posexplode
  *     stays in codegen; the earlier struct-transform formulation ran
  *     the interpreted HOF path and measured ~2 s slower at sf0.1.
  *   - The adjacency table has one orientation-bounded row per vertex,
  *     broadcast by default — size caveats in `broadcastAdjacency`.
  *   - Only canon and oriented are eagerly materialized; the degree and
  *     adjacency aggregates recompute from those checkpoints per
  *     consumer — two cheap column aggs beat two more blocking jobs
  *     (measured; in the non-broadcast path the adjacency IS
  *     checkpointed, since both shuffle joins consume the full table).
  *
  * Emits (node, n_tri) for every node in at least one triangle.
  */
object Triangles {

  /** @param broadcastAdjacency broadcast the adjacency table (and the
    *   degree table) into the probe joins (default). Size honesty: the
    *   adjacency payload is Σ|outs| = the whole ORIENTED EDGE LIST (m
    *   ids), not one scalar per vertex — so the default suits graphs
    *   whose edge list fits an executor (up to ~10⁸ edges); beyond that
    *   pass false and both lookups become shuffle joins whose rows stay
    *   bounded by the orientation (~√2m elements each), which is the
    *   100 TB path. The hint matters at all because the tables sit on
    *   checkpointed frames whose stats AQE can't see: left to itself it
    *   sort-merges and shuffles every edge row WITH its array payload
    *   (measured 2× slower at sf0.1).
    */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String,
      broadcastAdjacency: Boolean = true): DataFrame = {
    val u = col(srcCol)
    val v = col(dstCol)
    // canon feeds the degree count and the orientation join — materialize
    // once (AQE does not reuse sibling stages, so the upstream edge
    // construction would otherwise re-run per consumer); two fixed-width
    // columns per edge, cheap at any scale
    // Parallelism.pin on this checkpoint was TRIED and REJECTED (r19):
    // below the distinct it skips map-side partial dedup (+60%); above
    // it, the extra exchange of the already-narrow edges costs more
    // than the 10-partition AQE-coalesced layout it fixes (interleaved
    // min-of-3: q_triangles −4% but q_triangles_approx +9%, q_kcore
    // +20% on the same shape — net regression). The pin only pays when
    // it REPLACES an exchange a consumer plans anyway (the Dedup
    // verify/signature sites); here the checkpoint layout is the
    // cheapest shape available.
    val canon = edges
      .where(u =!= v)
      .select(least(u, v).as("a"), greatest(u, v).as("b"))
      .distinct()
      .localCheckpoint(false)

    // recomputed from the canon checkpoint by each consumer — cheaper
    // than one more blocking checkpoint job (measured at sf0.1); one
    // explode scan, not a unionAll of two projections (the q_kcore A/B
    // recorded in commit fd08022 measured the same shape ~12% faster)
    val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

    // deg is per-vertex like the adjacency table — same broadcast contract
    val degA = deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da")
    val degB = deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db")
    val withDeg = canon
      .join(if (broadcastAdjacency) broadcast(degA) else degA, "a")
      .join(if (broadcastAdjacency) broadcast(degB) else degB, "b")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint(false) // feeds the adjacency agg AND the edge probe

    val outRaw = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("outs"))
    // broadcast path: each broadcast build re-aggregates from the
    // oriented checkpoint (cheap); shuffle path: both probe joins
    // consume the full table, so materialize it once
    val out = if (broadcastAdjacency) outRaw else outRaw.localCheckpoint(false)
    val adj = if (broadcastAdjacency) broadcast(out) else out
    val tris = oriented
      .join(adj.select(col("src"), col("outs").as("ou")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("outs").as("ov")), Seq("dst"))
      .select(col("src").as("u"), col("dst").as("v"),
        array_intersect(col("ou"), col("ov")).as("ws"))
      .where(size(col("ws")) > 0)

    // one posexplode of plain ids emits every (node, contribution) of the
    // edge's triangles: apex positions (pos < k) count 1; the two
    // trailing endpoint positions count k = |ws| each. No structs, no
    // HOFs — the whole finale stays in whole-stage codegen.
    tris
      .select(size(col("ws")).cast("long").as("k"),
        posexplode(concat(col("ws"), array(col("u"), col("v")))))
      .select(col("col").as("node"),
        when(col("pos") < col("k"), lit(1L)).otherwise(col("k")).as("c"))
      .groupBy(col("node"))
      .agg(sum(col("c")).as("n_tri"))
  }

  /** DOULION-style approximate per-node triangle counts by deterministic
    * edge sampling (Tsourakakis et al., KDD'09: keep each edge with
    * probability p, count triangles on the sample, scale by 1/p³).
    * Extends the reference's A9 per-node degree/density metrics
    * (`lambda/etl_deepflow/neptune_etl_deepflow.py:536-568`) with the
    * clustering signal its fused projection cannot express at scale.
    *
    * Why it exists: exact counting is WORK-bound, not plan-bound — the
    * true triangle count itself grows superlinearly on dense corpora
    * (measured 6.24×/decade on the co-purchase graph, PERF.md), so at
    * 100× the only lever is counting fewer of them. Sampling at p keeps
    * ~p² of the per-edge intersection work and ~p³ of the output rows.
    *
    * Determinism (the repo-wide no-`rand()` discipline, same scheme as
    * [[Splits.hashBucket]]): the coin for an undirected edge is an md5
    * bucket of its CANONICAL "a:b" key — both directions of the same
    * edge draw the same coin, every run and every engine lands on the
    * same sample, so the estimate is a pure function of the input.
    *
    * Estimator honesty: per-node estimates are unbiased but NOISY for
    * nodes with few triangles (a node whose triangles were all sampled
    * away reports no row at all); the estimator is meant for aggregate /
    * heavy-node readings. Global-sum relative error shrinks as
    * ~√((1/p³−1)/T) for T true triangles — see ApproxTrianglesSpec for
    * the measured bounds and q_triangles_approx in
    * `graft.queries.GraphQueries` for the estimate-vs-exact tolerance
    * gate.
    *
    * @param keepBuckets edges kept ⇔ md5 bucket ∈ [0, keepBuckets) of
    *   [0, buckets), i.e. p = keepBuckets/buckets (default 8/16 = ½,
    *   scale 8×). Counts are scaled by (buckets/keepBuckets)³.
    * @return (node, n_tri_est double) for nodes in ≥1 SAMPLED triangle
    */
  def approxPerNode(edges: DataFrame, srcCol: String, dstCol: String,
      keepBuckets: Int = 8, buckets: Int = 16,
      broadcastAdjacency: Boolean = true): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      "buckets must be in [2, 65536] (bucket space is 4 md5 nibbles)")
    require(keepBuckets >= 1 && keepBuckets <= buckets,
      "keepBuckets must be in [1, buckets]")
    val u = col(srcCol)
    val v = col(dstCol)
    // canonicalize BEFORE sampling so both directions of one undirected
    // edge share a coin; dedup inside perNode makes re-canon a no-op
    val canon = edges.where(u =!= v)
      .select(least(u, v).as("a"), greatest(u, v).as("b"))
    val bucket =
      Splits.hashBucket(concat_ws(":", col("a"), col("b"))) % buckets
    val scale = math.pow(buckets.toDouble / keepBuckets.toDouble, 3)
    perNode(canon.where(bucket < keepBuckets), "a", "b", broadcastAdjacency)
      .select(col("node"), (col("n_tri") * scale).as("n_tri_est"))
  }
}
