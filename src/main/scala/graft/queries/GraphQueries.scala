package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Graph algorithms over edge sets derived from the TPC-H and events
  * tables: traversals, walks, PageRank variants, triangles, cores,
  * label propagation and neighbourhood functions. */
object GraphQueries {

  /** Shared walk-corpus CTE chain ending in `wa(walk_id, step, node)`
    * — the q_walks output, reused by the skip-gram pair oracle. */
  private def walksCtes(walkLen: Int): String = {
    val prelude =
      """li AS (SELECT l_orderkey, l_partkey FROM lineitem
               WHERE l_partkey % 5 = 2),
         e0 AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                FROM li a JOIN li b USING (l_orderkey)
                WHERE a.l_partkey < b.l_partkey),
         e AS (SELECT x AS a, y AS b FROM e0
               UNION SELECT y, x FROM e0),
         w0 AS (SELECT DISTINCT a AS walk_id, a AS node FROM e)"""
    val steps = (1 to walkLen).map { t =>
      s"""c$t AS (SELECT w.walk_id, e.b AS v,
                  md5(w.walk_id || ':' || $t || ':' || e.b) AS h
               FROM w${t - 1} w JOIN e ON e.a = w.node),
         w$t AS (SELECT walk_id, v AS node FROM (
                   SELECT walk_id, v, row_number() OVER (
                     PARTITION BY walk_id ORDER BY h, v) AS rn
                   FROM c$t) WHERE rn = 1)"""
    }
    val all = (0 to walkLen)
      .map(t => s"SELECT walk_id, CAST($t AS INTEGER) AS step, node FROM w$t")
      .mkString("wa AS (", " UNION ALL ", ")")
    (Seq(prelude) ++ steps :+ all).mkString("WITH ", ",\n         ", "\n")
  }

  private def biasedWalksOracle(walkLen: Int, wr: Int, wc: Int,
      wf: Int): String = {
    val prelude =
      """li AS (SELECT l_orderkey, l_partkey FROM lineitem
               WHERE l_partkey % 7 = 1),
         e0 AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                FROM li a JOIN li b USING (l_orderkey)
                WHERE a.l_partkey < b.l_partkey),
         e AS (SELECT x AS a, y AS b FROM e0
               UNION SELECT y, x FROM e0),
         w0 AS (SELECT DISTINCT a AS walk_id, a AS node FROM e),
         c1 AS (SELECT w.walk_id, e.b AS v,
                  md5(w.walk_id || ':1:' || e.b) AS h
                FROM w0 w JOIN e ON e.a = w.node),
         w1 AS (SELECT walk_id, v AS node, walk_id AS prev FROM (
                  SELECT walk_id, v, row_number() OVER (
                    PARTITION BY walk_id ORDER BY h, v) AS rn
                  FROM c1) WHERE rn = 1)"""
    val steps = (2 to walkLen).map { t =>
      s"""c$t AS (SELECT f.walk_id, f.node AS cur, f.prev, e.b AS v
               FROM w${t - 1} f JOIN e ON e.a = f.node),
         x$t AS (SELECT c.walk_id, c.v,
                   CASE WHEN c.v = c.prev THEN $wr
                        WHEN a2.a IS NOT NULL THEN $wc
                        ELSE $wf END AS w
                 FROM c$t c LEFT JOIN e a2
                   ON a2.a = c.v AND a2.b = c.prev),
         r$t AS (SELECT walk_id, v,
                   CASE WHEN r = 0
                        THEN md5(walk_id || ':' || $t || ':' || v)
                        ELSE md5(walk_id || ':' || $t || ':' || v
                                 || ':' || r) END AS h
                 FROM x$t, UNNEST(range(0, w)) t(r)),
         w$t AS (SELECT p.walk_id, p.v AS node, f.node AS prev FROM (
                   SELECT walk_id, v, row_number() OVER (
                     PARTITION BY walk_id ORDER BY h, v) AS rn
                   FROM r$t) p JOIN w${t - 1} f USING (walk_id)
                 WHERE p.rn = 1)"""
    }
    val finals = (0 to walkLen)
      .map(t => s"SELECT walk_id, CAST($t AS INTEGER) AS step, node FROM w$t")
      .mkString(" UNION ALL ")
    (Seq(prelude) ++ steps).mkString("WITH ", ",\n         ", "\n") + finals
  }

  private def walksOracle(walkLen: Int): String =
    walksCtes(walkLen) + "SELECT walk_id, step, node FROM wa"

  private def walkPairsOracle(walkLen: Int, window: Int): String =
    walksCtes(walkLen) +
      s"""SELECT a.node AS center, b.node AS context,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM wa a JOIN wa b ON a.walk_id = b.walk_id
            AND a.step <> b.step AND abs(a.step - b.step) <= $window
          GROUP BY 1, 2"""

  private def ssspOracle(rounds: Int): String = {
    val prelude =
      """raw AS (SELECT CAST(l_suppkey AS BIGINT) AS src,
                    CAST(100000 + l_partkey % 100 AS BIGINT) AS dst,
                    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
         sym AS (SELECT src, dst, w FROM raw
                 UNION ALL SELECT dst, src, w FROM raw),
         e AS (SELECT src, dst, min(w) AS w FROM sym
               WHERE src <> dst GROUP BY 1, 2),
         d0 AS (SELECT CAST(node AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost
                FROM (VALUES (1), (2), (3)) t(node))"""
    val relax = (1 to rounds).map { r =>
      s"""d$r AS (SELECT node, min(cost) AS cost FROM (
               SELECT node, cost FROM d${r - 1}
               UNION ALL
               SELECT e.dst, d${r - 1}.cost + e.w FROM d${r - 1}
               JOIN e ON e.src = d${r - 1}.node) GROUP BY node)"""
    }
    (Seq(prelude) ++ relax).mkString("WITH ", ",\n         ", "\n") +
      s"SELECT node, cost FROM d$rounds"
  }

  val specs: Seq[QuerySpec] = Seq(
    // ── G5: 2-hop traversal over the relational edge encoding
    //    (supplier→part→order; etl_aws:1474-1476 documents the shape).
    QuerySpec("q_two_hop", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      // anchor predicate on the RAW key (not the derived concat) so it
      // reaches the parquet scan as PushedFilters: In(l_suppkey, [1,2,3]);
      // the tiny anchor leg is then broadcast — the big second leg is
      // never shuffled.
      val e1 = li.filter(col("l_suppkey").isin(1, 2, 3)).select(
        lit("Supplier").as("src_label"), concat(lit("s"), col("l_suppkey")).as("src_name"),
        lit("Supplies").as("edge_label"),
        lit("Part").as("dst_label"), concat(lit("p"), col("l_partkey")).as("dst_name"))
      val e2 = li.select(
        lit("Part").as("src_label"), concat(lit("p"), col("l_partkey")).as("src_name"),
        lit("OrderedIn").as("edge_label"),
        lit("Order").as("dst_label"), concat(lit("o"), col("l_orderkey")).as("dst_name"))
      graft.model.GraphStore.twoHop(broadcast(e1), e2, "Supplies", "OrderedIn")
        .groupBy(col("a_name"))
        .agg(countDistinct(col("m_name")).as("n_parts"),
          countDistinct(col("c_name")).as("n_orders"))
    },
      """WITH e1 AS (SELECT 's'||l_suppkey AS a, 'p'||l_partkey AS m
                     FROM lineitem WHERE 's'||l_suppkey IN ('s1','s2','s3')),
         e2 AS (SELECT 'p'||l_partkey AS m, 'o'||l_orderkey AS c FROM lineitem)
         SELECT a AS a_name, count(DISTINCT e1.m) AS n_parts,
                count(DISTINCT c) AS n_orders
         FROM e1 JOIN e2 ON e1.m = e2.m
         GROUP BY a"""),

    // ── Deterministic random-walk corpus (ext.Walks) on a fifth-sample
    //    of the co-purchase graph: 4 steps, neighbor picked by the
    //    md5("walk:step:neighbor") coin — seedless, engine-reproducible,
    //    SQL-replayable. Per step ONE join + one partial-aggregatable
    //    min(struct) per walk (hub-safe).
    QuerySpec("q_walks", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 5 === 2)
      graft.ext.Walks.deterministicWalks(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", walkLen = 4)
    },
      // the hash coin is replayed literally: md5 of the same string in
      // both engines, argmin under the same (h, v) order
      walksOracle(walkLen = 4)),

    // ── node2vec-biased walks (Walks.biasedWalks) on a seventh-sample:
    //    3 steps, integer bias weights (return 1, common 2, forward 4)
    //    ≙ (p=2, q=1/2) after normalizing by the common weight — the
    //    DFS-leaning regime; the weighted pick is salt-replication over the
    //    md5 coin — deterministic, exactly weighted, SQL-replayable.
    //    Per step the frontier join + ONE adjacency probe join (the
    //    honest cost of second-order bias).
    QuerySpec("q_biased_walks", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 7 === 1)
      graft.ext.Walks.biasedWalks(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", walkLen = 3, wReturn = 1, wCommon = 2, wForward = 4)
    },
      // second-order bias replayed literally: adjacency left join, CASE
      // weight, salt replicas via UNNEST(range(0, w)), conditional coin
      biasedWalksOracle(walkLen = 3, wr = 1, wc = 2, wf = 4)),

    // ── Skip-gram (center, context) pairs from the walk corpus
    //    (Walks.skipGramPairs): one shuffle on walk_id, then the window
    //    pairs explode IN-ROW from the walk-length-bounded path array —
    //    the word2vec-style co-occurrence table DeepWalk trains on.
    QuerySpec("q_walk_pairs", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 5 === 2)
      graft.ext.Walks.skipGramPairs(
        graft.ext.Walks.deterministicWalks(
          graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
          "u", "v", walkLen = 4),
        window = 2)
    },
      // the pair table from the SAME replayed corpus, windowed in SQL by
      // the step-distance join the operator does in-row
      walkPairsOracle(walkLen = 4, window = 2)),

    // ── ADAPTIVE connected components on a DEEP graph: per-user event
    //    chains (consecutive-by-time edges, diameter 49–86 at every SF)
    //    blow the 8-round min-label budget, so connectedAdaptive's
    //    large-star/small-star fallback fires ON THE CORPUS — gating the
    //    structural-fallback path's hash behavior per round, where the
    //    two existing component queries (shallow near-dup graphs) only
    //    ever take the min-label fast path. Oracle needs no recursive
    //    CTE: a chain's reachable-min is its user's min event_id.
    QuerySpec("q_components_adaptive", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // parallelism floor before the window: the events scan is a
      // single task on an under-split file, and the window exchange's
      // map side (ts conversion + projection + partitioning) would
      // otherwise run serially (Parallelism doc; no-op at scale)
      val edges = graft.model.Parallelism.floor(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts")))
        .withColumn("nxt", lead(col("event_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_id").as("src"), col("nxt").as("dst"))
      graft.ext.Components.connectedAdaptive(edges, "src", "dst",
        minLabelRounds = 8)
    },
      // chain components: every user's events form one path, so the
      // operator's reachable-min component is the user's min event_id —
      // the structure the query was built to stress (deep diameter), and
      // the reason no recursive closure CTE is needed here
      """WITH e AS (SELECT user_id, event_id,
             lead(event_id) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
           FROM events),
         n AS (SELECT user_id, event_id FROM e WHERE nxt IS NOT NULL
               UNION
               SELECT user_id, nxt AS event_id FROM e WHERE nxt IS NOT NULL)
         SELECT event_id AS node,
                min(event_id) OVER (PARTITION BY user_id) AS component
         FROM n"""),

    // ── Fixed-iteration PageRank over the supplier→part-bucket graph in
    //    INTEGER arithmetic (10¹² score grid, BIGINT floor division):
    //    bit-exact against the SQL oracle — a float PageRank never is.
    //    Graph centrality for the knowledge-graph side (ext.PageRank,
    //    iterations unrolled into ONE plan, inputs checkpointed once).
    QuerySpec("q_pagerank", (s, dir) =>
      graft.ext.PageRank.scores(
        Tables.lineitem(s, dir).select(col("l_suppkey").as("src"),
          (lit(100000) + col("l_partkey") % 100).as("dst")),
        "src", "dst", iterations = 3),
      // 3 unrolled integer iterations; every sum CAST back to BIGINT
      // (DuckDB sum() yields HUGEINT — the q_pack type-hash trap)
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                           CAST(100000 + l_partkey % 100 AS BIGINT) AS dst
                    FROM lineitem),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         outd AS (SELECT src, count(*) AS od FROM e GROUP BY src),
         c AS (SELECT (CAST(1000000000000 AS BIGINT) * 15)
                      // (100 * count(*)) AS base FROM nodes),
         s0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS score FROM nodes),
         m1 AS (SELECT e.dst AS id, CAST(sum(s0.score // outd.od) AS BIGINT) AS m
                FROM e JOIN s0 ON e.src = s0.id JOIN outd ON e.src = outd.src
                GROUP BY e.dst),
         s1 AS (SELECT n.id,
                       CAST((SELECT base FROM c) + 85 * COALESCE(m1.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m1 ON n.id = m1.id),
         m2 AS (SELECT e.dst AS id, CAST(sum(s1.score // outd.od) AS BIGINT) AS m
                FROM e JOIN s1 ON e.src = s1.id JOIN outd ON e.src = outd.src
                GROUP BY e.dst),
         s2 AS (SELECT n.id,
                       CAST((SELECT base FROM c) + 85 * COALESCE(m2.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m2 ON n.id = m2.id),
         m3 AS (SELECT e.dst AS id, CAST(sum(s2.score // outd.od) AS BIGINT) AS m
                FROM e JOIN s2 ON e.src = s2.id JOIN outd ON e.src = outd.src
                GROUP BY e.dst),
         s3 AS (SELECT n.id,
                       CAST((SELECT base FROM c) + 85 * COALESCE(m3.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m3 ON n.id = m3.id)
         SELECT id, score FROM s3"""),

    // ── Personalized (topic-sensitive) PageRank: teleport mass pinned to
    //    a 3-supplier seed set over the BIDIRECTIONAL supplier↔part-bucket
    //    graph, so proximity diffuses seed → bucket → co-supplier across
    //    the 3 unrolled iterations. Seed-expansion ranking for curation,
    //    same integer-exact contract as q_pagerank.
    QuerySpec("q_ppr", (s, dir) => {
      // narrow (a, b) frame materialized before the two-direction union —
      // both unionAll branches would otherwise re-scan lineitem (no AQE
      // sibling-stage reuse)
      val li = Tables.lineitem(s, dir).select(col("l_suppkey").as("a"),
        (lit(100000) + col("l_partkey") % 100).as("b"))
        .localCheckpoint()
      val edges = li.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(li.select(col("b").as("src"), col("a").as("dst")))
      graft.ext.PageRank.personalized(edges, "src", "dst",
        sources = Seq(1L, 2L, 3L), iterations = 3)
    },
      // same unrolled shape as q_pagerank; teleport pinned to seeds {1,2,3},
      // edges doubled into both directions before the DISTINCT
      """WITH d AS (SELECT CAST(l_suppkey AS BIGINT) AS a,
                           CAST(100000 + l_partkey % 100 AS BIGINT) AS b
                    FROM lineitem),
         e AS (SELECT DISTINCT a AS src, b AS dst FROM d
               UNION SELECT DISTINCT b AS src, a AS dst FROM d),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         outd AS (SELECT src, count(*) AS od FROM e GROUP BY src),
         s0 AS (SELECT id, CASE WHEN id IN (1, 2, 3)
                    THEN CAST(1000000000000 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS score FROM nodes),
         m1 AS (SELECT e.dst AS id, CAST(sum(s0.score // outd.od) AS BIGINT) AS m
                FROM e JOIN s0 ON e.src = s0.id JOIN outd ON e.src = outd.src
                GROUP BY e.dst),
         s1 AS (SELECT n.id,
                       CAST(CASE WHEN n.id IN (1, 2, 3)
                              THEN (CAST(1000000000000 AS BIGINT) * 15) // 300
                              ELSE 0 END
                            + 85 * COALESCE(m1.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m1 ON n.id = m1.id),
         m2 AS (SELECT e.dst AS id, CAST(sum(s1.score // outd.od) AS BIGINT) AS m
                FROM e JOIN s1 ON e.src = s1.id JOIN outd ON e.src = outd.src
                GROUP BY e.dst),
         s2 AS (SELECT n.id,
                       CAST(CASE WHEN n.id IN (1, 2, 3)
                              THEN (CAST(1000000000000 AS BIGINT) * 15) // 300
                              ELSE 0 END
                            + 85 * COALESCE(m2.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m2 ON n.id = m2.id),
         m3 AS (SELECT e.dst AS id, CAST(sum(s2.score // outd.od) AS BIGINT) AS m
                FROM e JOIN s2 ON e.src = s2.id JOIN outd ON e.src = outd.src
                GROUP BY e.dst),
         s3 AS (SELECT n.id,
                       CAST(CASE WHEN n.id IN (1, 2, 3)
                              THEN (CAST(1000000000000 AS BIGINT) * 15) // 300
                              ELSE 0 END
                            + 85 * COALESCE(m3.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m3 ON n.id = m3.id)
         SELECT id, score FROM s3"""),

    // ── Triangle counting on the part co-purchase graph (parts sharing an
    //    order): degree-oriented adjacency intersection — hubs emit no
    //    wedges from their own adjacency, so the work is O(m^1.5) not
    //    Θ(Σdeg²) (ext.Triangles). Edge generation is the posting-list
    //    pattern (ext.Basket.coPairs: groupBy order + in-row pair
    //    expansion), NOT a self-join on the order key: one shuffle of
    //    narrow rows instead of two join sides, measured ~0.8 s faster at
    //    sf0.1. Per-order expansion is bounded by the order's own line
    //    count — TPC-H caps it at 7, so the coPairs maxBasket guard stays
    //    off here; a real corpus with hot baskets opts in.
    QuerySpec("q_triangles", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      graft.ext.Triangles.perNode(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"), "u", "v")
    },
      // id-ordered naive enumeration — same triangle set as the operator's
      // degree-oriented join (each triangle once, as a<b<c)
      """WITH e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
               FROM e e1 JOIN e e2 ON e2.x = e1.y
                         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
         n AS (SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
         SELECT node, count(*) AS n_tri FROM n GROUP BY node"""),

    // ── APPROXIMATE triangle counting (ext.Triangles.approxPerNode,
    //    DOULION deterministic md5-bucket edge sampling at p=1/2): the
    //    100× path for the corpus's one WORK-bound superlinear scaler —
    //    the exact triangle count itself grows 6.24×/decade (PERF.md),
    //    so at scale the only lever is counting fewer of them; sampling
    //    keeps ~p² of the intersect work and ~p³ of the output. Sketch
    //    estimates have no SQL oracle, so the driver-hashable contract
    //    is the q_hll_daily twin pattern: exact count + a
    //    within-tolerance boolean. Tolerance 15% ≈ 7× the worst
    //    measured relerr on this graph across the three SFs (2.1% /
    //    0.45% / 0.27% at sf0.001/0.01/0.1 — PERF.md "Approximate
    //    triangles"); the estimate is DETERMINISTIC (pure function of
    //    the input), so the margin only guards testdata re-rolls, not
    //    run-to-run noise.
    //    Even-part subgraph (the q_label_prop sampling practice) keeps
    //    the twin's exact side lean in the bench; the full-graph
    //    accuracy + wall-time A/B lives in PERF.md.
    QuerySpec("q_triangles_approx", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 2 === 0)
      // both the exact twin and the sample read the same edge list —
      // materialize it once (AQE does not reuse sibling stages)
      val edges = graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey")
        .localCheckpoint()
      val exact = graft.ext.Triangles.perNode(edges, "u", "v")
        .agg((sum(col("n_tri")) / 3).cast("long").as("n_tri_exact"))
      val est = graft.ext.Triangles.approxPerNode(edges, "u", "v")
        .agg((sum(col("n_tri_est")) / 3).as("t_est"))
      // single-row × single-row attach
      exact.crossJoin(est).select(col("n_tri_exact"),
        (abs(col("t_est") - col("n_tri_exact"))
          <= col("n_tri_exact") * 0.15).as("approx_ok"))
    },
      // the sampled estimate is engine-specific; the hashable contract is
      // the exact global count + a within-tolerance boolean (see the query
      // comment for the measured margins)
      """WITH e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               WHERE a.l_partkey % 2 = 0 AND b.l_partkey % 2 = 0),
         tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
               FROM e e1 JOIN e e2 ON e2.x = e1.y
                         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
         SELECT count(*) AS n_tri_exact, TRUE AS approx_ok FROM tri"""),

    // ── k-core decomposition of the part co-purchase graph: 3 fixed
    //    peeling rounds at k=60 (ext.KCore) — per round ONE degree
    //    aggregate + two semi joins against the shrinking keep set.
    //    Density filtering for the graph side.
    QuerySpec("q_kcore", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      graft.ext.KCore.survivors(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", k = 60, rounds = 3)
    },
      // 3 unrolled peel rounds; keep-set filtering via inner joins on the
      // distinct keep list (= left-semi, DuckDB-efficient)
      // AS MATERIALIZED on every peel stage: DuckDB inlines un-hinted
      // CTEs, so each ek re-computed the quadratic e0 self-join — at the
      // sf1 gate that nested join tree spilled past the free disk; hinted
      // it runs in 11 s (evaluation strategy only, same rows)
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         e0 AS MATERIALIZED (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
                       greatest(a.l_partkey, b.l_partkey) AS y
                FROM li a JOIN li b USING (l_orderkey)
                WHERE a.l_partkey < b.l_partkey),
         d1 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                (SELECT x AS n FROM e0 UNION ALL SELECT y FROM e0) GROUP BY 1),
         k1 AS MATERIALIZED (SELECT n FROM d1 WHERE c >= 60),
         e1 AS MATERIALIZED (SELECT x, y FROM e0 JOIN k1 ka ON e0.x = ka.n
                                    JOIN k1 kb ON e0.y = kb.n),
         d2 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                (SELECT x AS n FROM e1 UNION ALL SELECT y FROM e1) GROUP BY 1),
         k2 AS MATERIALIZED (SELECT n FROM d2 WHERE c >= 60),
         e2 AS MATERIALIZED (SELECT x, y FROM e1 JOIN k2 ka ON e1.x = ka.n
                                    JOIN k2 kb ON e1.y = kb.n),
         d3 AS MATERIALIZED (SELECT n, count(*) AS c FROM
                (SELECT x AS n FROM e2 UNION ALL SELECT y FROM e2) GROUP BY 1),
         k3 AS MATERIALIZED (SELECT n FROM d3 WHERE c >= 60),
         e3 AS MATERIALIZED (SELECT x, y FROM e2 JOIN k3 ka ON e2.x = ka.n
                                    JOIN k3 kb ON e2.y = kb.n)
         SELECT n AS node, count(*) AS core_deg FROM
         (SELECT x AS n FROM e3 UNION ALL SELECT y FROM e3) GROUP BY 1"""),

    // ── Community detection by synchronous label propagation (2 rounds)
    //    on a quarter-sample of the part co-purchase graph: per round ONE
    //    edge⋈label join and TWO hash aggregates — the per-node argmax is
    //    a single max(struct(cnt, −label)), partial-aggregatable, so no
    //    window sort and no hot-node partition (ext.LabelProp).
    QuerySpec("q_label_prop", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 4 === 0)
      graft.ext.LabelProp.propagate(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", rounds = 2)
    },
      // two unrolled synchronous rounds; per round the argmax (max count,
      // tie → min label) is a row_number under (c DESC, label) — the same
      // semantics the operator folds into one max(struct(c, −label)) agg
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_partkey % 4 = 0),
         e0 AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                FROM li a JOIN li b USING (l_orderkey)
                WHERE a.l_partkey < b.l_partkey),
         e AS (SELECT x AS a, y AS b FROM e0
               UNION SELECT y, x FROM e0),
         l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
         c1 AS (SELECT e.a AS node, l.label, count(*) AS c
                FROM e JOIN l0 l ON e.b = l.node GROUP BY 1, 2),
         r1 AS (SELECT node, label FROM (
                  SELECT node, label,
                         row_number() OVER (PARTITION BY node
                                            ORDER BY c DESC, label) AS rn
                  FROM c1) WHERE rn = 1),
         c2 AS (SELECT e.a AS node, l.label, count(*) AS c
                FROM e JOIN r1 l ON e.b = l.node GROUP BY 1, 2),
         r2 AS (SELECT node, label FROM (
                  SELECT node, label,
                         row_number() OVER (PARTITION BY node
                                            ORDER BY c DESC, label) AS rn
                  FROM c2) WHERE rn = 1)
         SELECT node, label FROM r2"""),

    // ── Multi-source BFS hop distances (ext.Bfs) on a third-sample of
    //    the part co-purchase graph, seeds = partkeys ≡ 0 (mod 30),
    //    depth 3: per round ONE frontier⋈edges join + distinct + anti
    //    join — each node emitted once at its FIRST depth, no
    //    min-over-paths aggregate (the oracle's recursive closure
    //    re-derives it as min(dist)).
    QuerySpec("q_bfs", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 3 === 0)
      graft.ext.Bfs.distances(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v",
        li.filter(col("l_partkey") % 30 === 0)
          .select(col("l_partkey")).distinct(),
        "l_partkey", maxDepth = 3)
    },
      // depth-bounded recursive closure with a set-semantics UNION (state
      // bounded at nodes×depth, not path multiplicities), then min(dist) —
      // the operator's first-settle frontier discipline IS that minimum
      """WITH RECURSIVE li AS (SELECT l_orderkey, l_partkey FROM lineitem
                               WHERE l_partkey % 3 = 0),
         e0 AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                FROM li a JOIN li b USING (l_orderkey)
                WHERE a.l_partkey < b.l_partkey),
         e AS (SELECT x AS a, y AS b FROM e0
               UNION SELECT y, x FROM e0),
         seeds AS (SELECT DISTINCT l_partkey AS node FROM li
                   WHERE l_partkey % 30 = 0),
         walk(node, dist) AS (
           SELECT node, 0 FROM seeds
           UNION
           SELECT e.b, walk.dist + 1 FROM walk JOIN e ON e.a = walk.node
           WHERE walk.dist < 3)
         SELECT node, CAST(min(dist) AS INTEGER) AS dist
         FROM walk GROUP BY node"""),

    // ── Bounded-round Bellman–Ford (ext.Sssp) over the supplier↔
    //    part-bucket bipartite graph (q_ppr's shape) with integer
    //    quantity weights: 4 relax rounds = exact min cost over ≤4-edge
    //    paths, one shuffle join + one min-agg per round, all BIGINT.
    QuerySpec("q_sssp", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.ext.Sssp.boundedCosts(
        li.select(col("l_suppkey").as("src"),
          (lit(100000L) + col("l_partkey") % 100).as("dst"),
          col("l_quantity").cast("long").as("w")),
        "src", "dst", "w",
        li.sparkSession.range(1, 4).toDF("id"), "id",
        rounds = 4, undirected = true)
    },
      // unrolled Bellman–Ford relax rounds — the round-r frame is the
      // exact min cost over ≤r-edge paths, so the CTE chain IS the
      // operator's invariant
      ssspOracle(rounds = 4)),

    // ── HyperBall neighborhood function (ext.HyperBall): HLL registers
    //    propagated 2 rounds over the q_bfs co-purchase graph — m=128
    //    max-columns in ONE codegen hash aggregate per round (hub
    //    register sets collapse map-side), vs the exact d≤2 closure
    //    twin; per-radius tolerance booleans. The centrality profile
    //    exact all-pairs BFS cannot afford at 100 TB.
    QuerySpec("q_hyperball", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 3 === 0)
      // symmetrized ONCE (itself checkpointed): feeds the sketch AND
      // the exact twin — the review-r11 double-explode fix
      val e = graft.ext.Graphs.symmetrized(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"), "u", "v")
      val est = graft.ext.HyperBall.neighborhoodOnSymmetrized(e,
        maxRadius = 2, p = 7)
      val self = e.select(col("src").as("a"), col("src").as("b"))
      val d1 = e.select(col("src").as("a"), col("dst").as("b"))
      val d2 = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("a"), col("y.dst").as("b"))
      // NOTE r19: a fused single-distinct variant (tag ≤1-hop pairs,
      // count both radii off one deduped pass) measured +5% on a
      // min-of-3 interleaved A/B — the two branches below run as
      // independent AQE stages and the smaller b1 dedup beats the
      // wider tagged one. Kept as-is, rejection recorded in
      // OPTIMIZATION_r19.md.
      val b1 = self.union(d1).distinct()
        .agg(count(lit(1)).as("n_exact")).select(lit(1).as("radius"),
          col("n_exact"))
      val b2 = self.union(d1).union(d2).distinct()
        .agg(count(lit(1)).as("n_exact")).select(lit(2).as("radius"),
          col("n_exact"))
      b1.union(b2).join(est, "radius")
        .select(col("radius"), col("n_exact"),
          (abs(col("est_sum") - col("n_exact"))
            <= col("n_exact") * 0.15).as("approx_ok"))
    },
      // exact d≤2 closure per radius (self ∪ neighbors ∪ 2-step), with the
      // tolerance boolean pinned TRUE — the estimate-vs-exact twin pattern
      // (q_triangles_approx): a sketch drifting past 15% of the exact
      // neighborhood function hash-mismatches
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_partkey % 3 = 0),
         e0 AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                FROM li a JOIN li b USING (l_orderkey)
                WHERE a.l_partkey < b.l_partkey),
         e AS (SELECT x AS a, y AS b FROM e0 UNION SELECT y, x FROM e0),
         self AS (SELECT DISTINCT a, a AS b FROM e),
         d2 AS (SELECT e1.a, e2.b FROM e e1 JOIN e e2 ON e1.b = e2.a),
         b1 AS (SELECT count(*) AS n FROM
                  (SELECT a, b FROM self UNION SELECT a, b FROM e)),
         b2 AS (SELECT count(*) AS n FROM
                  (SELECT a, b FROM self UNION SELECT a, b FROM e
                   UNION SELECT a, b FROM d2))
         SELECT 1 AS radius, (SELECT n FROM b1) AS n_exact, TRUE AS approx_ok
         UNION ALL
         SELECT 2, (SELECT n FROM b2), TRUE"""),

    // ── Corpus harmonic centrality, estimated vs exact (ext.HyperBall
    //    .harmonicCentrality on the q_bfs co-purchase graph, radius 2):
    //    Σ_v [(|B(v,1)|−1)/1 + (|B(v,2)|−|B(v,1)|)/2] — the exact twin
    //    derives per-node ball sizes from the d≤1/d≤2 closures; the
    //    sketch total must land within 15%. Per-node HLL noise (~9%)
    //    partially cancels in the sum; the gate is the corpus statistic.
    QuerySpec("q_harmonic", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 3 === 0)
      // symmetrized ONCE for both the sketch and the exact twin
      val e = graft.ext.Graphs.symmetrized(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"), "u", "v")
      val est = graft.ext.HyperBall.harmonicOnSymmetrized(e,
          maxRadius = 2, p = 7)
        .agg(sum(col("harmonic_micro")).as("h_est"))
      // NOTE r19: a fused two-countDistinct variant (tag direct edges
      // in d2p, one grouped aggregate, no b1⋈b2 join) measured +4% on
      // a min-of-3 interleaved A/B — the Expand the dual countDistinct
      // plans doubles the ≤2-hop frame, costing more than the saved
      // scan + join. Kept as-is, rejection in OPTIMIZATION_r19.md.
      val b1 = e.groupBy(col("src")).agg(countDistinct(col("dst")).as("d1"))
      val d2 = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
        .union(e.select(col("src"), col("dst")))
        .filter(col("src") =!= col("dst"))
      val b2 = d2.groupBy(col("src")).agg(countDistinct(col("dst")).as("d2"))
      // exact µ-harmonic is INTEGER: d1·10⁶ + (d2−d1)·5·10⁵ — a float
      // sum here would hash-drift with accumulation order
      val exact = b1.join(b2, "src")
        .select((col("d1") * lit(1000000L)
          + (col("d2") - col("d1")) * lit(500000L)).as("h"))
        .agg(sum(col("h")).as("h_exact"))
      exact.crossJoin(est).select(col("h_exact"),
        (abs(col("h_est") - col("h_exact"))
          <= col("h_exact") * 0.15).as("approx_ok"))
    },
      // exact per-node d≤1/d≤2 ball sizes from the closure, µ-harmonic as
      // the INTEGER d1·10⁶+(d2−d1)·5·10⁵ (a float sum would hash-drift),
      // tolerance boolean pinned TRUE — the q_hyperball twin pattern
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_partkey % 3 = 0),
         e0 AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                FROM li a JOIN li b USING (l_orderkey)
                WHERE a.l_partkey < b.l_partkey),
         e AS (SELECT x AS a, y AS b FROM e0 UNION SELECT y, x FROM e0),
         b1 AS (SELECT a, count(DISTINCT b) AS d1 FROM e GROUP BY a),
         d2p AS (SELECT e1.a, e2.b FROM e e1 JOIN e e2 ON e1.b = e2.a
                 UNION SELECT a, b FROM e),
         b2 AS (SELECT a, count(DISTINCT b) AS d2 FROM d2p
                WHERE a <> b GROUP BY a)
         SELECT CAST(sum(d1 * 1000000 + (d2 - d1) * 500000) AS BIGINT)
                  AS h_exact,
                TRUE AS approx_ok
         FROM b1 JOIN b2 USING (a)"""),

    // ── WEIGHTED PageRank (ext.PageRank.weightedScores) on the
    //    supplier↔part-bucket graph with quantity weights (q_sssp's
    //    edges): score flows as ⌊score·w/W⌋ — the affinity-weighted
    //    authority ranking; same integer-exact DECIMAL(38,0) + guarded
    //    message-sum contract as q_pagerank, 2 unrolled iterations.
    QuerySpec("q_pagerank_weighted", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.ext.PageRank.weightedScores(
        li.select(col("l_suppkey").as("src"),
          (lit(100000L) + col("l_partkey") % 100).as("dst"),
          col("l_quantity").cast("long").as("w")),
        "src", "dst", "w", iterations = 2)
    },
      // two unrolled weighted iterations: parallel edges SUM-collapsed,
      // HUGEINT score·w (the BIGINT product would overflow at sf1's
      // summed weights), floor quotient, same base/damp arithmetic as
      // q_pagerank
      """WITH d AS (SELECT CAST(l_suppkey AS BIGINT) AS src,
                           CAST(100000 + l_partkey % 100 AS BIGINT) AS dst,
                           CAST(l_quantity AS BIGINT) AS w
                    FROM lineitem WHERE l_quantity > 0),
         e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
               FROM d GROUP BY 1, 2),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wd
                  FROM e GROUP BY src),
         c AS (SELECT (CAST(1000000000000 AS BIGINT) * 15)
                      // (100 * count(*)) AS base FROM nodes),
         s0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS score
                FROM nodes),
         m1 AS (SELECT e.dst AS id,
                  CAST(sum(CAST(s0.score AS HUGEINT) * e.w // outw.wd)
                       AS BIGINT) AS m
                FROM e JOIN s0 ON e.src = s0.id
                       JOIN outw ON e.src = outw.src
                GROUP BY e.dst),
         s1 AS (SELECT n.id,
                  CAST((SELECT base FROM c)
                       + 85 * COALESCE(m1.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m1 ON n.id = m1.id),
         m2 AS (SELECT e.dst AS id,
                  CAST(sum(CAST(s1.score AS HUGEINT) * e.w // outw.wd)
                       AS BIGINT) AS m
                FROM e JOIN s1 ON e.src = s1.id
                       JOIN outw ON e.src = outw.src
                GROUP BY e.dst),
         s2 AS (SELECT n.id,
                  CAST((SELECT base FROM c)
                       + 85 * COALESCE(m2.m, 0) // 100 AS BIGINT) AS score
                FROM nodes n LEFT JOIN m2 ON n.id = m2.id)
         SELECT id, score FROM s2"""),

    // ── k-truss backbone of the co-purchase graph (ext.KTruss): k=4,
    //    2 simultaneous peeling rounds — per round one degree-oriented
    //    intersection (out-lists bounded O(√2m), hubs never
    //    concentrate), 3 canonical edge keys per triangle into a
    //    partial-aggregated support count, survivor semi join. The
    //    edge-level cohesion filter one rung above q_kcore.
    QuerySpec("q_ktruss", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 6 === 0)
      graft.ext.KTruss.survivors(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", k = 4, rounds = 2)
    },
      // two unrolled peeling rounds: triangles found once at x<y<z (the
      // canonical-edge join), support = the 3 role projections counted,
      // survivors re-evaluated on the ROUND-1 edge set — a single edge
      // kept or peeled differently anywhere hash-mismatches
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                     WHERE l_partkey % 6 = 0),
         e1 AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                FROM li x JOIN li y USING (l_orderkey)
                WHERE x.l_partkey < y.l_partkey),
         t1 AS (SELECT p.a AS x, p.b AS y, q.b AS z
                FROM e1 p JOIN e1 q ON q.a = p.b
                JOIN e1 r ON r.a = p.a AND r.b = q.b),
         s1 AS (SELECT a, b, count(*) AS s FROM (
                  SELECT x AS a, y AS b FROM t1
                  UNION ALL SELECT y, z FROM t1
                  UNION ALL SELECT x, z FROM t1)
                GROUP BY a, b),
         e2 AS (SELECT a, b FROM e1 JOIN s1 USING (a, b) WHERE s >= 2),
         t2 AS (SELECT p.a AS x, p.b AS y, q.b AS z
                FROM e2 p JOIN e2 q ON q.a = p.b
                JOIN e2 r ON r.a = p.a AND r.b = q.b),
         s2 AS (SELECT a, b, count(*) AS s FROM (
                  SELECT x AS a, y AS b FROM t2
                  UNION ALL SELECT y, z FROM t2
                  UNION ALL SELECT x, z FROM t2)
                GROUP BY a, b)
         SELECT a, b FROM e2 JOIN s2 USING (a, b) WHERE s >= 2""")
  )
}
