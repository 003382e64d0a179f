package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops._

/** The reference ETL surface and its relational neighbours: the flow
  * rollup, topology merge-upsert, anti-join GC and declared-dependency
  * pipelines, the warehouse pushdown faces, joins, windows, grouping
  * sets and per-group statistics over the TPC-H and events tables. */
object RelationalQueries {

  /** Shared inputs of q_topology and q_snapshot_diff: store = all
    * customers (healthy, stamped); snapshot drops custkey%5==0 (ghosts)
    * and adds custkey%7==0 shifted by 100000 (creates); alarms =
    * customers with failed orders. */
  private def topologyInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val c = Tables.customer(s, dir)
    val store = c.select(
      lit("Account").as("label"), col("c_custkey").cast("string").as("name"),
      lit("healthy").as("health_status"), lit(0L).as("last_updated"),
      (col("c_custkey") % 1000).cast("long").as("first_seen"))
    val snapshot = c.filter(col("c_custkey") % 5 =!= 0)
      .select(lit("Account").as("label"),
        col("c_custkey").cast("string").as("name"))
      .unionByName(c.filter(col("c_custkey") % 7 === 0)
        .select(lit("Account").as("label"),
          (col("c_custkey") + 100000).cast("string").as("name")))
    val alarms = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(lit("Account").as("label"),
        col("o_custkey").cast("string").as("name"))
      .distinct()
    (store, snapshot, alarms)
  }

  /** Shared by q_topology and q_snapshot_diff (which diffs against the
    * same run) — one source of truth for the pipeline semantics. */
  private val topologyOracle: String =
    """WITH store AS (SELECT 'Account' AS label,
                               CAST(c_custkey AS VARCHAR) AS name,
                               CAST(c_custkey % 1000 AS BIGINT) AS fs0
                        FROM customer),
         snap AS (SELECT 'Account' AS label, CAST(c_custkey AS VARCHAR) AS name
                  FROM customer WHERE c_custkey % 5 <> 0
                  UNION ALL
                  SELECT 'Account', CAST(c_custkey + 100000 AS VARCHAR)
                  FROM customer WHERE c_custkey % 7 = 0),
         alarms AS (SELECT DISTINCT 'Account' AS label,
                           CAST(o_custkey AS VARCHAR) AS name
                    FROM orders WHERE o_orderstatus = 'F')
         SELECT s.label, s.name,
                CASE WHEN a.name IS NOT NULL THEN 'degraded'
                     ELSE 'healthy' END AS health_status,
                CAST(1700000000 AS BIGINT) AS last_updated,
                COALESCE(st.fs0, 1700000000) AS first_seen
         FROM snap s
         LEFT JOIN store st ON s.label = st.label AND s.name = st.name
         LEFT JOIN alarms a ON s.label = a.label AND s.name = a.name"""

  /** Stages the warehouse faces' input — the event_id%10 demo subset
    * with value as integer cents — into the in-memory warehouse and
    * returns the source's read over it: one table, or (`sharded`) two
    * shard tables split on (event_id div 10) % 2 and listed together
    * in `dbtable`. */
  private def warehouseEvents(s: SparkSession, dir: String,
      sharded: Boolean): DataFrame = {
    val url = graft.sources.Warehouse.memoryUrl("graftwh")
    val base = Tables.events(s, dir)
      .filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("value") * 100).cast("long").as("cents"))
    val tag = math.abs(dir.hashCode).toString
    val dbtable =
      if (!sharded) {
        graft.sources.Warehouse.stage(base, url, "evw" + tag)
        "evw" + tag
      } else {
        val (t0, t1) = ("evwp0" + tag, "evwp1" + tag)
        graft.sources.Warehouse.stage(
          base.filter(expr("(event_id div 10) % 2 = 0")), url, t0)
        graft.sources.Warehouse.stage(
          base.filter(expr("(event_id div 10) % 2 = 1")), url, t1)
        s"$t0,$t1"
      }
    s.read.format("graft.sources.WarehouseSource")
      .option("url", url).option("dbtable", dbtable).load()
  }

  /** The cents rollup over the event_id%10 subset — shared by
    * q_warehouse_rollup and q_warehouse_partial (the sharded posture
    * merges its per-shard partials to the same rows). */
  private val warehouseRollupOracle: String =
    """SELECT event_type,
         count(event_id) AS n_events,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         max(user_id) AS max_user
         FROM (SELECT event_id, user_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE cents >= 500
         GROUP BY event_type"""

  val specs: Seq[QuerySpec] = Seq(
    // ── A1+A2+A15 (+P1/P3): hot-path flow rollup —
    //    etl_deepflow/neptune_etl_deepflow.py:633-646.
    // time cutoff 2024-01-08 00:00 UTC = 1704672000, applied pre-conversion
    // so it reaches the parquet scan (see Tables.eventsSince).
    QuerySpec("q_flow_rollup", (s, dir) =>
      FlowRollup(
        Tables.eventsSince(s, dir, 1704672000L),
        srcCol = "user_id",
        dstCol = "event_type",
        valueCol = "value",
        timePredicate = lit(true),
        errPredicate = col("value") >= 30.0
      ),
      """SELECT user_id, event_type,
         count(*) AS calls,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
         count(*) FILTER (WHERE value >= 30.0) AS err_count,
         round(quantile_cont(value, 0.99), 4) AS p99_value
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND user_id IS NOT NULL AND event_type IS NOT NULL
         GROUP BY user_id, event_type
         HAVING count(*) >= 2
         ORDER BY calls DESC, user_id, event_type
         LIMIT 100"""),

    // ── S1 as a CAPABILITY, not just an encoding: the reference sends
    //    its rollup INTO ClickHouse as SQL and receives aggregated rows
    //    (etl_deepflow/neptune_etl_deepflow.py:633-646); the DSv2
    //    warehouse source does the same — the filter and the whole
    //    GROUP BY compile into warehouse SQL (COMPLETE aggregate
    //    pushdown: no Aggregate node on the Spark side;
    //    WarehouseSourceSpec pins the plan). Embedded Derby stands in
    //    for the network warehouse; staging loads the deterministic
    //    event_id%10 demo subset with value pre-quantized to integer
    //    cents (toward-zero truncation — both engines agree on it).
    QuerySpec("q_warehouse_rollup", (s, dir) =>
      warehouseEvents(s, dir, sharded = false)
        .filter(col("cents") >= 500L)
        .groupBy(col("event_type"))
        .agg(count(col("event_id")).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          max(col("user_id")).as("max_user")),
      warehouseRollupOracle),

    // ── The sharded posture of the same source (the 100×-scale shape,
    //    review r15 #4): dbtable lists TWO shard tables, the source
    //    refuses COMPLETE pushdown, each shard computes its own
    //    GROUP-BY partial in warehouse SQL, and Spark plans the FINAL
    //    merge (sum of counts, sum of sums, max of maxes) over
    //    group-cardinality partial rows — never raw rows.
    QuerySpec("q_warehouse_partial", (s, dir) =>
      warehouseEvents(s, dir, sharded = true)
        .filter(col("cents") >= 500L)
        .groupBy(col("event_type"))
        .agg(count(col("event_id")).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          max(col("user_id")).as("max_user")),
      warehouseRollupOracle),

    // ── DISTINCT over the sharded posture (review r16 #4): the DSv2
    //    API cannot carry a partial DISTINCT (distinct sets do not
    //    merge), so plans/DistinctAggThroughShards rewrites
    //    count(DISTINCT user_id) into a plain count over a dedup
    //    aggregate, and the standard pushdown turns THAT into
    //    per-shard `GROUP BY event_type, user_id` warehouse SQL —
    //    each shard ships its distinct pairs once; Spark dedups
    //    across shards and counts. Plan-contracted in
    //    WarehouseSourceSpec.
    QuerySpec("q_warehouse_distinct", (s, dir) =>
      warehouseEvents(s, dir, sharded = true)
        .filter(col("cents") >= 500L)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users")),
      """SELECT event_type,
         count(DISTINCT user_id) AS n_users
         FROM (SELECT user_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE cents >= 500
         GROUP BY event_type"""),

    // ── The same source's row face: pushed filters + pruned SELECT
    //    list (the scan reads exactly two columns and ships exactly
    //    the matching rows — nothing re-filters Spark-side).
    QuerySpec("q_warehouse_scan", (s, dir) =>
      warehouseEvents(s, dir, sharded = false)
        .filter(col("event_type") === "click" && col("cents") >= 1000L)
        .select(col("event_id"), col("cents")),
      """SELECT event_id, cents
         FROM (SELECT event_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE event_type = 'click' AND cents >= 1000"""),

    // ── And its TOP-N face: ORDER BY + LIMIT compile into the
    //    warehouse query too (FETCH FIRST; the reference sends LIMIT to
    //    ClickHouse the same way) — Spark's Sort/Limit nodes vanish,
    //    the source's cut IS the global cut. Total-order tiebreak
    //    (cents DESC, event_id) keeps the row SET deterministic.
    QuerySpec("q_warehouse_topn", (s, dir) =>
      warehouseEvents(s, dir, sharded = false)
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("cents"))
        .orderBy(col("cents").desc, col("event_id"))
        .limit(20),
      """SELECT event_id, cents
         FROM (SELECT event_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE event_type = 'view'
         ORDER BY cents DESC, event_id
         LIMIT 20"""),

    // ── A3: per-server latency/error profile (p50/p99/rps/error-rate) —
    //    etl_deepflow:143-153.
    QuerySpec("q_metric_profile", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"),
          (count(lit(1)).cast("double") / lit(300.0)).as("rps"),
          (count(when(col("value") >= 30.0, 1)).cast("double") / count(lit(1)))
            .as("error_rate")
        ),
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.99), 4) AS p99,
         CAST(count(*) AS DOUBLE) / 300.0 AS rps,
         CAST(count(*) FILTER (WHERE value >= 30.0) AS DOUBLE) / count(*) AS error_rate
         FROM events GROUP BY event_type"""),

    // ── A5 (+P9): active-connection proxy: filtered sum per server —
    //    etl_deepflow:224-231 (sum(syn_count) where protocol=6).
    QuerySpec("q_active_connections", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(decSum(col("value")).as("active_connections")),
      """SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS active_connections
         FROM events WHERE event_type = 'click' GROUP BY user_id"""),

    // ── A4 (+J2): throttle-flag rollup: conditional sums folded to per-key
    //    booleans — etl_deepflow:178-213.
    QuerySpec("q_throttle_flags", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          expr("bool_or(event_type = 'error' AND value > 50.0)").as("err_throttled"),
          expr("bool_or(event_type = 'purchase' AND value > 80.0)").as("buy_throttled"),
          expr("bool_or(value > 95.0)").as("any_throttled")
        ),
      """SELECT user_id,
         bool_or(event_type = 'error' AND value > 50.0) AS err_throttled,
         bool_or(event_type = 'purchase' AND value > 80.0) AS buy_throttled,
         bool_or(value > 95.0) AS any_throttled
         FROM events GROUP BY user_id"""),

    // ── J1-style broadcast dim chain: fact ⋈ supplier ⋈ nation ⋈ region →
    //    revenue per region (the ip_map enrichment shape, etl_deepflow:675-695).
    QuerySpec("q_region_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items")
        )
    },
      """SELECT r_name,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name"""),

    // ── J5/SO4: semi-join membership (EC2-in-EKS shape, etl_aws:1513-1518).
    QuerySpec("q_semi_join", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment")),
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)"""),

    // ── Bloom-prefiltered semi join (ops.BloomPrefilter + the codegen
    //    bloom_might_contain expression): the runtime-filter pattern as
    //    an explicit operator, for key sets too big to broadcast-hash
    //    but whose Bloom fits (~1.2 MB/M keys at 1% fpp) — the
    //    allowlist/blocklist staple at 100 TB. The filter probe prunes
    //    the fact MAP-SIDE before any exchange; the residual semi join
    //    over the surviving sliver erases false positives, so the
    //    result is EXACTLY the plain semi join the oracle states (an
    //    fpp leak hash-mismatches).
    QuerySpec("q_bloom_semi", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.ops.BloomPrefilter.semiJoin(li, "l_orderkey", urgent,
        "o_orderkey", expectedKeys = 40000L, fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
    },
      // the Bloom prefilter is an internal pruning detail — exactness is
      // restored by the residual join, so the oracle is the PLAIN semi/
      // anti join; any false-positive leak hash-mismatches
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag"""),

    // ── Bloom-prefiltered ANTI join: contamination-blocklist removal —
    //    might_contain=false rows are DEFINITELY clean and bypass the
    //    join entirely; only the sliver pays the residual anti join.
    //    Result ≡ plain anti join (oracle).
    QuerySpec("q_bloom_anti", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.ops.BloomPrefilter.antiJoin(li, "l_orderkey", urgent,
        "o_orderkey", expectedKeys = 40000L, fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
    },
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                  WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag"""),

    // ── A14/K9/SO1: anti-join ghost-node GC — etl_aws:1932-2066. "Live" =
    //    keys seen by the latest scan (open orders); everything else is stale.
    QuerySpec("q_anti_gc", (s, dir) =>
      AntiJoinGC.stale(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey")),
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')"""),

    // ── J7 (+F6): env-var value join — JSON field of the fact row joined to
    //    a resource table's natural key (etl_aws:1622-1657).
    QuerySpec("q_env_join", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .join(broadcast(Tables.supplier(s, dir)), col("k") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_refs"), decSum(col("value")).as("total_value")),
      """SELECT s_name, count(*) AS n_refs,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events JOIN supplier
           ON CAST(json_extract_string(props, '$.k') AS BIGINT) = s_suppkey
         GROUP BY s_name"""),

    // ── A10 + §2.6: last-datapoint-per-series via ranked window —
    //    etl_aws:795-796 (sorted-by-ts last value).
    QuerySpec("q_last_value", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          col("user_id"),
          col("event_type").as("last_type"),
          col("value").as("last_value"),
          unix_micros(col("ts")).as("last_ts_us"))
    },
      """SELECT user_id, event_type AS last_type, value AS last_value,
                epoch_us(ts) AS last_ts_us
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1"""),

    // ── A9/G3: fused degree metrics over an edge table —
    //    etl_deepflow:536-568.
    QuerySpec("q_degree", (s, dir) => {
      val nodes = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("node_id"), col("s_name"))
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("src"), (col("l_partkey") % 100).as("dst"),
          col("l_returnflag"))
      DegreeMetrics(nodes, "node_id", edges, "src", "dst",
        Seq("returned_out" -> (col("l_returnflag") === "R")))
    },
      """WITH edges AS (SELECT l_suppkey AS src, l_partkey % 100 AS dst,
                               l_returnflag FROM lineitem),
         out_d AS (SELECT src, count(*) AS out_degree,
                          count(*) FILTER (WHERE l_returnflag = 'R') AS returned_out
                   FROM edges GROUP BY src),
         in_d AS (SELECT dst, count(*) AS in_degree FROM edges GROUP BY dst)
         SELECT s_suppkey AS node_id, s_name,
                COALESCE(out_degree, 0) AS out_degree,
                COALESCE(returned_out, 0) AS returned_out,
                COALESCE(in_degree, 0) AS in_degree,
                COALESCE(in_degree, 0) = 0 AS is_entry_point
         FROM supplier
         LEFT JOIN out_d ON s_suppkey = out_d.src
         LEFT JOIN in_d ON s_suppkey = in_d.dst"""),

    // ── A7/K8/SO3: set-cardinality property recompute (AZ set per service,
    //    etl_deepflow:709-746) — deterministic sorted distinct set.
    QuerySpec("q_collect_set", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("type_set")),
      """SELECT user_id,
         string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_set
         FROM events GROUP BY user_id"""),

    // ── K1-K3/§7.3: merge-upsert with absent-preserves semantics —
    //    etl_aws:209-253. Incoming batch (order totals) merged into the
    //    customer snapshot; c_name is absent in the batch and must survive.
    QuerySpec("q_merge_upsert", (s, dir) => {
      val existing = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val incoming = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(decSum(col("o_totalprice")).as("c_acctbal"))
        .withColumn("c_name", lit(null).cast("string"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      MergeUpsert(existing, incoming, Seq("c_custkey"), Seq("c_name", "c_acctbal"))
    },
      """SELECT COALESCE(i.c_custkey, e.c_custkey) AS c_custkey,
                COALESCE(i.c_name, e.c_name) AS c_name,
                COALESCE(i.c_acctbal, e.c_acctbal) AS c_acctbal
         FROM customer e
         FULL OUTER JOIN
           (SELECT o_custkey AS c_custkey, CAST(NULL AS VARCHAR) AS c_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS c_acctbal
            FROM orders GROUP BY o_custkey) i
         ON e.c_custkey = i.c_custkey"""),

    // ── F10/K1 dynamic props: MapType(String,String) property column with
    //    per-key overlay merge (the reference injects one property per tag
    //    key and never clobbers tags absent from the batch —
    //    etl_aws:214-222,312,521-523). Result exploded to (name, key, value)
    //    rows so the map is oracle-hashable.
    QuerySpec("q_map_props", (s, dir) => {
      val c = Tables.customer(s, dir)
      val existing = c.select(
        lit("Account").as("label"), col("c_name").as("name"),
        map(lit("segment"), col("c_mktsegment"),
          lit("nation"), col("c_nationkey").cast("string")).as("props"))
      val batch = c.filter(col("c_custkey") % 3 === 0).select(
        lit("Account").as("label"), col("c_name").as("name"),
        map(lit("segment"), lit("MACHINERY"),
          lit("tier"), when(col("c_acctbal") > 0, "paid").otherwise("free"),
          lit("nation"), when(col("c_custkey") % 2 === 0,
            concat(lit("N"), col("c_nationkey")))
            .otherwise(lit(null).cast("string"))).as("props"))
      graft.model.GraphStore
        .mergeVertices(existing, batch, singleCols = Nil,
          mapCols = Seq("props"))
        .select(col("name"),
          explode(col("props")).as(Seq("prop_key", "prop_value")))
    },
      """WITH existing AS (
           SELECT c_name AS name, 'segment' AS k, c_mktsegment AS v FROM customer
           UNION ALL
           SELECT c_name, 'nation', CAST(c_nationkey AS VARCHAR) FROM customer),
         incoming AS (
           SELECT c_name AS name, 'segment' AS k, 'MACHINERY' AS v
           FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_name, 'tier',
                  CASE WHEN c_acctbal > 0 THEN 'paid' ELSE 'free' END
           FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_name, 'nation',
                  CASE WHEN c_custkey % 2 = 0 THEN 'N'||c_nationkey END
           FROM customer WHERE c_custkey % 3 = 0)
         SELECT COALESCE(e.name, i.name) AS name,
                COALESCE(e.k, i.k) AS prop_key,
                COALESCE(i.v, e.v) AS prop_value
         FROM existing e
         FULL OUTER JOIN incoming i ON e.name = i.name AND e.k = i.k
         WHERE COALESCE(i.v, e.v) IS NOT NULL"""),

    // ── §2.10 reset-then-degrade: health recomputed each batch from the
    //    alarm join — etl_aws:1469,2074-2111.
    QuerySpec("q_two_phase_health", (s, dir) => {
      val alarms = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_alarms"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(alarms, Seq("c_custkey"), "left_outer")
        .select(
          col("c_custkey"),
          coalesce(col("n_alarms"), lit(0L)).as("n_alarms"),
          when(col("n_alarms").isNotNull, lit("degraded"))
            .otherwise(lit("healthy")).as("health_status"))
    },
      """SELECT c.c_custkey,
                COALESCE(a.n_alarms, 0) AS n_alarms,
                CASE WHEN a.n_alarms IS NOT NULL THEN 'degraded'
                     ELSE 'healthy' END AS health_status
         FROM customer c
         LEFT JOIN (SELECT o_custkey, count(*) AS n_alarms FROM orders
                    WHERE o_orderstatus = 'F' GROUP BY o_custkey) a
         ON c.c_custkey = a.o_custkey"""),

    // ── §3.2 END-TO-END topology pipeline: snapshot merged into the vertex
    //    store (absent-preserves first_seen = onCreate/onMatch), health
    //    reset-then-degraded from the alarm join, ghost vertices GC'd —
    //    the reference's most load-bearing composition
    //    (etl_aws:1393-2114) as ONE logical plan. Store = all customers;
    //    snapshot drops custkey%5==0 (ghosts) and adds custkey%7==0
    //    shifted by 100000 (creates); alarms = customers with failed
    //    orders.
    QuerySpec("q_topology", (s, dir) => {
      val (store, snapshot, alarms) = topologyInputs(s, dir)
      graft.pipelines.Pipelines.topology(store, snapshot, alarms,
        runStamp = 1700000000L)
    },
      // end-to-end §3.2: snapshot drives the surviving rows (GC); health is
      // reset-then-degrade; first_seen preserved on match, runStamp on create
      topologyOracle),

    // ── §3.2 run report: per-step counts for the SAME topology run —
    //    created/matched/GC'd from a full-outer key join of the run's
    //    output against the prior store, health mix from the output
    //    itself (Pipelines.topologyStats; the reference's per-step stats
    //    accumulation, etl_aws:1410,2113, as one audit row).
    QuerySpec("q_topology_stats", (s, dir) => {
      val (store, snapshot, alarms) = topologyInputs(s, dir)
      graft.pipelines.Pipelines.topologyStats(store, snapshot, alarms,
        runStamp = 1700000000L)
    },
      // the run report recounts the SAME newstate the q_topology oracle
      // produces, keyed against the prior store
      s"""WITH newstate AS ($topologyOracle),
         store AS (SELECT 'Account' AS label,
                          CAST(c_custkey AS VARCHAR) AS name
                   FROM customer)
         SELECT
           (SELECT count(*) FROM store) AS n_store_prior,
           (SELECT count(*) FROM newstate n LEFT JOIN store s
              ON n.label = s.label AND n.name = s.name
              WHERE s.name IS NULL) AS n_created,
           (SELECT count(*) FROM newstate n JOIN store s
              ON n.label = s.label AND n.name = s.name) AS n_matched,
           (SELECT count(*) FROM store s LEFT JOIN newstate n
              ON n.label = s.label AND n.name = s.name
              WHERE n.name IS NULL) AS n_gc,
           (SELECT count(*) FROM newstate
              WHERE health_status = 'degraded') AS n_degraded,
           (SELECT count(*) FROM newstate
              WHERE health_status = 'healthy') AS n_healthy,
           (SELECT count(*) FROM newstate) AS n_final"""),

    // ── Snapshot diff (CDC between store versions): the q_topology run's
    //    output diffed against the prior store state — one row per
    //    added / removed / changed vertex with old+new health side by
    //    side (ops.SnapshotDiff, one full-outer shuffle). The versioned
    //    GraphStorage.commitSnapshot/readSnapshot layout this feeds is
    //    spec-gated (filesystem behavior).
    QuerySpec("q_snapshot_diff", (s, dir) => {
      val (store, snapshot, alarms) = topologyInputs(s, dir)
      val current = graft.pipelines.Pipelines
        .topology(store, snapshot, alarms, runStamp = 1700000000L)
        .select(col("label"), col("name"), col("health_status"))
      graft.ops.SnapshotDiff(
        store.select(col("label"), col("name"), col("health_status")),
        current, keys = Seq("label", "name"),
        compareCols = Seq("health_status"))
    },
      // the new state's oracle is the SAME topology SQL; old state is the
      // pre-run store (all healthy). Classification mirrors SnapshotDiff.
      s"""WITH newstate AS ($topologyOracle),
         oldstate AS (SELECT 'Account' AS label,
                             CAST(c_custkey AS VARCHAR) AS name,
                             'healthy' AS health_status
                      FROM customer)
         SELECT COALESCE(n.label, o.label) AS label,
                COALESCE(n.name, o.name) AS name,
                CASE WHEN o.name IS NULL THEN 'added'
                     WHEN n.name IS NULL THEN 'removed'
                     ELSE 'changed' END AS change_type,
                o.health_status AS old_health_status,
                n.health_status AS new_health_status
         FROM oldstate o
         FULL OUTER JOIN newstate n ON o.label = n.label AND o.name = n.name
         WHERE o.name IS NULL OR n.name IS NULL
            OR o.health_status <> n.health_status"""),

    // ── §3.3 END-TO-END declared-deps pipeline: templates synthesized from
    //    events (as q_ref_extract), recursive ref extraction, both-side
    //    logical→physical resolution against a broadcast dim, distinct
    //    provenance edges (etl_cfn:244-374). The arn-shaped ref has no
    //    physical id on purpose — the unresolvable-drop path (P5) runs.
    QuerySpec("q_declared_deps", (s, dir) => {
      val ev = Tables.events(s, dir)
      val tpl = concat(
        lit("""{"Resources":{"A":{"Ref":"Svc"""), col("user_id"),
        lit(""""},"B":{"Fn::Sub":"${"""), col("event_type"),
        lit("""}-x"},"C":{"Deep":[{"Resource":"arn:aws:states:r:1:fn"""),
        get_json_object(col("props"), "$.k"),
        lit(""":async"}]}}}"""))
      val templates = ev.select(
        concat(lit("stack-"), (col("user_id") % 20).cast("string"))
          .as("stack_name"),
        concat(lit("res"), (col("event_id") % 500).cast("string"))
          .as("src_logical"),
        tpl.as("template_json"))
      val physicalIds = ev.select(
          concat(lit("res"), (col("event_id") % 500).cast("string"))
            .as("logical_id"),
          concat(lit("p-res"), (col("event_id") % 500).cast("string"))
            .as("physical_id"))
        .unionByName(ev.select(
          concat(lit("Svc"), col("user_id").cast("string")).as("logical_id"),
          concat(lit("p-svc"), col("user_id").cast("string")).as("physical_id")))
        .unionByName(ev.select(
          col("event_type").as("logical_id"),
          concat(lit("p-type-"), col("event_type")).as("physical_id")))
        .distinct()
      graft.pipelines.Pipelines.declaredDeps(templates, physicalIds)
    },
      // end-to-end §3.3: the refs are known by construction (same synthesized
      // template as q_ref_extract); the arn ref has no dim row and drops
      """WITH t AS (SELECT 'stack-' || CAST(user_id % 20 AS VARCHAR) AS stack_name,
                           'res' || CAST(event_id % 500 AS VARCHAR) AS src_logical,
                           'Svc' || CAST(user_id AS VARCHAR) AS ref_svc,
                           event_type AS ref_type
                    FROM events),
         refs AS (SELECT stack_name, src_logical, ref_svc AS dst_logical FROM t
                  UNION ALL
                  SELECT stack_name, src_logical, ref_type FROM t),
         dim AS (SELECT DISTINCT 'res' || CAST(event_id % 500 AS VARCHAR) AS logical_id,
                        'p-res' || CAST(event_id % 500 AS VARCHAR) AS physical_id
                 FROM events
                 UNION
                 SELECT DISTINCT 'Svc' || CAST(user_id AS VARCHAR),
                        'p-svc' || CAST(user_id AS VARCHAR) FROM events
                 UNION
                 SELECT DISTINCT event_type, 'p-type-' || event_type FROM events)
         SELECT DISTINCT sp.physical_id AS src, 'DependsOn' AS edge_label,
                dp.physical_id AS dst, 'cfn' AS declared_in, r.stack_name
         FROM refs r
         JOIN dim sp ON r.src_logical = sp.logical_id
         JOIN dim dp ON r.dst_logical = dp.logical_id"""),

    // ── Salted two-phase aggregation (the 100×-scale hot-key story):
    //    events.event_type has only ~5 values, so a plain groupBy puts 20%
    //    of ALL rows on one reducer — SkewAgg spreads each key over 16 salt
    //    buckets, combines partials, and must equal the plain aggregation.
    QuerySpec("q_skew_agg", (s, dir) =>
      graft.ops.SkewAgg.saltedSum(
          Tables.events(s, dir), keys = Seq("event_type"),
          distributor = col("event_id"), saltBuckets = 16,
          sums = Map("total_value" -> col("value").cast("decimal(18,2)")),
          counts = Seq("n_events"))
        .select(col("event_type"),
          col("total_value").cast("double").as("total_value"),
          col("n_events")),
      // salted ≡ plain: the oracle is the single-phase aggregation
      """SELECT event_type,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
                count(*) AS n_events
         FROM events GROUP BY event_type"""),

    // ── J11: multi-dimension alarm dispatch — each alarm's ordered
    //    dimension list walked for the first entry in the dim→label
    //    registry, then a union of per-label resource joins
    //    (etl_aws:2074-2105). Dim 1 is unmapped (skipped), dim 2 is null
    //    for user_id % 7 == 0 (skipped), so all three skip paths execute.
    QuerySpec("q_alarm_dispatch", (s, dir) => {
      val alarms = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .select(
          col("event_id").as("alarm_id"),
          concat(lit("alarm_"), col("event_id")).as("alarm_name"),
          array(
            struct(lit("Extra").as("d_name"),
              get_json_object(col("props"), "$.k").as("d_value")),
            struct(lit("CustomerId").as("d_name"),
              when(col("user_id") % 7 =!= 0, col("user_id").cast("string"))
                .as("d_value")),
            struct(lit("SupplierId").as("d_name"),
              get_json_object(col("props"), "$.k").as("d_value"))
          ).as("dims"))
      val dispatched = graft.ops.AlarmDispatch(alarms, Seq(
        graft.ops.AlarmDispatch.Dim("CustomerId", "Customer",
          Tables.customer(s, dir), "c_custkey"),
        graft.ops.AlarmDispatch.Dim("SupplierId", "Supplier",
          Tables.supplier(s, dir), "s_suppkey")))
      graft.ops.AlarmDispatch.degraded(dispatched)
    },
      // The oracle collapses "first valid dimension in order" into the
      // equivalent CASE precedence (dim 1 is never mapped, so precedence is
      // CustomerId then SupplierId).
      """WITH ev AS (
           SELECT event_id AS alarm_id,
                  'alarm_' || CAST(event_id AS VARCHAR) AS alarm_name,
                  CASE WHEN user_id % 7 <> 0 THEN CAST(user_id AS VARCHAR) END AS cust_val,
                  json_extract_string(props, '$.k') AS supp_val
           FROM events WHERE event_type = 'error'),
         fd AS (
           SELECT alarm_id, alarm_name,
                  CASE WHEN cust_val IS NOT NULL AND cust_val <> ''
                       THEN 'CustomerId' ELSE 'SupplierId' END AS d_name,
                  CASE WHEN cust_val IS NOT NULL AND cust_val <> ''
                       THEN cust_val ELSE supp_val END AS d_value
           FROM ev
           WHERE (cust_val IS NOT NULL AND cust_val <> '')
              OR (supp_val IS NOT NULL AND supp_val <> '')),
         u AS (
           SELECT alarm_id, alarm_name, 'Customer' AS label,
                  CAST(c_custkey AS VARCHAR) AS resource_key
           FROM fd JOIN customer
           ON fd.d_name = 'CustomerId' AND fd.d_value = CAST(c_custkey AS VARCHAR)
           UNION ALL
           SELECT alarm_id, alarm_name, 'Supplier' AS label,
                  CAST(s_suppkey AS VARCHAR) AS resource_key
           FROM fd JOIN supplier
           ON fd.d_name = 'SupplierId' AND fd.d_value = CAST(s_suppkey AS VARCHAR))
         SELECT label, resource_key, count(*) AS n_alarms,
                min(alarm_name) AS alarm_name, 'degraded' AS health_status
         FROM u GROUP BY 1, 2"""),

    // ── J12: vpc join with cross fallback — monitors dispatch metrics to
    //    instances in their declared VPCs; monitors declaring NO vpc fan
    //    out to every instance (etl_aws:1041-1070). Nations stand in for
    //    monitors (every 5th declares no vpc), customers for instances.
    QuerySpec("q_vpc_fallback", (s, dir) => {
      val monitors = Tables.nation(s, dir)
        .select(col("n_nationkey").as("monitor_id"), col("n_name").as("monitor_name"))
      val monitorVpcs = Tables.nation(s, dir)
        .filter(col("n_nationkey") % 5 =!= 0)
        .select(col("n_nationkey").as("monitor_id"), col("n_regionkey").as("vpc_id"))
      val instances = Tables.customer(s, dir)
        .select(col("c_custkey"), (col("c_nationkey") % 5).as("vpc_id"))
      graft.ops.VpcDispatch(instances, "vpc_id", monitors, "monitor_id", monitorVpcs)
        .select(col("c_custkey"), col("monitor_id"), col("monitor_name"), col("via"))
    },
      """WITH monitors AS (SELECT n_nationkey AS monitor_id, n_name AS monitor_name
                           FROM nation),
         vpcs AS (SELECT n_nationkey AS monitor_id, n_regionkey AS vpc_id
                  FROM nation WHERE n_nationkey % 5 <> 0),
         inst AS (SELECT c_custkey, c_nationkey % 5 AS vpc_id FROM customer)
         SELECT i.c_custkey, m.monitor_id, m.monitor_name, 'vpc' AS via
         FROM inst i JOIN vpcs v ON i.vpc_id = v.vpc_id
                     JOIN monitors m ON v.monitor_id = m.monitor_id
         UNION ALL
         SELECT i.c_custkey, m.monitor_id, m.monitor_name, 'fallback' AS via
         FROM inst i CROSS JOIN
              (SELECT * FROM monitors
               WHERE monitor_id NOT IN (SELECT monitor_id FROM vpcs)) m"""),

    // ── AS-OF JOIN: each event joined to the latest per-day order rollup
    //    of the same customer at-or-before the event date — the
    //    time-series lookup Spark lacks natively, composed as union +
    //    carry-forward window (ops.AsOfJoin; one shuffle, no range
    //    explosion). Oracle: DuckDB's native ASOF LEFT JOIN.
    QuerySpec("q_asof", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        to_date(col("ts")).as("event_date"), col("value"))
      val ord = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").as("order_date"))
        .agg(count(lit(1)).as("n_orders_day"),
          decSum(col("o_totalprice")).as("day_total"))
      graft.ops.AsOfJoin(ev, ord, Seq("user_id"), "event_date", "order_date")
    },
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date,
                            value
                     FROM events),
         ord AS (SELECT o_custkey AS user_id, o_orderdate AS order_date,
                        count(*) AS n_orders_day,
                        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                          AS day_total
                 FROM orders GROUP BY 1, 2)
         SELECT ev.user_id, event_date, event_id, value,
                order_date, n_orders_day, day_total
         FROM ev ASOF LEFT JOIN ord
         ON ev.user_id = ord.user_id AND ev.event_date >= ord.order_date"""),

    // ── AS-OF JOIN with max-staleness bound: same lookup, but a match more
    //    than 7 days older than the event is discarded (nulled) — the
    //    common production "tolerance" variant.
    QuerySpec("q_asof_tol", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        to_date(col("ts")).as("event_date"), col("value"))
      val ord = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").as("order_date"))
        .agg(count(lit(1)).as("n_orders_day"),
          decSum(col("o_totalprice")).as("day_total"))
      graft.ops.AsOfJoin(ev, ord, Seq("user_id"), "event_date", "order_date",
        tolerance = Some(expr("interval 7 days")))
    },
      // tolerance variant: DuckDB date_diff in days; a stale match
      // (older than 7 days) nulls the WHOLE right row, like the Spark side
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date,
                            value
                     FROM events),
         ord AS (SELECT o_custkey AS user_id, o_orderdate AS order_date,
                        count(*) AS n_orders_day,
                        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                          AS day_total
                 FROM orders GROUP BY 1, 2),
         j AS (SELECT ev.user_id, event_date, event_id, value,
                      order_date AS od, n_orders_day AS nod, day_total AS dt
               FROM ev ASOF LEFT JOIN ord
               ON ev.user_id = ord.user_id AND ev.event_date >= ord.order_date)
         SELECT user_id, event_date, event_id, value,
                CASE WHEN date_diff('day', od, event_date) <= 7 THEN od END AS order_date,
                CASE WHEN date_diff('day', od, event_date) <= 7 THEN nod END AS n_orders_day,
                CASE WHEN date_diff('day', od, event_date) <= 7 THEN dt END AS day_total
         FROM j"""),

    // ── RANGE JOIN: events matched to the overlapping value bands that
    //    contain them — bucketized candidates + exact filter
    //    (ops.RangeJoin), the equi-join shape that replaces the
    //    nested-loop plan Spark gives a bare range predicate.
    QuerySpec("q_range_join", (s, dir) => {
      val bands = Tables.nation(s, dir).select(
        col("n_nationkey").as("band_id"),
        (col("n_nationkey").cast("double") * 3.5).as("lo"),
        (col("n_nationkey").cast("double") * 3.5 + 12.0).as("hi"))
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      graft.ops.RangeJoin.pointInInterval(ev, bands, Nil,
          "value", "lo", "hi", bucketWidth = 8.0)
        .select(col("event_id"), col("band_id"), col("value"))
    },
      """WITH bands AS (SELECT n_nationkey AS band_id,
                               CAST(n_nationkey AS DOUBLE) * 3.5 AS lo,
                               CAST(n_nationkey AS DOUBLE) * 3.5 + 12.0 AS hi
                        FROM nation)
         SELECT event_id, band_id, value
         FROM events JOIN bands ON value >= lo AND value < hi"""),

    // ── F1: IPv4 uint32 → dotted string (IPv4NumToString analog,
    //    etl_deepflow:148) via the native codegen Expression
    //    graft.functions.IPv4String.
    QuerySpec("q_ipv4", (s, dir) => {
      graft.functions.IPv4String.register(s)
      val ip = pmod(col("event_id") * lit(2654435761L), lit(4294967296L))
      Tables.events(s, dir).select(
        col("event_id"),
        call_function("ipv4_str", ip).as("ip_str"))
    },
      """SELECT event_id,
         ((ip >> 24) & 255) || '.' || ((ip >> 16) & 255) || '.' ||
         ((ip >> 8) & 255) || '.' || (ip & 255) AS ip_str
         FROM (SELECT event_id,
                      (event_id * 2654435761) % 4294967296 AS ip
               FROM events) t"""),

    // ── F3/P13: name normalization — tail segment extraction
    //    (etl_cfn:347-354, etl_aws:1790-1797).
    QuerySpec("q_split_tail", (s, dir) =>
      Tables.part(s, dir)
        .withColumn("tail", regexp_extract(col("p_type"), "([^ ]+)$", 1))
        .groupBy(col("tail"))
        .agg(count(lit(1)).as("n_parts"), decSum(col("p_retailprice")).as("total_price")),
      """SELECT regexp_extract(p_type, '([^ ]+)$', 1) AS tail,
                count(*) AS n_parts,
                CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM part GROUP BY 1"""),

    // ── F6: JSON field extraction histogram — etl_aws:671-678.
    QuerySpec("q_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events")),
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                count(*) AS n_events
         FROM events GROUP BY 1"""),

    // ── SO1/SO2: union + except over key sets — etl_deepflow:357-358,
    //    etl_aws:1954.
    QuerySpec("q_union_except", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      def ids(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"), col("day"))
      ids("click").union(ids("purchase")).distinct().except(ids("error"))
    },
      """(SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
          FROM events WHERE event_type = 'click'
          UNION
          SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
          FROM events WHERE event_type = 'purchase')
         EXCEPT
         SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
         FROM events WHERE event_type = 'error'"""),

    // ── §2.6 window-rank (extended surface): top-3 orders per customer.
    QuerySpec("q_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rk
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders) t
         WHERE rk <= 3"""),

    // ── Extended agg surface: ROLLUP totals (free via Catalyst, SURVEY §2.5).
    QuerySpec("q_rollup", (s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n_orders"), col("total")),
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
                COALESCE(o_orderpriority, '(all)') AS priority,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""),

    // ── §2.5 grouping sets, CUBE flavor: all four grouping combinations in
    //    one pass (Spark expands to a single Expand + HashAggregate — one
    //    shuffle regardless of the number of grouping sets).
    QuerySpec("q_cube", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), decSum(col("l_quantity")).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
          col("n_items"), col("qty")),
      """SELECT COALESCE(l_returnflag, '(all)') AS rflag,
                COALESCE(l_linestatus, '(all)') AS lstatus,
                count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    // ── S20-style pivot: per-key event-type counts as columns.
    QuerySpec("q_pivot", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L),
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id"""),

    // ── F7/F8 + J13 shape: recursive JSON reference extraction (the CFN/SFN
    //    walker, etl_cfn:200-242 + etl_aws:1117-1147) over synthesized
    //    nested templates, then the refs flattened to a sorted list.
    QuerySpec("q_ref_extract", (s, dir) => {
      val tpl = concat(
        lit("""{"Resources":{"A":{"Ref":"Svc"""), col("user_id"),
        lit(""""},"B":{"Fn::Sub":"${"""), col("event_type"),
        lit("""}-x"},"C":{"Deep":[{"Resource":"arn:aws:states:r:1:fn"""),
        get_json_object(col("props"), "$.k"),
        lit(""":async"}]}}}"""))
      Tables.events(s, dir)
        .select(col("event_id"),
          array_join(RefExtract.refsUdf(tpl), ",").as("refs"))
    },
      """SELECT event_id,
                array_to_string(list_sort([
                  'Svc' || CAST(user_id AS VARCHAR),
                  event_type,
                  'arn:aws:states:r:1:fn' || json_extract_string(props, '$.k')
                ]), ',') AS refs
         FROM events"""),

    // ── Session windows (gap-based, 1 h): the streaming-native grouping the
    //    reference approximates with fixed lookbacks; works identically in
    //    batch and Structured Streaming.
    QuerySpec("q_session_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("session_value"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"), col("session_value")),
      """WITH x AS (SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT user_id, epoch_us(min(ts)) AS session_start_us,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         FROM s GROUP BY user_id, sid"""),

    // ── §2.10 tumbling time window (the 5-min lookback re-expressed as a
    //    proper event-time window) — etl_deepflow:641.
    QuerySpec("q_time_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_events"), col("total_value")),
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2"""),

    // ── P12: derived-column projections — precedence when/otherwise chain +
    //    initcap tier normalization (etl_aws:311-352,1449-1456).
    QuerySpec("q_derived_cols", (s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        initcap(lower(col("c_mktsegment"))).as("tier"),
        when(col("c_acctbal") < 0, lit("delinquent"))
          .when(col("c_acctbal") > 9000, lit("premium"))
          .otherwise(lit("standard")).as("account_class"),
        coalesce(nullif(col("c_mktsegment"), lit("")), lit("UNKNOWN")).as("segment")),
      """SELECT c_custkey,
                upper(substr(lower(c_mktsegment), 1, 1)) ||
                  lower(substr(lower(c_mktsegment), 2)) AS tier,
                CASE WHEN c_acctbal < 0 THEN 'delinquent'
                     WHEN c_acctbal > 9000 THEN 'premium'
                     ELSE 'standard' END AS account_class,
                COALESCE(nullif(c_mktsegment, ''), 'UNKNOWN') AS segment
         FROM customer"""),

    // ── F2: epoch/time arithmetic — unix seconds, interval add, age
    //    derivation (etl_deepflow:150, etl_aws:788-789).
    QuerySpec("q_time_math", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        date_format(col("ts") + expr("INTERVAL 1 DAY"), "yyyy-MM-dd HH:mm:ss")
          .as("ts_plus_day"),
        floor((lit(1706659200L) - unix_timestamp(col("ts"))) / 60).cast("long")
          .as("age_minutes")),
      """SELECT event_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
                strftime(ts + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS ts_plus_day,
                CAST(floor((1706659200 - floor(epoch(ts))) / 60.0) AS BIGINT) AS age_minutes
         FROM events"""),

    // ── J8: multi-key equi join (event-source mapping double key,
    //    etl_aws:1785-1809).
    QuerySpec("q_multi_key_join", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey") && col("l_linenumber") === 1)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_first_lines"),
          decSum(col("l_extendedprice")).as("total_first_price")),
      """SELECT o_orderstatus,
                count(*) AS n_first_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_first_price
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey AND l_linenumber = 1
         GROUP BY o_orderstatus"""),

    // ── J14/P7: substring theta join — tiny pattern side broadcast, never a
    //    shuffled nested loop (etl_aws:1256-1266).
    QuerySpec("q_substring_join", (s, dir) => {
      import s.implicits._
      val patterns = Seq("green", "blue", "red", "metallic", "polished").toDF("pat")
      Tables.part(s, dir)
        .join(broadcast(patterns), col("p_name").contains(col("pat")))
        .groupBy(col("pat"))
        .agg(count(lit(1)).as("n_parts"))
    },
      """SELECT pat, count(*) AS n_parts
         FROM part
         JOIN (VALUES ('green'),('blue'),('red'),('metallic'),('polished')) p(pat)
           ON contains(p_name, pat)
         GROUP BY pat"""),

    // ── K10: filtered bulk delete — retained view after predicate purge
    //    (etl_deepflow:776-789).
    QuerySpec("q_filtered_delete", (s, dir) =>
      Tables.events(s, dir)
        .filter(!(col("event_type") === "error" && col("value") < 5.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept")),
      """SELECT event_type, count(*) AS n_kept
         FROM events
         WHERE NOT (event_type = 'error' AND value < 5.0)
         GROUP BY event_type"""),

    // ── A13/SO4: exact distinct counts per group (dedup of extracted refs,
    //    etl_aws:1147).
    QuerySpec("q_distinct_count", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(get_json_object(col("props"), "$.k")).as("n_keys")),
      """SELECT event_type,
                count(DISTINCT user_id) AS n_users,
                count(DISTINCT json_extract_string(props, '$.k')) AS n_keys
         FROM events GROUP BY event_type"""),

    // ── S5/SO2-shape: explode of a derived membership array
    //    (etl_aws:408-447 nodegroup→instance flattening).
    QuerySpec("q_explode", (s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"), explode(split(col("p_type"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("p_partkey")).as("n_parts")),
      """SELECT word, count(*) AS n, count(DISTINCT p_partkey) AS n_parts
         FROM (SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
               FROM part)
         GROUP BY word"""),

    // ── §3.1 end-to-end pipeline: rollup → broadcast service-dim resolve
    //    (inner = drop unresolvable, P5) → metric edges.
    QuerySpec("q_flow_pipeline", (s, dir) =>
      graft.pipelines.Pipelines.flowGraph(
        Tables.eventsSince(s, dir, 1704672000L),
        Tables.customer(s, dir)
          .select(col("c_custkey").as("service_key"), col("c_name").as("service_name")),
        srcCol = "user_id", dstCol = "event_type", valueCol = "value",
        timePredicate = lit(true),
        errPredicate = col("value") >= 30.0),
      """WITH r AS (
           SELECT user_id, event_type,
             count(*) AS calls,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
             count(*) FILTER (WHERE value >= 30.0) AS err_count,
             round(quantile_cont(value, 0.99), 4) AS p99_value
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
             AND user_id IS NOT NULL AND event_type IS NOT NULL
           GROUP BY user_id, event_type
           HAVING count(*) >= 2
           ORDER BY calls DESC, user_id, event_type
           LIMIT 100)
         SELECT c_name AS src_service, event_type AS dst_service,
                calls, avg_value, err_count, p99_value
         FROM r JOIN customer ON user_id = c_custkey"""),

    // ── Per-group feature scaling (z-score + min-max) of lineitem
    //    quantities per return flag: ONE unordered window computes all
    //    five exact-integer group aggregates in a single shuffle; the
    //    scaled values are per-row IEEE arithmetic (ext.Normalize).
    //    Emitted for a deterministic order-key slice.
    QuerySpec("q_zscore", (s, dir) =>
      graft.ext.Normalize.grouped(
        Tables.lineitem(s, dir).select(col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_quantity")),
        keys = Seq("l_returnflag"), valCol = "l_quantity")
        .filter(col("l_orderkey") <= 2000),
      // exact BIGINT group sums feed a mirrored IEEE chain; min-max uses
      // the integer half-up formulation (engine-exact at .xxxx5)
      """WITH s AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                l_quantity,
                CAST(l_quantity AS BIGINT) AS q,
                CAST(sum(CAST(l_quantity AS BIGINT))
                  OVER (PARTITION BY l_returnflag) AS BIGINT) AS sx,
                CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  OVER (PARTITION BY l_returnflag) AS BIGINT) AS sxx,
                count(*) OVER (PARTITION BY l_returnflag) AS n,
                min(CAST(l_quantity AS BIGINT))
                  OVER (PARTITION BY l_returnflag) AS mn,
                max(CAST(l_quantity AS BIGINT))
                  OVER (PARTITION BY l_returnflag) AS mx
              FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                CASE WHEN n >= 2 AND
                          (CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                             / CAST(n AS DOUBLE)) > 0
                     THEN round((CAST(q AS DOUBLE)
                                 - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                                / sqrt((CAST(sxx AS DOUBLE)
                                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                          / CAST(n AS DOUBLE))
                                       / CAST(n - 1 AS DOUBLE)), 4) + 0
                     ELSE NULL END AS z,
                CASE WHEN mx > mn
                     THEN CAST(floor((2 * (q - mn) * 10000 + (mx - mn))
                                     / (2 * (mx - mn))) AS DOUBLE) / 10000.0
                     ELSE NULL END AS mm
         FROM s
         WHERE l_orderkey <= 2000"""),

    // ── Robust clipping (winsorization) of event values at the group's
    //    [p05, p95]: ONE unordered window per group computes both exact
    //    interpolated percentile bounds in a single shuffle, then the
    //    clip is per-row codegen arithmetic (ext.Binning). The outlier
    //    tail-taming pass before feature scaling. Emitted for a
    //    deterministic event-id slice (bounds computed over ALL rows).
    QuerySpec("q_winsorize", (s, dir) =>
      graft.ext.Binning.winsorize(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        keys = Seq("event_type"), valCol = "value", pLo = 0.05, pHi = 0.95)
        .filter(col("event_id") <= 2000),
      // quantile_cont ≡ Spark's percentile (linear interpolation); bounds
      // rounded to 4 dp BEFORE the clip so the comparison runs on doubles
      // both engines hold bit-identically
      """WITH s AS (SELECT event_id, event_type, value,
             round(quantile_cont(value, 0.05)
                   OVER (PARTITION BY event_type), 4) AS p_lo,
             round(quantile_cont(value, 0.95)
                   OVER (PARTITION BY event_type), 4) AS p_hi
           FROM events)
         SELECT event_id, event_type, value, p_lo, p_hi,
                least(greatest(value, p_lo), p_hi) AS v_clip
         FROM s WHERE event_id <= 2000"""),

    // ── Equi-depth quantile binning: ntile(8) per event type ordered by
    //    (value, event_id) — the total order makes the bucket assignment
    //    deterministic (ext.Binning). Feature bucketization for
    //    gradient-boosted / embedding-table training.
    QuerySpec("q_bin_depth", (s, dir) =>
      graft.ext.Binning.equiDepth(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        keys = Seq("event_type"), valCol = "value", tieCol = "event_id",
        nBins = 8)
        .withColumn("bin", col("bin").cast("long"))
        .filter(col("event_id") <= 2000),
      // ANSI ntile under the same (value, event_id) total order; the slice
      // filter applies AFTER the window, as in the operator
      """WITH s AS (SELECT event_id, event_type, value,
             CAST(ntile(8) OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS BIGINT) AS bin
           FROM events)
         SELECT event_id, event_type, value, bin
         FROM s WHERE event_id <= 2000"""),

    // ── Equal-width histogram of event values per type, 20 bins over
    //    [0, 500) with edge-bin clamping: pure map-side bin arithmetic +
    //    one partial-aggregated count — the cheapest distribution sketch
    //    at any scale (ext.Binning).
    QuerySpec("q_histogram", (s, dir) =>
      graft.ext.Binning.histogram(
        Tables.events(s, dir).select(col("event_type"), col("value")),
        keys = Seq("event_type"), valCol = "value",
        lo = 0.0, hi = 500.0, bins = 20),
      // same clamp-into-edge-bins arithmetic: floor on doubles, cast, clamp
      """WITH b AS (SELECT event_type,
             least(19, greatest(0,
               CAST(floor((value - 0.0) / 25.0) AS INTEGER))) AS bin
           FROM events)
         SELECT event_type, bin, count(*) AS n,
                CAST(0.0 + bin * 25.0 AS DOUBLE) AS bin_lo,
                CAST(0.0 + (bin + 1) * 25.0 AS DOUBLE) AS bin_hi
         FROM b GROUP BY event_type, bin"""),

    // ── Per-user temporal features (lag / delta / trailing rolling
    //    mean+max): ONE ordered window per user computes every feature —
    //    the sequence-model feature pass (ext.TimeFeatures). Rolling sum
    //    rides decimal(18,2) for cross-engine exactness.
    QuerySpec("q_time_features", (s, dir) =>
      graft.ext.TimeFeatures.derive(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        keys = Seq("user_id"), tsCol = "ts", valCol = "value",
        tieCol = "event_id", frameRows = 6)
        .filter(col("event_id") <= 2000)
        // epoch seconds, not the raw ns-precision timestamp — the
        // cross-engine identity q_time_math established
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("epoch_s"), col("value"),
          col("prev_value"), col("delta_ts"), col("roll_mean"),
          col("roll_max")),
      // one named window per user under the (ts, event_id) total order;
      // rolling sum through DECIMAL(18,2), epoch seconds via the
      // floor(epoch(ts)) ≡ unix_timestamp identity
      """WITH s AS (SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value,
             lag(value, 1) OVER w AS prev_value,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) AS delta_ts,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER f AS DOUBLE)
               / count(*) OVER f AS roll_mean,
             max(value) OVER f AS roll_max
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                  f AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, epoch_s, value, prev_value, delta_ts,
                roll_mean, roll_max
         FROM s WHERE event_id <= 2000"""),

    // ── Hourly forward-fill resampling of each user's value series onto
    //    a regular grid (ops.Resample): bounds agg + in-row sequence
    //    explode + ONE ordered window. Feature-store materialization.
    QuerySpec("q_resample", (s, dir) =>
      graft.ops.Resample.forwardFill(
        Tables.events(s, dir).filter(col("user_id") <= 20)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        keys = Seq("user_id"), tsCol = "ts", valCol = "value",
        tieCol = "event_id")
        .select(col("user_id"),
          unix_timestamp(col("grid_ts")).as("epoch_s"), col("value")),
      // grid + observations through the SAME (ts, obs DESC, tie) ordered
      // carry-forward window as the operator; make_timestamp(epoch_us(ts))
      // reproduces Spark's ns→µs floor conversion exactly
      """WITH o AS (SELECT user_id,
                make_timestamp(CAST(epoch_us(ts) AS BIGINT)) AS t,
                value AS v, 1 AS obs, event_id AS tie
              FROM events WHERE user_id <= 20),
         b AS (SELECT user_id,
                date_trunc('hour', min(t)) AS lo,
                date_trunc('hour', max(t)) AS hi
               FROM o GROUP BY 1),
         g AS (SELECT user_id,
                unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t,
                CAST(NULL AS DOUBLE) AS v, 0 AS obs,
                CAST(NULL AS BIGINT) AS tie
               FROM b),
         u AS (SELECT * FROM o UNION ALL SELECT * FROM g),
         f AS (SELECT user_id, t, obs,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id
                  ORDER BY t, obs DESC, tie ASC NULLS LAST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
               FROM u)
         SELECT user_id, CAST(floor(epoch(t)) AS BIGINT) AS epoch_s,
                ff AS value
         FROM f WHERE obs = 0"""),

    // ── Z-order (Morton) key derivation: the layout key that clusters
    //    BOTH dimensions for scan pruning (ext.ZOrder.zValue — pure
    //    codegen bit arithmetic; the √P locality property itself is
    //    spec-gated in ZOrderSpec).
    QuerySpec("q_zorder", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("user_id"),
          floor(col("value")).cast("long").as("vb"))
        .withColumn("z", graft.ext.ZOrder.zValue(col("user_id"), col("vb"))),
      // the same 5-step spread-bits magic-mask chain, one CTE per step;
      // decimal literals are the 0x0000FFFF…/0x5555… masks
      """WITH s0 AS (SELECT event_id, user_id,
                CAST(floor(value) AS BIGINT) AS vb,
                (user_id & 2147483647) AS a,
                (CAST(floor(value) AS BIGINT) & 2147483647) AS b
              FROM events WHERE event_id <= 2000),
         s1 AS (SELECT event_id, user_id, vb,
                ((a | (a << 16)) & 281470681808895) AS a,
                ((b | (b << 16)) & 281470681808895) AS b FROM s0),
         s2 AS (SELECT event_id, user_id, vb,
                ((a | (a << 8)) & 71777214294589695) AS a,
                ((b | (b << 8)) & 71777214294589695) AS b FROM s1),
         s3 AS (SELECT event_id, user_id, vb,
                ((a | (a << 4)) & 1085102592571150095) AS a,
                ((b | (b << 4)) & 1085102592571150095) AS b FROM s2),
         s4 AS (SELECT event_id, user_id, vb,
                ((a | (a << 2)) & 3689348814741910323) AS a,
                ((b | (b << 2)) & 3689348814741910323) AS b FROM s3),
         s5 AS (SELECT event_id, user_id, vb,
                ((a | (a << 1)) & 6148914691236517205) AS a,
                ((b | (b << 1)) & 6148914691236517205) AS b FROM s4)
         SELECT event_id, user_id, vb, (a | (b << 1)) AS z FROM s5"""),

    // ── Data-quality expectations: row rules in ONE conditional
    //    aggregate, uniqueness one keyed aggregate, referential
    //    integrity one anti join — the per-batch validation gate
    //    (ops.Expectations).
    QuerySpec("q_expectations", (s, dir) =>
      graft.ops.Expectations.audit(Tables.lineitem(s, dir),
        rowRules = Seq(
          graft.ops.Expectations.notNull("l_quantity"),
          graft.ops.Expectations.inRange("l_quantity", 1.0, 50.0),
          graft.ops.Expectations.inRange("l_discount", 0.0, 0.1)),
        unique = Seq("l_orderkey", "l_linenumber"),
        foreignKey = Some(("l_orderkey", Tables.orders(s, dir), "o_orderkey"))),
      // rule names mirror the operator's generated labels verbatim
      """WITH r AS (
           SELECT 'not_null(l_quantity)' AS rule,
                  CAST(count(*) FILTER (WHERE l_quantity IS NULL)
                       AS BIGINT) AS violations
           FROM lineitem
           UNION ALL
           SELECT 'in_range(l_quantity,1.0,50.0)',
                  CAST(count(*) FILTER (WHERE l_quantity IS NULL
                        OR l_quantity < 1.0 OR l_quantity > 50.0) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'in_range(l_discount,0.0,0.1)',
                  CAST(count(*) FILTER (WHERE l_discount IS NULL
                        OR l_discount < 0.0 OR l_discount > 0.1) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'unique(l_orderkey,l_linenumber)',
                  CAST(coalesce(sum(n - 1), 0) AS BIGINT)
           FROM (SELECT count(*) AS n FROM lineitem
                 GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
           UNION ALL
           SELECT 'foreign_key(l_orderkey->o_orderkey)',
                  CAST(count(*) AS BIGINT)
           FROM lineitem
           WHERE l_orderkey IS NOT NULL
             AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                    WHERE o_orderkey IS NOT NULL))
         SELECT rule, violations, violations = 0 AS pass FROM r"""),

    // ── Quality-gate routing: the BATCH face of the streaming gate
    //    (streaming/QualityGate) — every event_type group audited as its
    //    own batch, routed publish iff EVERY rule passes, else the WHOLE
    //    batch quarantines (ops.Expectations.auditRouted; one scan +
    //    a window bool_and, no second pass).
    QuerySpec("q_quality_gate", (s, dir) =>
      graft.ops.Expectations.auditRouted(Tables.events(s, dir),
        "event_type", Seq(
          graft.ops.Expectations.notNull("value"),
          graft.ops.Expectations.inRange("value", 0.0, 400.0))),
      // per-batch audit + all-or-nothing routing: rule labels verbatim,
      // decision a window bool_and over the group's rules
      """WITH r AS (
           SELECT event_type, 'not_null(value)' AS rule,
                  CAST(count(*) FILTER (WHERE value IS NULL)
                       AS BIGINT) AS violations
           FROM events GROUP BY event_type
           UNION ALL
           SELECT event_type, 'in_range(value,0.0,400.0)',
                  CAST(count(*) FILTER (WHERE value IS NULL
                        OR value < 0.0 OR value > 400.0) AS BIGINT)
           FROM events GROUP BY event_type)
         SELECT event_type, rule, violations, violations = 0 AS pass,
                CASE WHEN bool_and(violations = 0)
                          OVER (PARTITION BY event_type)
                     THEN 'publish' ELSE 'quarantine' END AS route
         FROM r"""),

    // ── Cohort retention triangle: users grouped by first-activity
    //    date, distinct-active counts per day offset — co-partitioned
    //    entity-key aggregates, output bounded by cohorts × horizon
    //    (ops.Cohort.retention).
    QuerySpec("q_cohort", (s, dir) =>
      graft.ops.Cohort.retention(Tables.events(s, dir),
        entityCol = "user_id", tsCol = "ts"),
      // calendar-date truncation + integer day arithmetic, exact in both
      // engines (q_asof's DATE identity)
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
                    FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
         SELECT cohort_date,
                CAST(date_diff('day', cohort_date, d) AS BIGINT) AS day_offset,
                count(*) AS n_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2"""),

    // ── Market-basket lift over part co-purchases (quarter sample):
    //    posting-list pair expansion (never a fact self-join), supports
    //    broadcast, lift via exact half-up integer division
    //    (ext.Basket.pairLift). The "bought together" association op.
    QuerySpec("q_lift", (s, dir) =>
      graft.ext.Basket.pairLift(
        Tables.lineitem(s, dir)
          .filter(col("l_partkey") % 4 === 0)
          .select(col("l_orderkey"), col("l_partkey")),
        basketCol = "l_orderkey", itemCol = "l_partkey", minSupport = 2),
      // DISTINCT baskets first (duplicate items count once), id-ordered
      // pair join, halfUp4 lift like quality_score
      """WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                     FROM lineitem WHERE l_partkey % 4 = 0),
         p AS (SELECT a.i AS item_a, b2.i AS item_b, count(*) AS n_ab
               FROM li a JOIN li b2 ON a.b = b2.b AND a.i < b2.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         s AS (SELECT i, count(*) AS n FROM li GROUP BY 1),
         t AS (SELECT count(DISTINCT b) AS nb FROM li)
         SELECT item_a, item_b,
                CAST(n_ab AS BIGINT) AS n_ab,
                CAST(sa.n AS BIGINT) AS n_a,
                CAST(sb.n AS BIGINT) AS n_b,
                CAST(floor((2*n_ab*(SELECT nb FROM t)*10000 + sa.n*sb.n)
                           / (2*sa.n*sb.n)) AS DOUBLE) / 10000 AS lift
         FROM p JOIN s sa ON p.item_a = sa.i
                JOIN s sb ON p.item_b = sb.i"""),

    // ── Empirical Markov transition matrix of user event sequences:
    //    one ordered window + one pair aggregate; conditional
    //    probabilities as exact half-up division (ops.Transitions).
    QuerySpec("q_transitions", (s, dir) =>
      graft.ops.Transitions.matrix(Tables.events(s, dir),
        entityCol = "user_id", stateCol = "event_type",
        tsCol = "ts", tieCol = "event_id"),
      // lag under the (ts, event_id) total order; halfUp4 probabilities
      """WITH t AS (SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS from_state
              FROM events),
         c AS (SELECT from_state, event_type AS to_state, count(*) AS n
               FROM t WHERE from_state IS NOT NULL GROUP BY 1, 2),
         s AS (SELECT from_state, to_state, n,
                CAST(sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS tot
               FROM c)
         SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
                CAST(floor((2*n*10000 + tot) / (2*tot)) AS DOUBLE) / 10000
                  AS p_4dp
         FROM s"""),

    // ── Rank (quantile) normalization: ANSI percent_rank per event type
    //    under the (value, event_id) total order — outlier-immune scaling
    //    from exact integer rank division (ext.Normalize.rankNormalize).
    QuerySpec("q_rank_norm", (s, dir) =>
      graft.ext.Normalize.rankNormalize(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        keys = Seq("event_type"), valCol = "value", tieCol = "event_id")
        .filter(col("event_id") <= 2000),
      // ANSI percent_rank under the same total order; NULLS FIRST spelled
      // out (DuckDB's ASC default is nulls-LAST, Spark's is nulls-first)
      """WITH s AS (SELECT event_id, event_type, value,
             percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value NULLS FIRST,
                                           event_id NULLS FIRST) AS pr
           FROM events)
         SELECT event_id, event_type, value, pr
         FROM s WHERE event_id <= 2000"""),

    // ── SCD type-2 history: per-user event_type change intervals with
    //    [valid_from, valid_to) validity and is_current — the auditable
    //    superset of the store's last-wins state (ops.Scd2, one shuffle).
    QuerySpec("q_scd2", (s, dir) =>
      graft.ops.Scd2.history(
          Tables.events(s, dir)
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type")),
          keys = Seq("user_id"), tsCol = "ts", attrs = Seq("event_type"),
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current")),
      // change rows = first observation or event_type differs from previous
      // (per user, total order ts+event_id); validity closed by the next
      // change row's timestamp
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS rn
              FROM events),
         c AS (SELECT user_id, ts, event_id, event_type FROM o
               WHERE rn = 1 OR prev <> event_type)
         SELECT user_id, event_type,
                epoch_us(ts) AS valid_from_us,
                epoch_us(lead(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id)) AS valid_to_us,
                (lead(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) IS NULL) AS is_current
         FROM c"""),

    // ── Ordered funnel: users converting view → click → purchase with
    //    each stage strictly after the previous one (greedy earliest-
    //    first; ops.Funnel — one user-keyed aggregation per step, stages
    //    stay co-partitioned).
    QuerySpec("q_funnel", (s, dir) =>
      graft.ops.Funnel.steps(Tables.events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase")),
      // chained stage CTEs mirror the operator: earliest qualifying event
      // strictly after the previous stage time
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t
                GROUP BY e.user_id)
         SELECT 1 AS step_idx, 'view' AS step,
                (SELECT count(*) FROM s1) AS n_users
         UNION ALL
         SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL
         SELECT 3, 'purchase', (SELECT count(*) FROM s3)"""),

    // ── Gaps-and-islands: per-user activity intervals ([ts, ts + 1+⌊value⌋
    //    minutes]) merged into maximal coverage islands — the windowed
    //    interval-compaction every downtime/coverage report needs
    //    (ops.Intervals, one shuffle).
    QuerySpec("q_interval_merge", (s, dir) =>
      graft.ops.Intervals.mergeOverlapping(
        Tables.events(s, dir).select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) +
            (floor(col("value")).cast("long") + 1L) * 60000000L).as("end_us")),
        keys = Seq("user_id"), startCol = "start_us", endCol = "end_us",
        tieBreak = Seq("event_id")),
      // running max over earlier ends (never lag) so nested intervals can't
      // split an island; the island id sum is CAST BIGINT (HUGEINT trap)
      """WITH iv AS (SELECT user_id, event_id,
                CAST(epoch_us(ts) AS BIGINT) AS start_us,
                CAST(epoch_us(ts) AS BIGINT)
                  + (CAST(floor(value) AS BIGINT) + 1) * 60000000 AS end_us
              FROM events),
         m AS (SELECT user_id, event_id, start_us, end_us,
                max(end_us) OVER (PARTITION BY user_id
                  ORDER BY start_us, end_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
               FROM iv),
         b AS (SELECT user_id, event_id, start_us, end_us,
                CASE WHEN pm IS NULL OR start_us > pm THEN 1 ELSE 0 END AS brk
               FROM m),
         i AS (SELECT user_id, start_us, end_us,
                CAST(sum(brk) OVER (PARTITION BY user_id
                  ORDER BY start_us, end_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
               FROM b)
         SELECT user_id, min(start_us) AS start_us, max(end_us) AS end_us,
                count(*) AS n_merged
         FROM i GROUP BY user_id, island"""),

    // ── The complement report: UNCOVERED spans between activity islands
    //    per user — downtime/blind-spot detection from the same single
    //    window pass as the merge (ops.Intervals.gaps, one shuffle).
    QuerySpec("q_interval_gaps", (s, dir) =>
      graft.ops.Intervals.gaps(
        Tables.events(s, dir).select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) +
            (floor(col("value")).cast("long") + 1L) * 60000000L).as("end_us")),
        keys = Seq("user_id"), startCol = "start_us", endCol = "end_us",
        tieBreak = Seq("event_id")),
      // same interval construction and running-max window as
      // q_interval_merge; a gap is an island break with an earlier end
      """WITH iv AS (SELECT user_id, event_id,
                CAST(epoch_us(ts) AS BIGINT) AS start_us,
                CAST(epoch_us(ts) AS BIGINT)
                  + (CAST(floor(value) AS BIGINT) + 1) * 60000000 AS end_us
              FROM events),
         m AS (SELECT user_id, start_us,
                max(end_us) OVER (PARTITION BY user_id
                  ORDER BY start_us, end_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
               FROM iv)
         SELECT user_id, pm AS gap_start, start_us AS gap_end,
                start_us - pm AS gap_len
         FROM m WHERE pm IS NOT NULL AND start_us > pm"""),

    // ── Skew-resistant equi join: the hot event-type key is salted into
    //    8 deterministic sub-keys and the per-type dim replicated per
    //    bucket (ops.SkewJoin) — semantics proven ≡ the plain join by the
    //    oracle. The static fallback where AQE skew splitting can't fire.
    QuerySpec("q_skew_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val dim = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_type"))
      graft.ops.SkewJoin.saltedJoin(ev, dim, Seq("event_type"),
        distributor = col("event_id"), saltBuckets = 8)
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("event_type"), col("value"),
          col("n_type"))
    },
      // the PLAIN inner join — the salted formulation must be
      // indistinguishable from it
      """WITH d AS (SELECT event_type, count(*) AS n_type
                    FROM events GROUP BY 1)
         SELECT event_id, event_type, value, n_type
         FROM events JOIN d USING (event_type)
         WHERE event_id <= 2000"""),

    // ── Contiguous event-sequence matches (ops.EventSeq, CEP-lite):
    //    view→click→purchase as CONSECUTIVE per-user events, 7-day gap
    //    bound, ONE window pass under the (ts, event_id) total order —
    //    per-instance matches, not funnel conversion counts.
    QuerySpec("q_event_seq", (s, dir) =>
      graft.ops.EventSeq.matchContiguous(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"),
        maxGapMicros = 7L * 86400L * 1000000L)
        // micros-as-BIGINT output discipline (raw timestamps don't
        // norm-compare across the pyarrow/DuckDB readers)
        .select(col("entity"), unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us")),
      // the same lead() conjunction under the same (ts, event_id) total
      // order; gaps in exact BIGINT micros (epoch_us ≡ unix_micros)
      """WITH e AS (SELECT user_id, ts, event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(ts, 1) OVER w AS ts1,
             lead(ts, 2) OVER w AS ts2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id AS entity, epoch_us(ts) AS start_us,
                epoch_us(ts2) AS end_us
         FROM e WHERE event_type = 'view' AND t1 = 'click'
           AND t2 = 'purchase'
           AND epoch_us(ts1) - epoch_us(ts) <= 604800000000
           AND epoch_us(ts2) - epoch_us(ts1) <= 604800000000"""),

    // ── Robust per-type outlier profile (ext.Robust): median + MAD via
    //    exact interpolating percentiles in unordered windows, k=3 flag
    //    count — ONE exchange (windows and the aggregate share the
    //    group partitioning).
    QuerySpec("q_mad", (s, dir) =>
      graft.ext.Robust.madProfile(Tables.events(s, dir),
        Seq("event_type"), "value", k = 3.0),
      // exact quantile_cont ≡ percentile parity (the q_metric_profile
      // pair), 4-dp boundary; the outlier comparison replays on the
      // UNROUNDED medians exactly as the operator computes it
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                      FROM events GROUP BY 1),
         d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
               FROM events e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
                 FROM d GROUP BY 1)
         SELECT d.event_type, round(max(d.med), 4) AS med,
                round(max(m2.mad), 4) AS mad,
                CAST(sum(CASE WHEN d.adev > 3.0 * m2.mad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers,
                CAST(count(*) AS BIGINT) AS n
         FROM d JOIN mad m2 USING (event_type)
         GROUP BY 1"""),

    // ── Per-series CUSUM changepoint (ops.Changepoint): argmax of the
    //    integer-exact scaled cumulative deviation S_i = n·P_i − i·T
    //    over each user's (ts, event_id)-ordered values — ONE exchange
    //    on the series key carries the prefix sum, the series totals,
    //    and the argmax pick. The "when did this series' level move"
    //    monitoring face.
    QuerySpec("q_changepoint", (s, dir) =>
      graft.ops.Changepoint.cusum(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value", scale = 1000L),
      // same half-up 10⁻³ quantization, same S_i = n·P_i − i·T in BIGINT
      // (DuckDB's HUGEINT window sums cast back down), same (|S| desc, i)
      // argmax tie rule — any disagreement in order or arithmetic
      // hash-mismatches
      """WITH s AS (SELECT user_id, ts, event_id,
                CAST(floor(value * 1000 + 0.5) AS BIGINT) AS q FROM events
                WHERE value IS NOT NULL),
         w AS (SELECT user_id, ts, event_id, q,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS i,
                 CAST(sum(q) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS p,
                 count(*) OVER (PARTITION BY user_id) AS n,
                 CAST(sum(q) OVER (PARTITION BY user_id) AS BIGINT) AS t
               FROM s),
         d AS (SELECT user_id, n, i, ts,
                 abs(n * p - i * t) AS s_abs,
                 row_number() OVER (PARTITION BY user_id
                    ORDER BY abs(n * p - i * t) DESC, i) AS rn
               FROM w)
         SELECT user_id, n, CAST(i AS INTEGER) AS cp_idx,
                epoch_us(ts) AS cp_us, CAST(s_abs AS BIGINT) AS s_abs
         FROM d WHERE rn = 1"""),

    // ── Recency-weighted engagement score (ops.DecayAgg): per-user
    //    Σ value·2^(−⌊age_days/7⌋) as of 2024-02-01 — ages in WHOLE
    //    half-life steps so every weight is an exact power of two and
    //    the µ-score sums in BIGINT (no libm pow, no float order);
    //    ONE partial-aggregatable hash pass.
    QuerySpec("q_decay", (s, dir) =>
      graft.ops.DecayAgg.decayScore(Tables.events(s, dir),
        keys = Seq("user_id"), tsCol = "ts", valCol = "value",
        asOfUs = 1706745600000000L, halfLifeDays = 7),
      // same integer day/halving buckets (// on non-negative operands ≡
      // Spark div; a double divide + CAST would round where Spark
      // truncates), same exact 2^(−n) weights and half-up µ-contributions
      """WITH c AS (SELECT user_id,
                CAST(floor(floor(value * 1000000 + 0.5)
                     * pow(2.0, -CAST(((1706745600000000 - epoch_us(ts))
                                       // 86400000000) // 7 AS DOUBLE))
                     + 0.5) AS BIGINT) AS c
              FROM events
              WHERE value IS NOT NULL
                AND epoch_us(ts) < 1706745600000000)
         SELECT user_id, count(*) AS n_events,
                CAST(sum(c) AS BIGINT) AS score_micro
         FROM c GROUP BY user_id"""),

    // ── Functional-dependency audit (ops.FdAudit): does the key column
    //    really determine the dependent, checked EXACTLY — per pair one
    //    two-level aggregate (distinct collapse → 4-number rollup), no
    //    window, no join. o_orderkey→o_custkey must hold (it is the
    //    key); the two coarse determinants must report their violation
    //    counts exactly.
    QuerySpec("q_fd_audit", (s, dir) =>
      graft.ops.FdAudit.audit(Tables.orders(s, dir), Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderpriority",
        "o_orderstatus" -> "o_orderpriority")),
      // one arm per audited pair, identical NULL semantics (GROUP BY
      // groups NULL keys, count(DISTINCT) ignores NULL dependents)
      """SELECT 'o_orderkey' AS det, 'o_custkey' AS dep,
             count(*) AS n_groups,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             max(nd) AS max_distinct_dep,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
         FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
               FROM orders GROUP BY 1)
         UNION ALL
         SELECT 'o_custkey', 'o_orderpriority', count(*),
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             max(nd), sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
         FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
               FROM orders GROUP BY 1)
         UNION ALL
         SELECT 'o_orderstatus', 'o_orderpriority', count(*),
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             max(nd), sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
         FROM (SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS nd
               FROM orders GROUP BY 1)""")
  )
}
