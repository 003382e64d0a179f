package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Fusion, Multimodal, Relevance, Similarity, TextAnalysis}
import graft.model.Tables
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] re-expresses an operator from SURVEY.md §2
  * Spark-first over the driver testdata; [[oracleSql]] carries the
  * DuckDB-equivalent ANSI SQL the driver hash-compares against at sf0.01.
  *
  * Numeric-parity conventions (so Spark and DuckDB hash identically):
  * sums of doubles go through `decimal(18,2..4)` (exact, order-independent)
  * and are cast back to double; percentiles use Spark's exact `percentile`
  * (= DuckDB `quantile_cont`) rounded to 4 dp; every computed column is
  * aliased identically on both sides; LIMIT/row_number always carry a
  * unique total order.
  */
object SparkEntry {

  /** Exact order-independent sum of a double column (see header). */
  private def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  // Per-invocation temp index dirs (q_ann_ivf_disk) are deleted at JVM
  // exit — Bench runs each query 3×, and without cleanup the orphaned
  // parquet dirs would accumulate in /tmp indefinitely (ADVICE r4). One
  // hook drains the queue; registration is idempotent via the lazy val.
  private val tmpIndexDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val tmpIndexHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpIndexDirs.forEach { d =>
        try {
          import java.nio.file.{Files, Paths, Path}
          import java.util.Comparator
          val root = Paths.get(d)
          if (Files.exists(root))
            Files.walk(root).sorted(Comparator.reverseOrder[Path]())
              .forEach(p => Files.deleteIfExists(p))
        } catch { case _: Exception => () } // best-effort at shutdown
      }
    }))
    true
  }
  private def registerTempIndexDir(path: String): String = {
    tmpIndexHookInstalled
    tmpIndexDirs.add(path)
    path
  }

  /** Per-run-unique scratch dir for the queries that stage data on local
    * disk (q_jsonl_scan / q_tsv_scan / q_corpus_export). The previous
    * fixed `graft_q_*` paths raced concurrent JVMs on one host (ADVICE
    * r9): a driver Bench and a builder Verify would overwrite each
    * other's staging mid-read. applicationId + pid make the root unique
    * per JVM (local-mode appIds are timestamp-derived, so the pid breaks
    * a same-millisecond tie); within a JVM the path is STABLE, so
    * Bench's 3× reruns of one query overwrite in place instead of
    * accumulating. The whole per-JVM root rides the exit-time cleanup
    * queue above.
    */
  private[graft] def scratchDir(s: SparkSession, name: String): String = {
    val root = System.getProperty("java.io.tmpdir") +
      s"/graft_scratch_${s.sparkContext.applicationId}_${ProcessHandle.current().pid()}"
    registerTempIndexDir(root)
    s"$root/$name"
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_flow_rollup")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A1+A2+A15 (+P1/P3): hot-path flow rollup —
    //    etl_deepflow/neptune_etl_deepflow.py:633-646.
    // time cutoff 2024-01-08 00:00 UTC = 1704672000, applied pre-conversion
    // so it reaches the parquet scan (see Tables.eventsSince).
    "q_flow_rollup" -> ((s, dir) =>
      FlowRollup(
        Tables.eventsSince(s, dir, 1704672000L),
        srcCol = "user_id",
        dstCol = "event_type",
        valueCol = "value",
        timePredicate = lit(true),
        errPredicate = col("value") >= 30.0
      )),

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
    "q_warehouse_rollup" -> ((s, dir) => {
      val url = graft.sources.Warehouse.memoryUrl("graftwh")
      val tbl = "evw" + math.abs(dir.hashCode).toString
      graft.sources.Warehouse.stage(
        Tables.events(s, dir)
          .filter(col("event_id") % 10 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"),
            (col("value") * 100).cast("long").as("cents")),
        url, tbl)
      s.read.format("graft.sources.WarehouseSource")
        .option("url", url).option("dbtable", tbl).load()
        .filter(col("cents") >= 500L)
        .groupBy(col("event_type"))
        .agg(count(col("event_id")).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          max(col("user_id")).as("max_user"))
    }),

    // ── The sharded posture of the same source (the 100×-scale shape,
    //    review r15 #4): dbtable lists TWO shard tables, the source
    //    refuses COMPLETE pushdown, each shard computes its own
    //    GROUP-BY partial in warehouse SQL, and Spark plans the FINAL
    //    merge (sum of counts, sum of sums, max of maxes) over
    //    group-cardinality partial rows — never raw rows.
    "q_warehouse_partial" -> ((s, dir) => {
      val url = graft.sources.Warehouse.memoryUrl("graftwh")
      val base = Tables.events(s, dir)
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("value") * 100).cast("long").as("cents"))
      val t0 = "evwp0" + math.abs(dir.hashCode).toString
      val t1 = "evwp1" + math.abs(dir.hashCode).toString
      graft.sources.Warehouse.stage(
        base.filter(expr("(event_id div 10) % 2 = 0")), url, t0)
      graft.sources.Warehouse.stage(
        base.filter(expr("(event_id div 10) % 2 = 1")), url, t1)
      s.read.format("graft.sources.WarehouseSource")
        .option("url", url).option("dbtable", s"$t0,$t1").load()
        .filter(col("cents") >= 500L)
        .groupBy(col("event_type"))
        .agg(count(col("event_id")).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          max(col("user_id")).as("max_user"))
    }),

    // ── DISTINCT over the sharded posture (review r16 #4): the DSv2
    //    API cannot carry a partial DISTINCT (distinct sets do not
    //    merge), so plans/DistinctAggThroughShards rewrites
    //    count(DISTINCT user_id) into a plain count over a dedup
    //    aggregate, and the standard pushdown turns THAT into
    //    per-shard `GROUP BY event_type, user_id` warehouse SQL —
    //    each shard ships its distinct pairs once; Spark dedups
    //    across shards and counts. Plan-contracted in
    //    WarehouseSourceSpec.
    "q_warehouse_distinct" -> ((s, dir) => {
      val url = graft.sources.Warehouse.memoryUrl("graftwh")
      val base = Tables.events(s, dir)
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("value") * 100).cast("long").as("cents"))
      val t0 = "evwp0" + math.abs(dir.hashCode).toString
      val t1 = "evwp1" + math.abs(dir.hashCode).toString
      graft.sources.Warehouse.stage(
        base.filter(expr("(event_id div 10) % 2 = 0")), url, t0)
      graft.sources.Warehouse.stage(
        base.filter(expr("(event_id div 10) % 2 = 1")), url, t1)
      s.read.format("graft.sources.WarehouseSource")
        .option("url", url).option("dbtable", s"$t0,$t1").load()
        .filter(col("cents") >= 500L)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // ── The same source's row face: pushed filters + pruned SELECT
    //    list (the scan reads exactly two columns and ships exactly
    //    the matching rows — nothing re-filters Spark-side).
    "q_warehouse_scan" -> ((s, dir) => {
      val url = graft.sources.Warehouse.memoryUrl("graftwh")
      val tbl = "evw" + math.abs(dir.hashCode).toString
      graft.sources.Warehouse.stage(
        Tables.events(s, dir)
          .filter(col("event_id") % 10 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"),
            (col("value") * 100).cast("long").as("cents")),
        url, tbl)
      s.read.format("graft.sources.WarehouseSource")
        .option("url", url).option("dbtable", tbl).load()
        .filter(col("event_type") === "click" && col("cents") >= 1000L)
        .select(col("event_id"), col("cents"))
    }),

    // ── And its TOP-N face: ORDER BY + LIMIT compile into the
    //    warehouse query too (FETCH FIRST; the reference sends LIMIT to
    //    ClickHouse the same way) — Spark's Sort/Limit nodes vanish,
    //    the source's cut IS the global cut. Total-order tiebreak
    //    (cents DESC, event_id) keeps the row SET deterministic.
    "q_warehouse_topn" -> ((s, dir) => {
      val url = graft.sources.Warehouse.memoryUrl("graftwh")
      val tbl = "evw" + math.abs(dir.hashCode).toString
      graft.sources.Warehouse.stage(
        Tables.events(s, dir)
          .filter(col("event_id") % 10 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"),
            (col("value") * 100).cast("long").as("cents")),
        url, tbl)
      s.read.format("graft.sources.WarehouseSource")
        .option("url", url).option("dbtable", tbl).load()
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("cents"))
        .orderBy(col("cents").desc, col("event_id"))
        .limit(20)
    }),

    // ── A3: per-server latency/error profile (p50/p99/rps/error-rate) —
    //    etl_deepflow:143-153.
    "q_metric_profile" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"),
          (count(lit(1)).cast("double") / lit(300.0)).as("rps"),
          (count(when(col("value") >= 30.0, 1)).cast("double") / count(lit(1)))
            .as("error_rate")
        )),

    // ── A5 (+P9): active-connection proxy: filtered sum per server —
    //    etl_deepflow:224-231 (sum(syn_count) where protocol=6).
    "q_active_connections" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(decSum(col("value")).as("active_connections"))),

    // ── A4 (+J2): throttle-flag rollup: conditional sums folded to per-key
    //    booleans — etl_deepflow:178-213.
    "q_throttle_flags" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          expr("bool_or(event_type = 'error' AND value > 50.0)").as("err_throttled"),
          expr("bool_or(event_type = 'purchase' AND value > 80.0)").as("buy_throttled"),
          expr("bool_or(value > 95.0)").as("any_throttled")
        )),

    // ── J1-style broadcast dim chain: fact ⋈ supplier ⋈ nation ⋈ region →
    //    revenue per region (the ip_map enrichment shape, etl_deepflow:675-695).
    "q_region_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items")
        )
    }),

    // ── J5/SO4: semi-join membership (EC2-in-EKS shape, etl_aws:1513-1518).
    "q_semi_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))),

    // ── Bloom-prefiltered semi join (ops.BloomPrefilter + the codegen
    //    bloom_might_contain expression): the runtime-filter pattern as
    //    an explicit operator, for key sets too big to broadcast-hash
    //    but whose Bloom fits (~1.2 MB/M keys at 1% fpp) — the
    //    allowlist/blocklist staple at 100 TB. The filter probe prunes
    //    the fact MAP-SIDE before any exchange; the residual semi join
    //    over the surviving sliver erases false positives, so the
    //    result is EXACTLY the plain semi join the oracle states (an
    //    fpp leak hash-mismatches).
    "q_bloom_semi" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.ops.BloomPrefilter.semiJoin(li, "l_orderkey", urgent,
        "o_orderkey", expectedKeys = 40000L, fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
    }),

    // ── Bloom-prefiltered ANTI join: contamination-blocklist removal —
    //    might_contain=false rows are DEFINITELY clean and bypass the
    //    join entirely; only the sliver pays the residual anti join.
    //    Result ≡ plain anti join (oracle).
    "q_bloom_anti" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.ops.BloomPrefilter.antiJoin(li, "l_orderkey", urgent,
        "o_orderkey", expectedKeys = 40000L, fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
    }),

    // ── A14/K9/SO1: anti-join ghost-node GC — etl_aws:1932-2066. "Live" =
    //    keys seen by the latest scan (open orders); everything else is stale.
    "q_anti_gc" -> ((s, dir) =>
      AntiJoinGC.stale(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"))),

    // ── J7 (+F6): env-var value join — JSON field of the fact row joined to
    //    a resource table's natural key (etl_aws:1622-1657).
    "q_env_join" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .join(broadcast(Tables.supplier(s, dir)), col("k") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_refs"), decSum(col("value")).as("total_value"))),

    // ── A10 + §2.6: last-datapoint-per-series via ranked window —
    //    etl_aws:795-796 (sorted-by-ts last value).
    "q_last_value" -> ((s, dir) => {
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
    }),

    // ── A9/G3: fused degree metrics over an edge table —
    //    etl_deepflow:536-568.
    "q_degree" -> ((s, dir) => {
      val nodes = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("node_id"), col("s_name"))
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("src"), (col("l_partkey") % 100).as("dst"),
          col("l_returnflag"))
      DegreeMetrics(nodes, "node_id", edges, "src", "dst",
        Seq("returned_out" -> (col("l_returnflag") === "R")))
    }),

    // ── A7/K8/SO3: set-cardinality property recompute (AZ set per service,
    //    etl_deepflow:709-746) — deterministic sorted distinct set.
    "q_collect_set" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("type_set"))),

    // ── K1-K3/§7.3: merge-upsert with absent-preserves semantics —
    //    etl_aws:209-253. Incoming batch (order totals) merged into the
    //    customer snapshot; c_name is absent in the batch and must survive.
    "q_merge_upsert" -> ((s, dir) => {
      val existing = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val incoming = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(decSum(col("o_totalprice")).as("c_acctbal"))
        .withColumn("c_name", lit(null).cast("string"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      MergeUpsert(existing, incoming, Seq("c_custkey"), Seq("c_name", "c_acctbal"))
    }),

    // ── F10/K1 dynamic props: MapType(String,String) property column with
    //    per-key overlay merge (the reference injects one property per tag
    //    key and never clobbers tags absent from the batch —
    //    etl_aws:214-222,312,521-523). Result exploded to (name, key, value)
    //    rows so the map is oracle-hashable.
    "q_map_props" -> ((s, dir) => {
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
    }),

    // ── §2.10 reset-then-degrade: health recomputed each batch from the
    //    alarm join — etl_aws:1469,2074-2111.
    "q_two_phase_health" -> ((s, dir) => {
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
    }),

    // ── §3.2 END-TO-END topology pipeline: snapshot merged into the vertex
    //    store (absent-preserves first_seen = onCreate/onMatch), health
    //    reset-then-degraded from the alarm join, ghost vertices GC'd —
    //    the reference's most load-bearing composition
    //    (etl_aws:1393-2114) as ONE logical plan. Store = all customers;
    //    snapshot drops custkey%5==0 (ghosts) and adds custkey%7==0
    //    shifted by 100000 (creates); alarms = customers with failed
    //    orders.
    "q_topology" -> ((s, dir) => {
      val (store, snapshot, alarms) = topologyInputs(s, dir)
      graft.pipelines.Pipelines.topology(store, snapshot, alarms,
        runStamp = 1700000000L)
    }),

    // ── §3.2 run report: per-step counts for the SAME topology run —
    //    created/matched/GC'd from a full-outer key join of the run's
    //    output against the prior store, health mix from the output
    //    itself (Pipelines.topologyStats; the reference's per-step stats
    //    accumulation, etl_aws:1410,2113, as one audit row).
    "q_topology_stats" -> ((s, dir) => {
      val (store, snapshot, alarms) = topologyInputs(s, dir)
      graft.pipelines.Pipelines.topologyStats(store, snapshot, alarms,
        runStamp = 1700000000L)
    }),

    // ── Snapshot diff (CDC between store versions): the q_topology run's
    //    output diffed against the prior store state — one row per
    //    added / removed / changed vertex with old+new health side by
    //    side (ops.SnapshotDiff, one full-outer shuffle). The versioned
    //    GraphStorage.commitSnapshot/readSnapshot layout this feeds is
    //    spec-gated (filesystem behavior).
    "q_snapshot_diff" -> ((s, dir) => {
      val (store, snapshot, alarms) = topologyInputs(s, dir)
      val current = graft.pipelines.Pipelines
        .topology(store, snapshot, alarms, runStamp = 1700000000L)
        .select(col("label"), col("name"), col("health_status"))
      graft.ops.SnapshotDiff(
        store.select(col("label"), col("name"), col("health_status")),
        current, keys = Seq("label", "name"),
        compareCols = Seq("health_status"))
    }),

    // ── §3.3 END-TO-END declared-deps pipeline: templates synthesized from
    //    events (as q_ref_extract), recursive ref extraction, both-side
    //    logical→physical resolution against a broadcast dim, distinct
    //    provenance edges (etl_cfn:244-374). The arn-shaped ref has no
    //    physical id on purpose — the unresolvable-drop path (P5) runs.
    "q_declared_deps" -> ((s, dir) => {
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
    }),

    // ── Salted two-phase aggregation (the 100×-scale hot-key story):
    //    events.event_type has only ~5 values, so a plain groupBy puts 20%
    //    of ALL rows on one reducer — SkewAgg spreads each key over 16 salt
    //    buckets, combines partials, and must equal the plain aggregation.
    "q_skew_agg" -> ((s, dir) =>
      graft.ops.SkewAgg.saltedSum(
          Tables.events(s, dir), keys = Seq("event_type"),
          distributor = col("event_id"), saltBuckets = 16,
          sums = Map("total_value" -> col("value").cast("decimal(18,2)")),
          counts = Seq("n_events"))
        .select(col("event_type"),
          col("total_value").cast("double").as("total_value"),
          col("n_events"))),

    // ── J11: multi-dimension alarm dispatch — each alarm's ordered
    //    dimension list walked for the first entry in the dim→label
    //    registry, then a union of per-label resource joins
    //    (etl_aws:2074-2105). Dim 1 is unmapped (skipped), dim 2 is null
    //    for user_id % 7 == 0 (skipped), so all three skip paths execute.
    "q_alarm_dispatch" -> ((s, dir) => {
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
    }),

    // ── J12: vpc join with cross fallback — monitors dispatch metrics to
    //    instances in their declared VPCs; monitors declaring NO vpc fan
    //    out to every instance (etl_aws:1041-1070). Nations stand in for
    //    monitors (every 5th declares no vpc), customers for instances.
    "q_vpc_fallback" -> ((s, dir) => {
      val monitors = Tables.nation(s, dir)
        .select(col("n_nationkey").as("monitor_id"), col("n_name").as("monitor_name"))
      val monitorVpcs = Tables.nation(s, dir)
        .filter(col("n_nationkey") % 5 =!= 0)
        .select(col("n_nationkey").as("monitor_id"), col("n_regionkey").as("vpc_id"))
      val instances = Tables.customer(s, dir)
        .select(col("c_custkey"), (col("c_nationkey") % 5).as("vpc_id"))
      graft.ops.VpcDispatch(instances, "vpc_id", monitors, "monitor_id", monitorVpcs)
        .select(col("c_custkey"), col("monitor_id"), col("monitor_name"), col("via"))
    }),

    // ── AS-OF JOIN: each event joined to the latest per-day order rollup
    //    of the same customer at-or-before the event date — the
    //    time-series lookup Spark lacks natively, composed as union +
    //    carry-forward window (ops.AsOfJoin; one shuffle, no range
    //    explosion). Oracle: DuckDB's native ASOF LEFT JOIN.
    "q_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        to_date(col("ts")).as("event_date"), col("value"))
      val ord = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").as("order_date"))
        .agg(count(lit(1)).as("n_orders_day"),
          decSum(col("o_totalprice")).as("day_total"))
      graft.ops.AsOfJoin(ev, ord, Seq("user_id"), "event_date", "order_date")
    }),

    // ── AS-OF JOIN with max-staleness bound: same lookup, but a match more
    //    than 7 days older than the event is discarded (nulled) — the
    //    common production "tolerance" variant.
    "q_asof_tol" -> ((s, dir) => {
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
    }),

    // ── RANGE JOIN: events matched to the overlapping value bands that
    //    contain them — bucketized candidates + exact filter
    //    (ops.RangeJoin), the equi-join shape that replaces the
    //    nested-loop plan Spark gives a bare range predicate.
    "q_range_join" -> ((s, dir) => {
      val bands = Tables.nation(s, dir).select(
        col("n_nationkey").as("band_id"),
        (col("n_nationkey").cast("double") * 3.5).as("lo"),
        (col("n_nationkey").cast("double") * 3.5 + 12.0).as("hi"))
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      graft.ops.RangeJoin.pointInInterval(ev, bands, Nil,
          "value", "lo", "hi", bucketWidth = 8.0)
        .select(col("event_id"), col("band_id"), col("value"))
    }),

    // ── F1: IPv4 uint32 → dotted string (IPv4NumToString analog,
    //    etl_deepflow:148) via the native codegen Expression
    //    graft.functions.IPv4String.
    "q_ipv4" -> ((s, dir) => {
      graft.functions.IPv4String.register(s)
      val ip = pmod(col("event_id") * lit(2654435761L), lit(4294967296L))
      Tables.events(s, dir).select(
        col("event_id"),
        call_function("ipv4_str", ip).as("ip_str"))
    }),

    // ── F3/P13: name normalization — tail segment extraction
    //    (etl_cfn:347-354, etl_aws:1790-1797).
    "q_split_tail" -> ((s, dir) =>
      Tables.part(s, dir)
        .withColumn("tail", regexp_extract(col("p_type"), "([^ ]+)$", 1))
        .groupBy(col("tail"))
        .agg(count(lit(1)).as("n_parts"), decSum(col("p_retailprice")).as("total_price"))),

    // ── F6: JSON field extraction histogram — etl_aws:671-678.
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"))),

    // ── SO1/SO2: union + except over key sets — etl_deepflow:357-358,
    //    etl_aws:1954.
    "q_union_except" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      def ids(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"), col("day"))
      ids("click").union(ids("purchase")).distinct().except(ids("error"))
    }),

    // ── §2.6 window-rank (extended surface): top-3 orders per customer.
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
    }),

    // ── Extended agg surface: ROLLUP totals (free via Catalyst, SURVEY §2.5).
    "q_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n_orders"), col("total"))),

    // ── §2.5 grouping sets, CUBE flavor: all four grouping combinations in
    //    one pass (Spark expands to a single Expand + HashAggregate — one
    //    shuffle regardless of the number of grouping sets).
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), decSum(col("l_quantity")).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
          col("n_items"), col("qty"))),

    // ── S20-style pivot: per-key event-type counts as columns.
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)),

    // ── F7/F8 + J13 shape: recursive JSON reference extraction (the CFN/SFN
    //    walker, etl_cfn:200-242 + etl_aws:1117-1147) over synthesized
    //    nested templates, then the refs flattened to a sorted list.
    "q_ref_extract" -> ((s, dir) => {
      val tpl = concat(
        lit("""{"Resources":{"A":{"Ref":"Svc"""), col("user_id"),
        lit(""""},"B":{"Fn::Sub":"${"""), col("event_type"),
        lit("""}-x"},"C":{"Deep":[{"Resource":"arn:aws:states:r:1:fn"""),
        get_json_object(col("props"), "$.k"),
        lit(""":async"}]}}}"""))
      Tables.events(s, dir)
        .select(col("event_id"),
          array_join(RefExtract.refsUdf(tpl), ",").as("refs"))
    }),

    // ── Session windows (gap-based, 1 h): the streaming-native grouping the
    //    reference approximates with fixed lookbacks; works identically in
    //    batch and Structured Streaming.
    "q_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("session_value"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          col("n_events"), col("session_value"))),

    // ── §2.10 tumbling time window (the 5-min lookback re-expressed as a
    //    proper event-time window) — etl_deepflow:641.
    "q_time_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_events"), col("total_value"))),

    // ── P12: derived-column projections — precedence when/otherwise chain +
    //    initcap tier normalization (etl_aws:311-352,1449-1456).
    "q_derived_cols" -> ((s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        initcap(lower(col("c_mktsegment"))).as("tier"),
        when(col("c_acctbal") < 0, lit("delinquent"))
          .when(col("c_acctbal") > 9000, lit("premium"))
          .otherwise(lit("standard")).as("account_class"),
        coalesce(nullif(col("c_mktsegment"), lit("")), lit("UNKNOWN")).as("segment"))),

    // ── F2: epoch/time arithmetic — unix seconds, interval add, age
    //    derivation (etl_deepflow:150, etl_aws:788-789).
    "q_time_math" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"),
        date_format(col("ts") + expr("INTERVAL 1 DAY"), "yyyy-MM-dd HH:mm:ss")
          .as("ts_plus_day"),
        floor((lit(1706659200L) - unix_timestamp(col("ts"))) / 60).cast("long")
          .as("age_minutes"))),

    // ── J8: multi-key equi join (event-source mapping double key,
    //    etl_aws:1785-1809).
    "q_multi_key_join" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey") && col("l_linenumber") === 1)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_first_lines"),
          decSum(col("l_extendedprice")).as("total_first_price"))),

    // ── J14/P7: substring theta join — tiny pattern side broadcast, never a
    //    shuffled nested loop (etl_aws:1256-1266).
    "q_substring_join" -> ((s, dir) => {
      import s.implicits._
      val patterns = Seq("green", "blue", "red", "metallic", "polished").toDF("pat")
      Tables.part(s, dir)
        .join(broadcast(patterns), col("p_name").contains(col("pat")))
        .groupBy(col("pat"))
        .agg(count(lit(1)).as("n_parts"))
    }),

    // ── K10: filtered bulk delete — retained view after predicate purge
    //    (etl_deepflow:776-789).
    "q_filtered_delete" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(!(col("event_type") === "error" && col("value") < 5.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"))),

    // ── A13/SO4: exact distinct counts per group (dedup of extracted refs,
    //    etl_aws:1147).
    "q_distinct_count" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(get_json_object(col("props"), "$.k")).as("n_keys"))),

    // ── Sketch surface (SURVEY §2.5 "available free"): HLL++ distinct +
    //    percentile sketches per group. Sketch internals differ per engine,
    //    so the DRIVER-HASHABLE contract is the derived accuracy check:
    //    exact values (oracle-computable) + booleans asserting each sketch
    //    lands inside its tolerance window. Tolerances are 6×+ the measured
    //    worst error across sf0.001/0.01/0.1 (approx_count_distinct rsd=2%
    //    measured ≤0.4% → 5% gate; accuracy-1000 percentile error ≤n/1000
    //    ranks → [p45,p55] / [p97,max] windows are ≥6 ranks wide at every
    //    SF). The raw-estimate surface stays exercised — the booleans are
    //    derived FROM the sketch values in the same aggregate.
    "q_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users_exact"),
          approx_count_distinct(col("user_id"), rsd = 0.02).as("__approx"),
          expr("approx_percentile(value, 0.5, 1000)").as("__p50s"),
          expr("approx_percentile(value, 0.99, 1000)").as("__p99s"),
          expr("percentile(value, 0.45)").as("__p45"),
          expr("percentile(value, 0.55)").as("__p55"),
          expr("percentile(value, 0.97)").as("__p97"),
          max(col("value")).as("__vmax"))
        .select(col("event_type"), col("n_users_exact"),
          (abs(col("__approx") - col("n_users_exact"))
            <= col("n_users_exact") * 0.05).as("approx_ok"),
          col("__p50s").between(col("__p45"), col("__p55")).as("p50_ok"),
          col("__p99s").between(col("__p97"), col("__vmax")).as("p99_ok"))),

    // ── S5/SO2-shape: explode of a derived membership array
    //    (etl_aws:408-447 nodegroup→instance flattening).
    "q_explode" -> ((s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"), explode(split(col("p_type"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("p_partkey")).as("n_parts"))),

    // ── G5: 2-hop traversal over the relational edge encoding
    //    (supplier→part→order; etl_aws:1474-1476 documents the shape).
    "q_two_hop" -> ((s, dir) => {
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
    }),

    // ── §3.1 end-to-end pipeline: rollup → broadcast service-dim resolve
    //    (inner = drop unresolvable, P5) → metric edges.
    "q_flow_pipeline" -> ((s, dir) =>
      graft.pipelines.Pipelines.flowGraph(
        Tables.eventsSince(s, dir, 1704672000L),
        Tables.customer(s, dir)
          .select(col("c_custkey").as("service_key"), col("c_name").as("service_name")),
        srcCol = "user_id", dstCol = "event_type", valueCol = "value",
        timePredicate = lit(true),
        errPredicate = col("value") >= 30.0)),

    // ════ ext/: LLM-training-data pipeline operators (SURVEY §7.1 ext/) ════

    // ── Token counting: whitespace + BPE-ish pre-tokenizer counts.
    "q_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"))),

    // ── BM25 relevance of every document against a 3-term query: per-doc
    //    tf/dl are codegen array arithmetic, corpus stats (N, Σdl, df)
    //    are ONE single-row aggregate broadcast back — retrieval-style
    //    scoring with zero per-term shuffles (ext.Relevance).
    "q_bm25" -> ((s, dir) =>
      Relevance.bm25(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("spark", "table", "join"))),

    // ── Top-5 TF-IDF keywords per document: one token-histogram
    //    aggregate (materialized once), df joined back on the word key,
    //    rank-limit window for the per-doc cut (ext.Relevance). Topic
    //    tagging for corpus curation.
    "q_keywords" -> ((s, dir) =>
      Relevance.tfidfKeywords(Tables.documents(s, dir), "doc_id", "text",
        k = 5)),

    // ── Bigram collocations by PMI over the document corpus: tokenized
    //    corpus materialized once, in-row bigram expansion, two
    //    word-keyed aggregates, stats joined back on the word key
    //    (ext.Collocations). Multi-word-expression mining for tokenizer
    //    vocab building.
    "q_pmi" -> ((s, dir) =>
      graft.ext.Collocations.pmiBigrams(Tables.documents(s, dir),
        "doc_id", "text", minCount = 3)),

    // ── Per-group feature scaling (z-score + min-max) of lineitem
    //    quantities per return flag: ONE unordered window computes all
    //    five exact-integer group aggregates in a single shuffle; the
    //    scaled values are per-row IEEE arithmetic (ext.Normalize).
    //    Emitted for a deterministic order-key slice.
    "q_zscore" -> ((s, dir) =>
      graft.ext.Normalize.grouped(
        Tables.lineitem(s, dir).select(col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"), col("l_quantity")),
        keys = Seq("l_returnflag"), valCol = "l_quantity")
        .filter(col("l_orderkey") <= 2000)),

    // ── Robust clipping (winsorization) of event values at the group's
    //    [p05, p95]: ONE unordered window per group computes both exact
    //    interpolated percentile bounds in a single shuffle, then the
    //    clip is per-row codegen arithmetic (ext.Binning). The outlier
    //    tail-taming pass before feature scaling. Emitted for a
    //    deterministic event-id slice (bounds computed over ALL rows).
    "q_winsorize" -> ((s, dir) =>
      graft.ext.Binning.winsorize(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        keys = Seq("event_type"), valCol = "value", pLo = 0.05, pHi = 0.95)
        .filter(col("event_id") <= 2000)),

    // ── Equi-depth quantile binning: ntile(8) per event type ordered by
    //    (value, event_id) — the total order makes the bucket assignment
    //    deterministic (ext.Binning). Feature bucketization for
    //    gradient-boosted / embedding-table training.
    "q_bin_depth" -> ((s, dir) =>
      graft.ext.Binning.equiDepth(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        keys = Seq("event_type"), valCol = "value", tieCol = "event_id",
        nBins = 8)
        .withColumn("bin", col("bin").cast("long"))
        .filter(col("event_id") <= 2000)),

    // ── Equal-width histogram of event values per type, 20 bins over
    //    [0, 500) with edge-bin clamping: pure map-side bin arithmetic +
    //    one partial-aggregated count — the cheapest distribution sketch
    //    at any scale (ext.Binning).
    "q_histogram" -> ((s, dir) =>
      graft.ext.Binning.histogram(
        Tables.events(s, dir).select(col("event_type"), col("value")),
        keys = Seq("event_type"), valCol = "value",
        lo = 0.0, hi = 500.0, bins = 20)),

    // ── Per-user temporal features (lag / delta / trailing rolling
    //    mean+max): ONE ordered window per user computes every feature —
    //    the sequence-model feature pass (ext.TimeFeatures). Rolling sum
    //    rides decimal(18,2) for cross-engine exactness.
    "q_time_features" -> ((s, dir) =>
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
          col("roll_max"))),

    // ── Unicode NFC canonicalization via the native codegen expression
    //    (functions.NfcNormalize ≡ DuckDB nfc_normalize): decomposed
    //    sequences injected per-row, then composed — without this pass,
    //    visually identical docs hash as distinct and escape dedup.
    "q_nfc" -> ((s, dir) => {
      graft.functions.NfcNormalize.register(s)
      // the prefix is DECOMPOSED in source (e + U+0301 combining acute,
      // twice) — the normalizer composes it, so len_norm = len_raw − 2
      Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("résumé "), col("text")).as("dirty"))
        .select(col("doc_id"),
          call_function("nfc_normalize", col("dirty")).as("norm_text"),
          length(col("dirty")).as("len_raw"),
          length(call_function("nfc_normalize", col("dirty"))).as("len_norm"))
    }),

    // ── Incremental aggregate maintenance: the first 15 days build the
    //    state table, the rest folds in as a batch (ONE aggregate + ONE
    //    full-outer merge — never a history rescan); the oracle
    //    recomputes from scratch, proving merge ≡ recompute
    //    (ops.IncrementalAgg).
    "q_incr_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("value"))
      val cut = to_date(lit("2024-01-16"))
      val state = graft.ops.IncrementalAgg.aggregate(
        ev.filter(to_date(col("ts")) < cut), Seq("event_type"), "value")
      val merged = graft.ops.IncrementalAgg.merge(state,
        ev.filter(to_date(col("ts")) >= cut), Seq("event_type"), "value")
      graft.ops.IncrementalAgg.withDerived(merged)
        .select(col("event_type"), col("cnt"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v"), col("max_v"), col("avg_v"))
    }),

    // ── Mergeable HLL distinct sketches: per-(type, day) sketch build →
    //    merge-only rollup to per-type estimates (ext.Sketches). The
    //    100 TB distinct pattern: rollups read kilobytes of sketches,
    //    never raw data. Sketch internals have no SQL oracle, so the
    //    DRIVER-HASHABLE contract joins the rollup estimate to the exact
    //    distinct twin and asserts ≤5% relative error (6× the 0.8% worst
    //    measured across the three SFs; lgK=12 rsd is ~1.6%). The exact
    //    twin is a one-row-per-type broadcast — the merge-only rollup
    //    stays the query's data path; union ≡ direct identity stays
    //    spec-gated (SketchesSpec).
    "q_hll_daily" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id"))
      val est = graft.ext.Sketches.rollupEstimate(
        graft.ext.Sketches.distinctSketch(ev,
          Seq("event_type", "day"), "user_id"),
        rollupKeys = Seq("event_type"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users_exact"))
      est.join(broadcast(exact), Seq("event_type"))
        .select(col("event_type"), col("n_users_exact"),
          (abs(col("approx_distinct") - col("n_users_exact"))
            <= col("n_users_exact") * 0.05).as("hll_ok"))
    }),

    // ── Hourly forward-fill resampling of each user's value series onto
    //    a regular grid (ops.Resample): bounds agg + in-row sequence
    //    explode + ONE ordered window. Feature-store materialization.
    "q_resample" -> ((s, dir) =>
      graft.ops.Resample.forwardFill(
        Tables.events(s, dir).filter(col("user_id") <= 20)
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        keys = Seq("user_id"), tsCol = "ts", valCol = "value",
        tieCol = "event_id")
        .select(col("user_id"),
          unix_timestamp(col("grid_ts")).as("epoch_s"), col("value"))),

    // ── Z-order (Morton) key derivation: the layout key that clusters
    //    BOTH dimensions for scan pruning (ext.ZOrder.zValue — pure
    //    codegen bit arithmetic; the √P locality property itself is
    //    spec-gated in ZOrderSpec).
    "q_zorder" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("user_id"),
          floor(col("value")).cast("long").as("vb"))
        .withColumn("z", graft.ext.ZOrder.zValue(col("user_id"), col("vb")))),

    // ── Data-quality expectations: row rules in ONE conditional
    //    aggregate, uniqueness one keyed aggregate, referential
    //    integrity one anti join — the per-batch validation gate
    //    (ops.Expectations).
    "q_expectations" -> ((s, dir) =>
      graft.ops.Expectations.audit(Tables.lineitem(s, dir),
        rowRules = Seq(
          graft.ops.Expectations.notNull("l_quantity"),
          graft.ops.Expectations.inRange("l_quantity", 1.0, 50.0),
          graft.ops.Expectations.inRange("l_discount", 0.0, 0.1)),
        unique = Seq("l_orderkey", "l_linenumber"),
        foreignKey = Some(("l_orderkey", Tables.orders(s, dir), "o_orderkey")))),

    // ── Quality-gate routing: the BATCH face of the streaming gate
    //    (streaming/QualityGate) — every event_type group audited as its
    //    own batch, routed publish iff EVERY rule passes, else the WHOLE
    //    batch quarantines (ops.Expectations.auditRouted; one scan +
    //    a window bool_and, no second pass).
    "q_quality_gate" -> ((s, dir) =>
      graft.ops.Expectations.auditRouted(Tables.events(s, dir),
        "event_type", Seq(
          graft.ops.Expectations.notNull("value"),
          graft.ops.Expectations.inRange("value", 0.0, 400.0)))),

    // ── Cohort retention triangle: users grouped by first-activity
    //    date, distinct-active counts per day offset — co-partitioned
    //    entity-key aggregates, output bounded by cohorts × horizon
    //    (ops.Cohort.retention).
    "q_cohort" -> ((s, dir) =>
      graft.ops.Cohort.retention(Tables.events(s, dir),
        entityCol = "user_id", tsCol = "ts")),

    // ── Market-basket lift over part co-purchases (quarter sample):
    //    posting-list pair expansion (never a fact self-join), supports
    //    broadcast, lift via exact half-up integer division
    //    (ext.Basket.pairLift). The "bought together" association op.
    "q_lift" -> ((s, dir) =>
      graft.ext.Basket.pairLift(
        Tables.lineitem(s, dir)
          .filter(col("l_partkey") % 4 === 0)
          .select(col("l_orderkey"), col("l_partkey")),
        basketCol = "l_orderkey", itemCol = "l_partkey", minSupport = 2)),

    // ── Empirical Markov transition matrix of user event sequences:
    //    one ordered window + one pair aggregate; conditional
    //    probabilities as exact half-up division (ops.Transitions).
    "q_transitions" -> ((s, dir) =>
      graft.ops.Transitions.matrix(Tables.events(s, dir),
        entityCol = "user_id", stateCol = "event_type",
        tsCol = "ts", tieCol = "event_id")),

    // ── Embedding compression for serving: exact-decimal L2 norm +
    //    symmetric absmax int8 quantization with an EXPLICIT ⌊x+0.5⌋
    //    half-way rule (ext.Similarity) — pure map work, no shuffle.
    //    `qv` is emitted as the canonical comma-joined string (not
    //    array<int>): the driver's compare harness row-sorts with pandas,
    //    which cannot hash numpy arrays — the VALUES are unchanged, only
    //    the wire encoding is scalar.
    "q_embed_quant" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("abs_max", graft.ext.Similarity.absMax(col("embedding")))
      e.select(col("vec_id"),
        round(graft.ext.Similarity.l2Norm(col("embedding")), 4).as("l2"),
        col("abs_max"),
        when(col("abs_max") > 0,
          array_join(transform(
            graft.ext.Similarity.int8Quantize(col("embedding"), col("abs_max")),
            x => x.cast("string")), ","))
          .as("qv"))
    }),

    // ── Diversity-quota selection (composition: Similarity.signBucket +
    //    Sampling.fixedSizePerGroup): at most 2 vectors per sign-LSH
    //    bucket, hash-ranked — the cheap "spread the sample across
    //    embedding space" curation draw (a bucket = one coarse region;
    //    the quota stops any dense region from dominating the sample).
    "q_diverse_sample" -> ((s, dir) =>
      graft.ext.Sampling.fixedSizePerGroup(
        Tables.embeddings(s, dir).select(col("vec_id"),
          graft.ext.Similarity.signBucket(col("embedding"), 8).as("bucket")),
        keys = Seq("bucket"), idCol = "vec_id", n = 2)
        .withColumn("rk", col("rk").cast("long"))),

    // ── Token-budget mixture selection (ext.Sampling.tokenBudget): each
    //    language keeps hash-ranked docs until its token budget is spent
    //    — the "recipe in tokens" selector a pretraining mix actually
    //    specifies. Budgets bite at every SF (en 300 tokens ≈ 10 docs).
    "q_token_budget" -> ((s, dir) =>
      graft.ext.Sampling.tokenBudget(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        domainCol = "lang", idCol = "doc_id", tokenCol = "n_tokens",
        budgets = Map("en" -> 300L, "de" -> 150L, "es" -> 150L,
          "fr" -> 150L, "zh" -> 100L))),

    // ── DSIR importance selection (ext.Dsir.selectTopK): score raw docs
    //    by the hashed-ngram log-likelihood ratio against a target corpus
    //    (every 10th doc plays the target), keep the top 200. Bucket
    //    distributions broadcast; exact BIGINT quantized sums make the
    //    ranking total and engine-reproducible; TakeOrderedAndProject.
    "q_dsir" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      graft.ext.Dsir.selectTopK(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 200, buckets = 256)
    }),

    // ── CCNet-style perplexity filter (ext.NgramLm.perplexity): bigram
    //    LM trained on the clean tenth of the corpus scores the rest by
    //    per-token NLL. LM tables are reference-sized; exact quantized
    //    BIGINT sums as everywhere.
    "q_ngram_lm" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      graft.ext.NgramLm.perplexity(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("nll"))
    }),

    // ── Exactly-50-per-type deterministic sample: rank by the 32-bit id
    //    hash inside each group (ext.Sampling.fixedSizePerGroup) — the
    //    fixed-size eval-set draw, exact counts where stratified's coin
    //    flip gives rates.
    "q_sample_n" -> ((s, dir) =>
      graft.ext.Sampling.fixedSizePerGroup(
        Tables.events(s, dir).select(col("event_id"), col("event_type")),
        keys = Seq("event_type"), idCol = "event_id", n = 50)
        .withColumn("rk", col("rk").cast("long"))),

    // ── Rank (quantile) normalization: ANSI percent_rank per event type
    //    under the (value, event_id) total order — outlier-immune scaling
    //    from exact integer rank division (ext.Normalize.rankNormalize).
    "q_rank_norm" -> ((s, dir) =>
      graft.ext.Normalize.rankNormalize(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        keys = Seq("event_type"), valCol = "value", tieCol = "event_id")
        .filter(col("event_id") <= 2000)),

    // ── Nucleus (top-p) coverage: per source, the smallest word set
    //    covering ≥ 90% of tokens — EXACT integer threshold compare
    //    (10·(cum−w) < 9·total), so no float boundary can flip
    //    membership (ext.Coverage.nucleus over an aggregated table).
    "q_top_share" -> ((s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.ext.TextAnalysis.words(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
      graft.ext.Coverage.nucleus(wc, Seq("source"), "word", "cnt",
        pNum = 9, pDen = 10)
    }),

    // ── Per-document Shannon word entropy (bits/token): one explode +
    //    two map-side-combinable aggregates; the transcendental sum is
    //    quantized to exact BIGINTs so distributed addition order cannot
    //    flip a bit (ext.TextAnalysis.entropy). Diversity quality signal.
    "q_entropy" -> ((s, dir) =>
      graft.ext.TextAnalysis.entropy(Tables.documents(s, dir),
        "doc_id", "text")),

    // ── Deterministic uniform negative sampling for contrastive
    //    training: k=3 hash-derived negatives per (order, part) positive,
    //    item domain broadcast as a one-row aggregate — per-row codegen
    //    arithmetic, no shuffle of the positives (ext.NegativeSampling).
    "q_neg_sample" -> ((s, dir) => {
      val pos = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") <= 6000)
        .select(col("l_orderkey").as("entity"), col("l_partkey").as("item"))
      graft.ext.NegativeSampling.uniformNegatives(
        pos, "entity", "item", Tables.part(s, dir), "p_partkey", k = 3)
        .withColumn("j", col("j").cast("long"))
    }),

    // ── PII redaction with per-rule audit counts: the corpus is word
    //    salad, so deterministic contact strings are constructed from
    //    doc_id first, then scrubbed (ext.Redact — ordered rules, pure
    //    per-row regex, no shuffle).
    "q_redact" -> ((s, dir) => {
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com host 10.0."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 97).cast("string"),
          lit(" tel 555-867-5309")).as("text"))
      graft.ext.Redact.scrub(withPii, "doc_id", "text")
    }),

    // ── Gopher-style repetition quality signals: duplicate-word fraction
    //    + most-frequent-bigram coverage, everything keyed per document
    //    (codegen array arithmetic + one doc-local histogram; nothing
    //    corpus-global — ext.Repetition).
    "q_repetition" -> ((s, dir) =>
      graft.ext.Repetition.stats(Tables.documents(s, dir), "doc_id", "text")),

    // ── Decontamination: n-gram containment of held-out docs in the
    //    training corpus vocabulary (train/test overlap check). Probes =
    //    every 10th doc; corpus = the rest.
    "q_contamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.ngramContainment(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3)
    }),

    // ── Sequence packing: concat-and-chunk pack assignment under a
    //    256-token budget, sharded by language (deterministic window
    //    arithmetic — reproducible on any cluster and in plain SQL).
    "q_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ext.Packing.packSequences(docs, "doc_id", "n_tokens", "lang", 256L)
    }),

    // ── Deterministic train/val/test split: content-hash buckets, same
    //    assignment on every run / cluster / engine (no rand(), no seed
    //    bookkeeping) — reproducible dataset splits are a first-class
    //    training-pipeline requirement.
    "q_split" -> ((s, dir) =>
      graft.ext.Splits.hashSplit(
          Tables.documents(s, dir).select(col("doc_id")),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))),

    // ── Deterministic training-order shuffle (ext.Splits.shardOrder):
    //    hash-bucket shard + md5-rank position within it — reproducible
    //    visit order, one SHARD-partitioned window, no global sort.
    "q_shuffle_shard" -> ((s, dir) =>
      graft.ext.Splits.shardOrder(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", 8)),

    // ── Cross-doc boilerplate scrub (ext.Boilerplate): the C4-style
    //    line-dedup filter over fixed-width word segments (this corpus
    //    has no newlines — the segmenter is the only corpus-specific
    //    knob). Segment df is one hash agg; the boilerplate set is
    //    BROADCAST back; the corpus shuffles once, for reassembly.
    "q_boilerplate" -> ((s, dir) =>
      graft.ext.Boilerplate.scrub(Tables.documents(s, dir), "doc_id",
        "text", width = 5, minDocs = 2)),

    // ── Mergeable deterministic quantile sketch (ext.Quantiles):
    //    per-day sketches over events.value, merge-ONLY rollup per
    //    type, p50/p95 bucket midpoints ×200 as BIGINT. Integer-exact
    //    DDSketch-style buckets (two leading centi-digits) make the
    //    estimate a pure function of the data — same answer in any
    //    engine, any partition order — unlike randomized KLL/t-digest.
    "q_quantile_sketch" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      val daily = graft.ext.Quantiles.sketch(
        ev, Seq("event_type", "day"), "value")
      val merged = graft.ext.Quantiles.rollup(daily, Seq("event_type"))
      graft.ext.Quantiles.estimate(merged, Seq("event_type"),
        Seq(("p50_x200", 1, 2), ("p95_x200", 19, 20)))
    }),

    // ── Sketch SERVING over a stream-maintained store: per-batch bucket
    //    counts persisted under batch=<i> partitions (exactly what
    //    streaming/SketchStream.maintain writes per micro-batch), then
    //    the read path — SketchStream.quantiles: scan kilobytes of
    //    counts, merge-only rollup, estimate walk. Merge-is-exact makes
    //    the answer independent of how events were batched, so the same
    //    whole-corpus oracle as q_quantile_sketch hash-gates it; the
    //    foreachBatch twin is spec-gated (SketchStreamSpec).
    "q_sketch_serve" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val path = registerTempIndexDir(
        System.getProperty("java.io.tmpdir") +
          "/graft_sketch_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" + System.nanoTime())
      // independent per-batch builds on disjoint paths — overlapped
      // (guide §2.6; the ConcurrentJobs wave-fan precedent)
      graft.model.ConcurrentJobs.awaitAll((0 until 3).map { i => () =>
        graft.ext.Quantiles.sketch(
          ev.filter(pmod(col("event_id"), lit(3)) === i),
          Seq("event_type"), "value")
          .write.mode("overwrite").parquet(s"$path/batch=$i")
      }: _*)
      graft.streaming.SketchStream.quantiles(s, path, Seq("event_type"),
        Seq(("p50_x200", 1, 2), ("p95_x200", 19, 20)))
    }),

    // ── BPE merge statistics (ext.BpeStats): adjacent char-pair counts
    //    computed from the word-frequency table, not the corpus — the
    //    classic BPE trick that bounds the explode by vocabulary size.
    //    Top-50 under the (cnt desc, pair asc) total order.
    "q_bpe_pairs" -> ((s, dir) =>
      graft.ext.BpeStats.topPairs(Tables.documents(s, dir), "text", 50)),

    // ── The whole curation funnel as a 6-row audit report
    //    (ext.CurationFunnel): lang → length → quality → repetition →
    //    perplexity → exact-dedup, sequential gates, per-stage doc and
    //    token drop counters — the ingest run report, composed entirely
    //    from this library's per-doc signals.
    "q_corpus_funnel" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.ext.CurationFunnel.report(
        d, d.filter(col("doc_id") % 10 === 0), "doc_id", "text", "lang",
        keepLangs = Seq("en", "de", "fr"), minTokens = 20L, maxTokens = 90L,
        minQuality = 0.55, stopwords = ExtConfig.stopwords,
        maxDupFrac = 0.65, maxNll = 3.6)
    }),

    // ── END-TO-END curation (the demo row a real user reads first):
    //    the six text gates + the media near-dup gate + mixture +
    //    token budgets + packing, ONE audited report — every stage's
    //    counters hash-gate against a full SQL replay (funnel CTEs +
    //    the recursive media closure + the mix/budget/pack rules).
    "q_e2e_curation" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.ext.CurationE2e.report(
        d, d.filter(col("doc_id") % 10 === 0), "doc_id", "text", "lang",
        keepLangs = Seq("en", "de", "fr"), minTokens = 20L, maxTokens = 90L,
        minQuality = 0.55, stopwords = ExtConfig.stopwords,
        maxDupFrac = 0.65, maxNll = 3.6,
        mediaDrop = mediaDropDocs(s, dir),
        upFactors = Map("en" -> 1.5, "de" -> 0.5),
        budgets = Map("en" -> 300L, "de" -> 150L, "fr" -> 150L),
        packTokens = 128L)
    }),

    // ── Split-leakage audit (ext.Splits.leakageAudit): a simulated
    //    re-crawl (every doc duplicated under a shifted id) is split by
    //    id hash; fingerprints spanning ≥2 splits are the leaked groups —
    //    the train/val contamination check run after any id-keyed split.
    "q_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .localCheckpoint() // both union branches read it
      val corpus = docs.unionAll(docs.select(
        (col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.ext.Splits.leakageAudit(corpus, "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),

    // ── Vocabulary drift (ext.Drift.vocabKl): per-word smoothed-KL
    //    contributions between the full corpus and its en-slice — the
    //    "did this filter shift the distribution?" check before shipping
    //    a dataset revision. Σ contrib = KL in micro-nats.
    "q_vocab_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Drift.vocabKl(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
    }),

    // ── Deterministic stratified sampling: per-stratum keep rates decided
    //    by the id's md5 bucket (same scheme as q_split) — a reproducible
    //    "data recipe" filter, not a rand() draw.
    "q_stratified_sample" -> ((s, dir) =>
      graft.ext.Sampling.stratified(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25))),

    // ── Corpus mixing: fractional up/down-sampling by repeat factor —
    //    en×1.5 (every row once, half twice), de×0.5 (half the rows),
    //    others unchanged; copy_idx spreads the duplicates downstream.
    "q_mix_upsample" -> ((s, dir) =>
      graft.ext.Sampling.upsample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 1.5, "de" -> 0.5))),

    // ── Vocabulary statistics (tokenizer-training shape): corpus-wide
    //    token frequency + document frequency, top 100 under a TOTAL
    //    order (count desc, then word) so the cut is deterministic.
    "q_vocab_topk" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.words(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occ").desc, col("word"))
        .limit(100)),

    // ── SCD type-2 history: per-user event_type change intervals with
    //    [valid_from, valid_to) validity and is_current — the auditable
    //    superset of the store's last-wins state (ops.Scd2, one shuffle).
    "q_scd2" -> ((s, dir) =>
      graft.ops.Scd2.history(
          Tables.events(s, dir)
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type")),
          keys = Seq("user_id"), tsCol = "ts", attrs = Seq("event_type"),
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))),

    // ── Quality scoring: length / punctuation / stopword-ratio composite.
    "q_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_words"),
        TextAnalysis.qualityScore(col("text"), ExtConfig.stopwords).as("quality"))),

    // ── TRAINABLE linear gate: integer-exact batch perceptron that
    //    DISTILLS the composite quality scorer into a cheap filter —
    //    label = (qualityScore ≥ 0.55, the CurationFunnel threshold),
    //    features = micro-unit densities (stopword, punct, capped
    //    length) + a scaled constant. Trains past the 78.6% majority
    //    baseline to ~89% at sf0.1 in 8 rounds — real learning, and
    //    because the rounds are a fixed BIGINT recurrence, the WEIGHTS
    //    hash-gate (q_perceptron) and so do per-doc margins +
    //    predictions (q_perceptron_score) — a float SGD classifier
    //    could never make this claim.
    "q_perceptron" -> ((s, dir) => {
      import s.implicits._
      val m = graft.ext.Perceptron.train(perceptronFeatures(s, dir),
        "y", PerceptronX, rounds = 8)
      m.w.toSeq.zipWithIndex.map { case (v, j) => (j, v) }
        .toDF("j", "weight")
    }),

    "q_perceptron_score" -> ((s, dir) => {
      val f = perceptronFeatures(s, dir)
      val m = graft.ext.Perceptron.train(f, "y", PerceptronX, rounds = 8)
      m.predict(f, "doc_id")
    }),

    // ── AVERAGED perceptron (Collins 2002): weights = Σᵣ wᵣ — the
    //    ×rounds scaling of the average, sign- and order-identical to
    //    the averaged classifier but BIGINT-exact, so the variance-
    //    damped model hash-gates too (weights AND its served margins).
    "q_perceptron_avg" -> ((s, dir) => {
      import s.implicits._
      val m = graft.ext.Perceptron.trainAveraged(
        perceptronFeatures(s, dir), "y", PerceptronX, rounds = 8)
      m.w.toSeq.zipWithIndex.map { case (v, j) => (j, v) }
        .toDF("j", "weight")
    }),

    "q_perceptron_avg_score" -> ((s, dir) => {
      val f = perceptronFeatures(s, dir)
      val m = graft.ext.Perceptron.trainAveraged(f, "y", PerceptronX,
        rounds = 8)
      m.predict(f, "doc_id")
    }),

    // ── Language ID: marker-token voting with lexicographic tie-break.
    "q_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text"), ExtConfig.langMarkers).as("predicted"))),

    // ── Document fingerprinting: md5 over normalized text.
    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // ── Exact dedup: hash-groupBy keep-min-id (corpus unioned with a
    //    shifted copy of itself so every group genuinely has 2 members).
    "q_dedup_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.exact(docs.union(copies), "doc_id", "text")
    }),

    // ── N-gram Jaccard near-dup pairs via prefix-filtered inverted index
    //    (AllPairs-style candidate generation — lossless for J ≥ t, so the
    //    oracle is the plain all-shared-shingle-pairs formulation and stays
    //    bit-identical at every scale factor without modeling the prefix).
    "q_ngram_jaccard" -> ((s, dir) =>
      // broadcastCandidates: the prefix filters leave a small pair list
      // on this corpus (measured ~125 k candidates at sf0.1) — the
      // verify joins go map-side against the docset table
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, broadcastCandidates = true)),

    // ── N-gram Jaccard with the hot-key cap DERIVED from a Count-Min
    //    sketch (X63 guards stop taking cap lists on caller faith): one
    //    md5-bucket sketch pass over the postings, shingles estimating
    //    ≥ 20 drop from candidate generation. LOSSY by design, so —
    //    unlike q_ngram_jaccard — the oracle must model the prefix
    //    windows exactly: a pair whose only in-prefix shared shingles
    //    are capped is gone even if rarer shared shingles exist beyond
    //    the prefixes. The SQL replays sketch, cap list, rank windows,
    //    and full-set verification.
    "q_ngram_sketch_capped" -> ((s, dir) =>
      Dedup.ngramJaccardPairsSketchCapped(Tables.documents(s, dir),
        "doc_id", "text", n = 3, threshold = 0.5, minEst = 20)),

    // ── MinHash + LSH banding with exact-Jaccard verification.
    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)),

    // ── MinHash-LSH with the SKETCH-DERIVED hot-band cap (X162's
    //    Count-Min derivation extended to the band keys, VERDICT r14
    //    #6): bands estimating ≥ 3 docs drop from candidate generation
    //    — at every SF the cap bites (the df=3 flood bands go, df=2
    //    bands survive), and the oracle models sketch, cap list, and
    //    banding exactly, so the LOSSY pair set still hash-gates.
    "q_minhash_sketch_capped" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true, bandHotMinEst = Some(3L))),

    // ── Near-dup pairs → dedup CLUSTERS: connected components over the
    //    minhash pair graph (transitive closure), one row per cluster with
    //    its min-id label, size, and sorted member list — the form a
    //    keep-one-representative policy actually consumes (a raw pair list
    //    mishandles chains A-B-C). Adaptive components (ext.Components):
    //    min-label propagation while the graph is shallow, automatic
    //    large-star/small-star fallback if a boilerplate CHAIN pushes the
    //    diameter past the budget; oracle = recursive-CTE closure over
    //    the SAME pair SQL.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
      graft.ext.Components.connectedAdaptive(pairs, "doc_a", "doc_b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(array_sort(collect_set(col("node").cast("string"))), ",")
            .as("members"))
        .select(col("component").as("cluster_id"), col("n_docs"),
          col("members"))
    }),

    // ── Deterministic random-walk corpus (ext.Walks) on a fifth-sample
    //    of the co-purchase graph: 4 steps, neighbor picked by the
    //    md5("walk:step:neighbor") coin — seedless, engine-reproducible,
    //    SQL-replayable. Per step ONE join + one partial-aggregatable
    //    min(struct) per walk (hub-safe).
    "q_walks" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 5 === 2)
      graft.ext.Walks.deterministicWalks(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", walkLen = 4)
    }),

    // ── node2vec-biased walks (Walks.biasedWalks) on a seventh-sample:
    //    3 steps, integer bias weights (return 1, common 2, forward 4)
    //    ≙ (p=2, q=1/2) after normalizing by the common weight — the
    //    DFS-leaning regime; the weighted pick is salt-replication over the
    //    md5 coin — deterministic, exactly weighted, SQL-replayable.
    //    Per step the frontier join + ONE adjacency probe join (the
    //    honest cost of second-order bias).
    "q_biased_walks" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 7 === 1)
      graft.ext.Walks.biasedWalks(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", walkLen = 3, wReturn = 1, wCommon = 2, wForward = 4)
    }),

    // ── Skip-gram (center, context) pairs from the walk corpus
    //    (Walks.skipGramPairs): one shuffle on walk_id, then the window
    //    pairs explode IN-ROW from the walk-length-bounded path array —
    //    the word2vec-style co-occurrence table DeepWalk trains on.
    "q_walk_pairs" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 5 === 2)
      graft.ext.Walks.skipGramPairs(
        graft.ext.Walks.deterministicWalks(
          graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
          "u", "v", walkLen = 4),
        window = 2)
    }),

    // ── Incremental cluster maintenance (Components.incrementalUpdate):
    //    the near-dup pair stream split 3:1 into history and a batch;
    //    standing labels + batch fold-in must equal the from-scratch
    //    closure over ALL pairs — history is never re-clustered, only
    //    label-mapped through a broadcast merge mapping.
    "q_cc_incr" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val old = pairs.where((col("doc_a") + col("doc_b")) % 4 =!= 0)
      val batch = pairs.where((col("doc_a") + col("doc_b")) % 4 === 0)
      graft.ext.Components.incrementalUpdate(
        graft.ext.Components.connectedAdaptive(old, "doc_a", "doc_b"),
        batch, "doc_a", "doc_b")
    }),

    // ── The SERVING face of streaming CC maintenance (streaming/
    //    CcStream): the same near-dup pairs fold in as two successive
    //    batches through CcStream.applyBatch — each committing an
    //    immutable GraphStorage snapshot — and the result is read BACK
    //    through the snapshot store (CcStream.labels), exactly how a
    //    continuously-ingesting dedup pipeline consumes its keep/drop
    //    labels. Same from-scratch-closure oracle as q_cc_incr: the
    //    batch split, the store round-trip, and the pointer flip must
    //    all be invisible in the final labeling. Re-running in one JVM
    //    re-folds the same edges — a semantic no-op (merging merged
    //    components), so the query is repeat-safe by construction.
    "q_cc_serve" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val labelsRoot = scratchDir(s, "q_cc_serve")
      graft.streaming.CcStream.applyBatch(
        pairs.where((col("doc_a") + col("doc_b")) % 4 =!= 0),
        "doc_a", "doc_b", labelsRoot)
      graft.streaming.CcStream.applyBatch(
        pairs.where((col("doc_a") + col("doc_b")) % 4 === 0),
        "doc_a", "doc_b", labelsRoot)
      graft.streaming.CcStream.labels(s, labelsRoot)
    }),

    // ── Same clusters via STAR CONTRACTION (Components.connectedStar):
    //    hash-proves the O(log N)-round high-diameter algorithm against
    //    the identical recursive-closure oracle — the q_skew_agg pattern
    //    (variant algorithm ≡ same oracle), so the 100 TB fallback path
    //    is driver-verified, not just spec-gated.
    "q_dedup_clusters_star" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
      graft.ext.Components.connectedStar(pairs, "doc_a", "doc_b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(array_sort(collect_set(col("node").cast("string"))), ",")
            .as("members"))
        .select(col("component").as("cluster_id"), col("n_docs"),
          col("members"))
    }),

    // ── ADAPTIVE connected components on a DEEP graph: per-user event
    //    chains (consecutive-by-time edges, diameter 49–86 at every SF)
    //    blow the 8-round min-label budget, so connectedAdaptive's
    //    large-star/small-star fallback fires ON THE CORPUS — gating the
    //    structural-fallback path's hash behavior per round, where the
    //    two existing component queries (shallow near-dup graphs) only
    //    ever take the min-label fast path. Oracle needs no recursive
    //    CTE: a chain's reachable-min is its user's min event_id.
    "q_components_adaptive" -> ((s, dir) => {
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
    }),

    // ── INCREMENTAL near-dup: dedup a new batch (odd doc_ids) against a
    //    prebuilt corpus minhash index (even doc_ids) WITHOUT re-reading
    //    corpus text — the continuous-ingestion shape (persisted index +
    //    broadcast batch probe). Emits exactly the full-recompute pairs
    //    that touch the batch; oracle = the full pair SQL filtered to
    //    ≥1 odd endpoint. Both indexes checkpointed here so each text
    //    parse happens once (in production the corpus index is parquet).
    "q_dedup_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpusIdx = Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        shingleN = 3, numHashes = 12).localCheckpoint()
      val batchIdx = Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        shingleN = 3, numHashes = 12).localCheckpoint()
      Dedup.minhashLshPairsIncremental(corpusIdx, batchIdx, "doc_id",
        bandSize = 4, threshold = 0.5)
    }),

    // ── Streaming near-dup filter, BATCH face (streaming/StreamingNearDup
    //    .filterBatch): survivors of a new batch (odd doc_ids) against the
    //    prebuilt corpus index (even doc_ids) under the stream's keep-min
    //    drop policy — drop a batch doc iff it pairs with an indexed doc
    //    or a smaller-id batch doc. Pairs from the same incremental LSH
    //    as q_dedup_incr; the micro-batch/index-accumulation twin is
    //    spec-gated (StreamingNearDupSpec).
    "q_neardup_filter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpusIdx = Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        shingleN = 3, numHashes = 12).localCheckpoint()
      graft.streaming.StreamingNearDup.filterBatch(corpusIdx,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    }),

    // ── Ordered funnel: users converting view → click → purchase with
    //    each stage strictly after the previous one (greedy earliest-
    //    first; ops.Funnel — one user-keyed aggregation per step, stages
    //    stay co-partitioned).
    "q_funnel" -> ((s, dir) =>
      graft.ops.Funnel.steps(Tables.events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))),

    // ── Gaps-and-islands: per-user activity intervals ([ts, ts + 1+⌊value⌋
    //    minutes]) merged into maximal coverage islands — the windowed
    //    interval-compaction every downtime/coverage report needs
    //    (ops.Intervals, one shuffle).
    "q_interval_merge" -> ((s, dir) =>
      graft.ops.Intervals.mergeOverlapping(
        Tables.events(s, dir).select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) +
            (floor(col("value")).cast("long") + 1L) * 60000000L).as("end_us")),
        keys = Seq("user_id"), startCol = "start_us", endCol = "end_us",
        tieBreak = Seq("event_id"))),

    // ── The complement report: UNCOVERED spans between activity islands
    //    per user — downtime/blind-spot detection from the same single
    //    window pass as the merge (ops.Intervals.gaps, one shuffle).
    "q_interval_gaps" -> ((s, dir) =>
      graft.ops.Intervals.gaps(
        Tables.events(s, dir).select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) +
            (floor(col("value")).cast("long") + 1L) * 60000000L).as("end_us")),
        keys = Seq("user_id"), startCol = "start_us", endCol = "end_us",
        tieBreak = Seq("event_id"))),

    // ── Skew-resistant equi join: the hot event-type key is salted into
    //    8 deterministic sub-keys and the per-type dim replicated per
    //    bucket (ops.SkewJoin) — semantics proven ≡ the plain join by the
    //    oracle. The static fallback where AQE skew splitting can't fire.
    "q_skew_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val dim = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_type"))
      graft.ops.SkewJoin.saltedJoin(ev, dim, Seq("event_type"),
        distributor = col("event_id"), saltBuckets = 8)
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("event_type"), col("value"),
          col("n_type"))
    }),

    // ── Fixed-iteration PageRank over the supplier→part-bucket graph in
    //    INTEGER arithmetic (10¹² score grid, BIGINT floor division):
    //    bit-exact against the SQL oracle — a float PageRank never is.
    //    Graph centrality for the knowledge-graph side (ext.PageRank,
    //    iterations unrolled into ONE plan, inputs checkpointed once).
    "q_pagerank" -> ((s, dir) =>
      graft.ext.PageRank.scores(
        Tables.lineitem(s, dir).select(col("l_suppkey").as("src"),
          (lit(100000) + col("l_partkey") % 100).as("dst")),
        "src", "dst", iterations = 3)),

    // ── Personalized (topic-sensitive) PageRank: teleport mass pinned to
    //    a 3-supplier seed set over the BIDIRECTIONAL supplier↔part-bucket
    //    graph, so proximity diffuses seed → bucket → co-supplier across
    //    the 3 unrolled iterations. Seed-expansion ranking for curation,
    //    same integer-exact contract as q_pagerank.
    "q_ppr" -> ((s, dir) => {
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
    }),

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
    "q_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      graft.ext.Triangles.perNode(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"), "u", "v")
    }),

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
    "q_triangles_approx" -> ((s, dir) => {
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
    }),

    // ── k-core decomposition of the part co-purchase graph: 3 fixed
    //    peeling rounds at k=60 (ext.KCore) — per round ONE degree
    //    aggregate + two semi joins against the shrinking keep set.
    //    Density filtering for the graph side.
    "q_kcore" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      graft.ext.KCore.survivors(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", k = 60, rounds = 3)
    }),

    // ── Community detection by synchronous label propagation (2 rounds)
    //    on a quarter-sample of the part co-purchase graph: per round ONE
    //    edge⋈label join and TWO hash aggregates — the per-node argmax is
    //    a single max(struct(cnt, −label)), partial-aggregatable, so no
    //    window sort and no hot-node partition (ext.LabelProp).
    "q_label_prop" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 4 === 0)
      graft.ext.LabelProp.propagate(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", rounds = 2)
    }),

    // ── Multi-source BFS hop distances (ext.Bfs) on a third-sample of
    //    the part co-purchase graph, seeds = partkeys ≡ 0 (mod 30),
    //    depth 3: per round ONE frontier⋈edges join + distinct + anti
    //    join — each node emitted once at its FIRST depth, no
    //    min-over-paths aggregate (the oracle's recursive closure
    //    re-derives it as min(dist)).
    "q_bfs" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 3 === 0)
      graft.ext.Bfs.distances(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v",
        li.filter(col("l_partkey") % 30 === 0)
          .select(col("l_partkey")).distinct(),
        "l_partkey", maxDepth = 3)
    }),

    // ── Bounded-round Bellman–Ford (ext.Sssp) over the supplier↔
    //    part-bucket bipartite graph (q_ppr's shape) with integer
    //    quantity weights: 4 relax rounds = exact min cost over ≤4-edge
    //    paths, one shuffle join + one min-agg per round, all BIGINT.
    "q_sssp" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.ext.Sssp.boundedCosts(
        li.select(col("l_suppkey").as("src"),
          (lit(100000L) + col("l_partkey") % 100).as("dst"),
          col("l_quantity").cast("long").as("w")),
        "src", "dst", "w",
        li.sparkSession.range(1, 4).toDF("id"), "id",
        rounds = 4, undirected = true)
    }),

    // ── Contiguous event-sequence matches (ops.EventSeq, CEP-lite):
    //    view→click→purchase as CONSECUTIVE per-user events, 7-day gap
    //    bound, ONE window pass under the (ts, event_id) total order —
    //    per-instance matches, not funnel conversion counts.
    "q_event_seq" -> ((s, dir) =>
      graft.ops.EventSeq.matchContiguous(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"),
        maxGapMicros = 7L * 86400L * 1000000L)
        // micros-as-BIGINT output discipline (raw timestamps don't
        // norm-compare across the pyarrow/DuckDB readers)
        .select(col("entity"), unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us"))),

    // ── Dictionary phrase tagging (ext.DictTag): whole-token window
    //    matching via per-length n-gram equi join — one corpus scan,
    //    candidates bounded by true hits (never doc×phrase), the
    //    blocklist/entity-tagging curation face.
    "q_dict_tag" -> ((s, dir) => {
      val phrases = s.createDataFrame(Seq(
        ("p_fast", "fast"),
        ("p_hash_join", "hash join"),
        ("p_table_scan", "table scan"),
        ("p_slow_query", "slow query"),
        ("p_sort_merge", "sort merge"),
        ("p_big_table_scan", "big table scan"))).toDF("pid", "phrase")
      graft.ext.DictTag.tagPhrases(Tables.documents(s, dir),
        "doc_id", "text", phrases, "pid", "phrase")
    }),

    // ── Exact lexical cosine pairs (ext.LexCosine) on a 1/20 doc
    //    sample: integer tf vectors over the df≤200-projected
    //    vocabulary, inverted-index pairing, τ=4/5 decided by integer
    //    cross-multiplication — the sparse complement to q_embed_dedup
    //    (and the exact face of what MinHash approximates).
    "q_lex_cosine" -> ((s, dir) =>
      graft.ext.LexCosine.tfCosinePairs(
        Tables.documents(s, dir).filter(col("doc_id") % 20 === 3),
        "doc_id", "text", tauNum = 4, tauDen = 5, maxTermDF = 200)),

    // ── Robust per-type outlier profile (ext.Robust): median + MAD via
    //    exact interpolating percentiles in unordered windows, k=3 flag
    //    count — ONE exchange (windows and the aggregate share the
    //    group partitioning).
    "q_mad" -> ((s, dir) =>
      graft.ext.Robust.madProfile(Tables.events(s, dir),
        Seq("event_type"), "value", k = 3.0)),

    // ── Entity resolution end-to-end, in the shape that scales: resolve
    //    the DISTINCT display-name dictionary (EditSim dist-1 pairs →
    //    Components closure → canonical member), then roll RECORDS up by
    //    resolved entity — records never enter the pair expansion, so a
    //    million records sharing one alias cost the dictionary exactly
    //    one row. Aliases are "lang#digit" over documents: the ten
    //    digit variants chain per lang, and en#d ~ es#d is a genuine
    //    cross-label dist-1 bridge the closure must follow (fr/de/zh
    //    stay separate — raw serial names would degenerate to ONE
    //    entity through digit chains).
    "q_entity_groups" -> ((s, dir) => {
      val recs = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("lang"), lit("#"), (col("doc_id") % 10)).as("alias"))
      val dict = recs.groupBy(col("alias"))
        .agg(min(col("doc_id")).as("alias_id"), count(lit(1)).as("n_recs"))
        .localCheckpoint() // feeds pairing, the rollup, and naming
      val pairs = graft.ext.EditSim.dist1Pairs(dict, "alias_id", "alias")
      val comp = graft.ext.Components.connectedAdaptive(pairs, "id_a", "id_b")
      val ent = dict.join(comp, dict("alias_id") === comp("node"), "left_outer")
        .select(col("alias_id"), col("n_recs"),
          coalesce(col("component"), col("alias_id")).as("entity_id"))
      ent.groupBy(col("entity_id"))
        .agg(sum(col("n_recs")).as("n_members"),
          count(lit(1)).as("n_aliases"))
        .join(dict.select(col("alias_id").as("entity_id"),
          col("alias").as("canonical_name")), "entity_id")
        .select(col("entity_id"), col("canonical_name"),
          col("n_aliases"), col("n_members"))
    }),

    // ── Embedding isotropy diagnostic (ext.Gram.isotropy): the
    //    covariance participation ratio (tr C)²/tr C² from the one-pass
    //    gram summary, INTEGER-EXACT (no eigensolve, no floats) — the
    //    gated number behind this round's OPQ finding: PR/dim ≈ 0.9
    //    here (near-isotropic), so rotations can't buy PQ recall on
    //    this corpus; capacity can.
    "q_embed_isotropy" -> ((s, dir) =>
      graft.ext.Gram.isotropy(Tables.embeddings(s, dir), "embedding")),

    // ── Exact edit-distance-1 pairs over supplier names (ext.EditSim):
    //    FastSS deletion-neighborhood blocking (L+1 in-row variants,
    //    codegen) + exact levenshtein verify — the oracle is the plain
    //    O(n²) join, so a single missed candidate hash-mismatches.
    "q_edit_pairs" -> ((s, dir) =>
      graft.ext.EditSim.dist1Pairs(
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        "s_suppkey", "s_name")
        .select(col("id_a").as("supp_a"), col("id_b").as("supp_b"),
          col("dist"))),

    // ── Integer-exact distributed Lloyd k-means over the embeddings
    //    (ext.KMeans): k=4, two assignment passes, 10⁻⁶-grid BIGINT
    //    distances and half-up integer centroid means — bit-reproducible
    //    where float Lloyd's is shuffle-order-dependent. Per round ONE
    //    broadcast comp⋈centroid join + two partial aggregates; nothing
    //    collected to the driver.
    "q_kmeans" -> ((s, dir) =>
      graft.ext.KMeans.assignments(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 4, rounds = 2)),

    // ── Exact second-moment (gram) matrix of the embeddings (ext.Gram):
    //    the one-pass dim×dim corpus summary PCA eigendecomposes —
    //    upper-triangle products expand IN-ROW (no self-join, no N·dim
    //    shuffle), partial aggregation exchanges dim² rows per
    //    partition. First-moment and count rows ride the same pass as
    //    i = −1 sentinels.
    "q_gram" -> ((s, dir) =>
      graft.ext.Gram.secondMoment(Tables.embeddings(s, dir),
        "embedding")),

    // ── The full keep-one-representative dedup POLICY: clusters ranked by
    //    quality score, highest-quality member keeps (ties → smallest id),
    //    the rest are the drop list — what a curation pipeline actually
    //    materializes from near-dup detection.
    "q_dedup_keep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
      val comp = graft.ext.Components.connectedAdaptive(pairs, "doc_a", "doc_b")
      val qual = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text"), ExtConfig.stopwords)
          .as("quality"))
      // keeper via a map-side-combinable min_by aggregate + join back,
      // not a per-component sort window: a near-dup FLOOD is one giant
      // cluster, and Window.partitionBy(component) would sort the whole
      // flood in a single task; min_by over struct(-quality, node) is
      // the same (quality desc, node asc) argmin and partial-aggregates.
      // coalesce(−quality, +∞): qualityScore is NULL for empty/null
      // text, and a null struct field sorts FIRST ascending — the
      // replaced window's (quality desc, node) put nulls LAST, so the
      // null-quality doc must sort past every real score, never win
      // the keeper slot (advice r16, low)
      val scored = comp.join(qual, comp("node") === qual("doc_id"))
      val keepers = scored.groupBy(col("component"))
        .agg(expr("min_by(node, struct(coalesce(-quality, double('inf')), node))")
          .as("__keep"))
      scored.join(keepers, Seq("component"))
        .select(col("component").as("cluster_id"), col("node").as("doc_id"),
          col("quality"), (col("node") === col("__keep")).as("is_keeper"))
    }),

    // ── Exact duplicated-span pairs via winnowed fingerprints
    //    (ext.SpanDedup): every 8-token span md5'd, window-min selection
    //    thins positions ~2/(W+1)=40%, posting-list pair expansion — the
    //    substring-level dedup family (license blocks, boilerplate),
    //    complementing the whole-doc MinHash/SimHash families.
    "q_span_dedup" -> ((s, dir) =>
      graft.ext.SpanDedup.sharedSpanPairs(Tables.documents(s, dir),
        "doc_id", "text", spanTokens = 8, winnowWindow = 4)),

    // ── EXACT repeated-substring discovery (ext.ExactSpans): every
    //    maximal ≥8-token shared span between two docs with exact
    //    0-based boundaries — the TWO-SIDED guarantee winnowed
    //    q_span_dedup trades away (it detects overlap; this reports
    //    all of it, the suffix-array span-removal cut list). Shape:
    //    one md5-window join + one diagonal gaps-and-islands window +
    //    one aggregate; completeness is spec-gated against a
    //    brute-force longest-common-extension reference
    //    (ExactSpansSpec).
    "q_exact_spans" -> ((s, dir) =>
      graft.ext.ExactSpans.repeatedSpans(Tables.documents(s, dir),
        "doc_id", "text", minTokens = 8)),

    // ── The per-document CUT LIST over those spans: both sides'
    //    token ranges merged into maximal disjoint intervals (running-
    //    max gaps-and-islands) — what a span-removal rewrite actually
    //    excises.
    "q_span_cuts" -> ((s, dir) =>
      graft.ext.ExactSpans.cutList(
        graft.ext.ExactSpans.repeatedSpans(Tables.documents(s, dir),
          "doc_id", "text", minTokens = 8))),

    // ── SimHash 32-bit fingerprints (occurrence-weighted md5 bit votes).
    "q_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")),

    // ── SimHash near-dup pairs: 8-bit band join + exact hamming verify.
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3)),

    // ── SimHash pairs with the sketch-derived hot-CHUNK cap — the
    //    bandHotMinEst discipline on the Hamming family's (b, chunk)
    //    keys (df reaches ~28 on the most popular chunk: the cap
    //    bites at every SF; recall loss is pigeonhole-bounded and the
    //    oracle replays the same sketch + drop rule).
    "q_simhash_sketch_capped" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3, chunkHotMinEst = Some(10L))),

    // ── Embedding-cosine near-dup pairs within sign-LSH buckets.
    "q_embed_dedup" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.3, bucketBits = 8)),

    // ── SemDeDup (ext.SemDedup): the same pair graph closed into
    //    duplicate groups (distributed components), keeper = group
    //    minimum — emits the drop list a curation pipeline anti-joins
    //    against the corpus. Oracle: recursive transitive closure over
    //    the identical pair SQL.
    "q_semdedup" -> ((s, dir) =>
      graft.ext.SemDedup.dropList(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.3, bucketBits = 8)),

    // ── ANN: brute-force cosine top-k for a small probe batch (baseline).
    "q_ann_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
    }),

    // ── ANN: sign-LSH bucketed top-k (the 100 TB path).
    "q_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, bucketBits = 8)
    }),

    // ── Range (radius) search: every neighbor within grid sqdist ≤ r²
    //    of a query — the FAISS range_search face; the dedup contract
    //    "drop anything within distance r" that top-k can't express
    //    (it truncates dense regions, pads sparse ones). Integer-exact
    //    on the 10⁻⁶ grid via three codegen'd decimal dot folds
    //    (qq − 2qc + cc, every term < 2⁵³); one broadcast-NLJ corpus
    //    pass, no shuffle, no window, no per-component row blowup.
    "q_ann_radius" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.RangeSearch.exact(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", r2 = 1450000000000L)
    }),

    // ── Range search over the IVF-probed path (the persisted/100 TB
    //    serve: only the probed lists' partitions are read). Driver
    //    contract = the exhaustive-probe identity (nProbe = nLists ≡
    //    the exact face, the q_ann_ivf discipline); pruned-probe
    //    subset/recall behavior is spec-gated (RangeSearchSpec).
    "q_ann_radius_probed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
        nLists = 4)
      graft.ext.RangeSearch.probed(model, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", r2 = 1450000000000L, nProbe = 4)
    }),

    // ── ANN: IVF (k-means coarse quantizer, probe nearest lists). The
    //    DRIVER-HASHABLE contract is the exhaustive-probe identity:
    //    nProbe = nLists must recover brute-force top-k EXACTLY (same
    //    floats, same tie order), which hash-verifies the whole index
    //    machinery — the quantizer assignment partitions the corpus with
    //    no row lost or duplicated, probe-list selection covers, and the
    //    scoring path is bit-identical to the brute twin. Pruned-probe
    //    recall (nProbe < nLists) has no deterministic floor on uniform
    //    random embeddings (measured 0–3 hits@3 at nProbe=4/16 across
    //    SFs) and is spec-gated on clustered data (IvfIndexSpec).
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // build once, then search — the model serves any number of probe
      // batches without refitting the quantizer (at scale: model.save /
      // IvfIndex.load over a list_id-partitioned layout).
      val model = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
        nLists = 16)
      graft.ext.IvfIndex.search(model, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nProbe = 16)
    }),

    // ── ANN: IVF over the PERSISTED index layout — save partitioned by
    //    list_id, reload, search. With nProbe = nLists this query reads
    //    every list BY DESIGN (the exhaustive-probe identity hash-proves
    //    the partitioned save/load round-trip preserves every corpus row
    //    and float exactly); the partition-PRUNED serving read path is
    //    benchmarked and hash-gated separately in q_ann_ivf_pruned, and
    //    plan-asserted in IvfIndexSpec's scanned-files tests.
    "q_ann_ivf_disk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // unique per invocation: a fixed shared path would let a concurrent
      // run's overwrite-save delete index files under this run's scan
      val idxPath = registerTempIndexDir(
        System.getProperty("java.io.tmpdir") +
          "/graft_ivf_idx_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" + System.nanoTime())
      graft.ext.IvfIndex.build(emb, "vec_id", "embedding", nLists = 16)
        .save(idxPath)
      val loaded = graft.ext.IvfIndex.load(s, idxPath)
      graft.ext.IvfIndex.search(loaded, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nProbe = 16)
    }),

    // ── ANN: PRUNED-probe serving over the persisted layout — the
    //    realistic vector-store read path (probe ≪ lists, scan a strict
    //    subset of partitions). Uses the deterministic sign-pattern
    //    quantizer (IvfIndex.buildSign): nProbe = 1 probes exactly the
    //    query's own sign bucket, so the result is same-bucket brute
    //    force and hash-checkable in SQL — unlike the k-means pruned
    //    probe, whose recall has no deterministic floor. 16 lists, ≤5
    //    probed: the lists scan prunes to the probed partitions (static
    //    isin; IvfIndexSpec asserts numFiles < total on this path).
    "q_ann_ivf_pruned" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = registerTempIndexDir(
        System.getProperty("java.io.tmpdir") +
          "/graft_ivf_sign_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" + System.nanoTime())
      graft.ext.IvfIndex.buildSign(emb, "vec_id", "embedding", bits = 4)
        .save(idxPath)
      val loaded = graft.ext.IvfIndex.load(s, idxPath)
      graft.ext.IvfIndex.search(loaded, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nProbe = 1)
    }),

    // ── ANN index INSERT path: build the sign-quantizer index on half
    //    the corpus (even vec_ids), persist, assign the other half to the
    //    existing lists WITHOUT refitting (IvfIndex.assignTo — the same
    //    argmin/tie rule as probe selection), land it as its own
    //    `batch=1` wave (dynamic partition overwrite — crash/replay-
    //    idempotent, manifest-committed after the data), reload the
    //    pinned {0,1} snapshot, and serve a pruned probe over the union.
    //    The oracle is the same same-bucket brute force over ALL
    //    embeddings as q_ann_ivf_pruned — hash-proving inserted rows
    //    land in exactly the lists probes scan, and the wave append
    //    preserves every row.
    "q_ann_ivf_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = registerTempIndexDir(
        System.getProperty("java.io.tmpdir") +
          "/graft_ivf_app_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" + System.nanoTime())
      graft.ext.IvfIndex.buildSign(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", bits = 4).save(idxPath)
      val loaded = graft.ext.IvfIndex.load(s, idxPath)
      graft.ext.IvfIndex.appendSave(idxPath,
        graft.ext.IvfIndex.assignTo(loaded,
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding"),
        wave = 1L)
      graft.ext.IvfIndex.search(graft.ext.IvfIndex.load(s, idxPath),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nProbe = 1)
    }),

    // ── Product quantization (PqIndex): the memory-bound billion-scale
    //    ANN path — each vector stored as m small codes instead of D
    //    floats (64-dim float32 = 256 B → m=4 codes = 4 B), queries
    //    answered by ADC against an m·k broadcast distance table, never
    //    re-reading a corpus float. Training (per-subspace integer
    //    Lloyd's on the KMeans grid), encode, and serving are ALL
    //    hash-gated — the oracle is the k-means unroll with a `sub`
    //    key. sqdist in the code table = exact per-subspace residual
    //    (Σ = the PQ distortion diagnostic).
    "q_pq_codes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 4, k = 4, rounds = 2)
      graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
    }),

    // ── PQ ADC serving: top-10 neighbors of 3 corpus queries under the
    //    asymmetric distance (exact query subvectors vs corpus CODES).
    //    Deterministically hash-checkable because the whole train→
    //    encode→serve path is integer-exact — no recall floor needed,
    //    the ADC answer itself is the contract.
    "q_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 4, k = 4, rounds = 2)
      val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
      graft.ext.PqIndex.adcTopK(codes, cb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
    }),

    // ── Seeded ±1 random projection (RandomProjection): JL dimension
    //    reduction with the md5 coin — reproducible across engines,
    //    so the projected integer table itself hash-gates (no
    //    RNG-matrix implementation can offer that).
    "q_random_projection" -> ((s, dir) =>
      graft.ext.RandomProjection.project(Tables.embeddings(s, dir),
        "vec_id", "embedding", outDims = 8)),

    // ── Greedy k-center coreset (Coreset): diverse-exemplar selection
    //    for curation — farthest-point traversal with exact BIGINT
    //    distances, ties to the lowest id; the selection ORDER and
    //    each pick's max-min radius both hash-gate.
    "q_coreset" -> ((s, dir) =>
      graft.ext.Coreset.kCenter(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 6)),

    // ── Coreset COVERAGE map: every vector routed to its nearest of
    //    the 6 chosen exemplars — the assignment that turns a coreset
    //    into strata (sampling quotas, routing keys). The exemplar set
    //    is the k-center run's own picks (bounded collect of k ids).
    "q_coreset_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val picks = graft.ext.Coreset.kCenter(emb,
        "vec_id", "embedding", k = 6)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      graft.ext.Coreset.assign(emb, "vec_id", "embedding", picks)
    }),

    // ── Balanced stratum sample off the coverage map: the 2 nearest
    //    vectors per exemplar (ties by id) — the deterministic
    //    "representatives per region" draw a curation pipeline uses
    //    for eval panels and spot checks; k-center picks the regions,
    //    the coverage map routes, the window cuts the quota.
    "q_coreset_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val picks = graft.ext.Coreset.kCenter(emb,
        "vec_id", "embedding", k = 6)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val w = Window.partitionBy(col("exemplar_id"))
        .orderBy(col("sqdist"), col("vec_id"))
      graft.ext.Coreset.assign(emb, "vec_id", "embedding", picks)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("exemplar_id"), col("vec_id"), col("sqdist"),
          col("rk"))
    }),

    // ── SQ8 scalar quantization (ScalarQuant): per-DIMENSION affine
    //    ranges + 8-bit codes — 4× smaller than float32, the third leg
    //    of the quantization family (PQ / IVF-PQ / SQ8). Ranges, codes,
    //    and the reconstructed-corpus serve are ALL integer-exact and
    //    hash-gated.
    "q_sq8_codes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.ScalarQuant.encode(emb, "vec_id", "embedding",
        graft.ext.ScalarQuant.ranges(emb, "vec_id", "embedding"))
    }),

    "q_ann_sq8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val rng = graft.ext.ScalarQuant.ranges(emb, "vec_id", "embedding")
      graft.ext.ScalarQuant.adcTopK(
        graft.ext.ScalarQuant.encode(emb, "vec_id", "embedding", rng),
        rng, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
    }),

    // ── SQ8 recall audit: same contract as q_pq_recall — the 8-bit
    //    reconstruction keeps far more fidelity than the toy PQ
    //    codebook, and the hash-gated counts SHOW it (near-perfect
    //    intersection at these SFs), which is exactly the comparison a
    //    quantization choice should be made on.
    "q_sq8_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val rng = graft.ext.ScalarQuant.ranges(emb, "vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 3)
      val adc = graft.ext.ScalarQuant.adcTopK(
        graft.ext.ScalarQuant.encode(emb, "vec_id", "embedding", rng),
        rng, q, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb, q,
        "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    }),

    // ── PQ recall AUDIT: ADC top-10 vs the exact-grid brute top-10,
    //    per-query intersection counts — approximation quality is a
    //    first-class, hash-gated output, not a hope. Both rankings are
    //    deterministic (ties by id), so the counts replay exactly.
    "q_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 4, k = 4, rounds = 2)
      val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
      val q = emb.filter(col("vec_id") < 3)
      val adc = graft.ext.PqIndex.adcTopK(codes, cb, q,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb, q,
        "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    }),

    // ── OPQ-style rotation ahead of PQ, recall-audited: the EXACT
    //    RATIONAL rotation (seeded 3-4-5 Givens chain — integer
    //    arithmetic end-to-end, the only rotation a hash gate can
    //    replay) feeds the standard PQ faces and the hits count against
    //    ORIGINAL-space brute ground truth. Honest reading, documented
    //    in COVERAGE.md: these embeddings are near-isotropic, so the
    //    rotated counts sit in the same band as q_pq_recall — the row
    //    gates the rotation+PQ+audit MECHANICS; the recall LEVER on
    //    isotropic data is capacity (q_pq_recall_tuned below), and the
    //    parametric OPQ face (Opq.fitParametric) earns its keep on
    //    correlated corpora (OpqSpec's fixture).
    "q_opq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val rot = graft.ext.Opq.rationalRotation(seed = 7, dim, steps = 16)
      val rotated = graft.ext.Opq.rotateExact(emb, "vec_id", "embedding",
        rot).localCheckpoint()
      val cb = graft.ext.PqIndex.codebooks(rotated, "vec_id", "rvec",
        m = 4, k = 4, rounds = 2)
      val codes = graft.ext.PqIndex.encode(rotated, "vec_id", "rvec", cb)
      val adc = graft.ext.PqIndex.adcTopK(codes, cb,
        rotated.filter(col("vec_id") < 3), "vec_id", "rvec", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    }),

    // ── The HONEST recall lever on this corpus: codebook capacity.
    //    m=16×k=16 (64 bits/vector vs the toy row's 8) lifts the gated
    //    intersection totals 6/4/4 → 13/11/12 across the three SFs —
    //    measured first, then pinned here; rotation cannot do that on
    //    an isotropic spectrum (eigenvalues 0.028…0.016, simulated
    //    OPQ/RR deltas ±1 — see COVERAGE.md).
    "q_pq_recall_tuned" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 16, k = 16, rounds = 4)
      val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
      val adc = graft.ext.PqIndex.adcTopK(codes, cb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    }),

    // ── PQ capacity SWEEP, gated (X140 discipline): the r14 isotropy
    //    finding (q_embed_isotropy PR/dim 0.88–0.97) says CAPACITY, not
    //    rotation, is the recall lever on this corpus — this row
    //    measures the recall/memory trade as data: three codebook
    //    capacities (8 → 32 → 40 bits/vector), same queries, same
    //    brute ground truth, per-query gated intersection counts. The
    //    memory column is the 100 TB design input: recall buys bytes
    //    per vector, and the row makes the exchange rate a hash-gated
    //    measurement instead of a hope.
    "q_pq_recall_capacity" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the three capacity configs are INDEPENDENT train→encode→serve
      // chains whose training collects run at construction time —
      // build them on the ConcurrentJobs fan (guide §2.6, the
      // q_countmin_serve precedent) so one config's training tail
      // back-fills the others'; the union below is index-ordered, so
      // the result frame (and its rows) are identical to the
      // sequential build
      val cfgs = Seq(("m4k4", 8, 4, 4), ("m8k16", 32, 8, 16),
        ("m8k32", 40, 8, 32))
      val built =
        new Array[org.apache.spark.sql.DataFrame](cfgs.size)
      graft.model.ConcurrentJobs.awaitAll(
        cfgs.zipWithIndex.map { case ((cfg, bits, m, k), i) => () => {
          built(i) = pqRecallDf(emb, m = m, k = k, rounds = 2)
            .select(lit(cfg).as("cfg"),
              lit(bits).cast("int").as("bits_per_vec"),
              col("query_id"), col("hits"), col("k"))
        }}: _*)
      built.reduce(_ unionByName _)
    }),

    // ── IVF-PQ (IvfPq): the coarse-quantizer + residual-PQ composition
    //    (FAISS IVFPQ) — codes are residuals from the routed list's
    //    centroid, so memory (m codes/vector) and serve work
    //    (nProbe/nLists of the corpus) shrink together. Train, encode,
    //    probe, and ADC-serve are ALL hash-gated: the oracle unrolls
    //    the k-means CTEs twice (full-vector coarse pass, sub-keyed
    //    residual pass) plus probe/distance-table CTEs.
    "q_ivfpq_codes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.IvfPq.trainEncode(emb, "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)._2
    }),

    // ── IVF-PQ ADC serving: top-10 of 3 corpus queries probing their 2
    //    nearest lists. A neighbor in an unprobed list is invisible —
    //    that approximation IS the operator; the oracle replays the
    //    same probe rule, so the answer is still deterministic.
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, codes) = graft.ext.IvfPq.trainEncode(emb,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.adcTopK(codes, model,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, nProbe = 2)
    }),

    // ── The FAISS "OPQ..,IVF..,PQ.." factory composition: the exact-
    //    rational rotation feeds the UNCHANGED IVF-PQ faces (coarse
    //    routing, residual codebooks, probed ADC all operate on the
    //    rotated grid), and the whole chain still hash-gates — the
    //    rotation CTEs simply replace the oracle's comp prelude.
    "q_ann_opq_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val rot = graft.ext.Opq.rationalRotation(seed = 7, dim, steps = 16)
      val rotated = graft.ext.Opq.rotateExact(emb, "vec_id", "embedding",
        rot).localCheckpoint()
      val (model, codes) = graft.ext.IvfPq.trainEncode(rotated,
        "vec_id", "rvec",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.adcTopK(codes, model,
        rotated.filter(col("vec_id") < 3), "vec_id", "rvec",
        k = 10, nProbe = 2)
    }),

    // ── IVF-PQ on-disk APPEND + pruned serve: build on ⅔ of the
    //    corpus, persist, encode the remainder against the LOADED
    //    model and land it as wave 1, reload, serve with static
    //    partition pruning. The oracle replays codebooks trained on
    //    the ⅔ universe but encode/serve over everything — so the
    //    whole save → append → pinned-reload → pruned-ADC path is
    //    hash-exact, not just spec-gated.
    "q_ann_ivfpq_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = registerTempIndexDir(
        System.getProperty("java.io.tmpdir") +
          "/graft_ivfpq_app_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" + System.nanoTime())
      val train = emb.filter(col("vec_id") % 3 =!= 2)
      val (model, trainCodes) = graft.ext.IvfPq.trainEncode(train,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.save(model, trainCodes, idxPath)
      val loaded = graft.ext.IvfPq.load(s, idxPath)
      graft.ext.IvfPq.appendSave(idxPath,
        // no checkpoint: the encoded wave has exactly one consumer
        // (the wave write) — a blocking materialization job bought
        // nothing (guide §5: persist only what is reused)
        graft.ext.IvfPq.encode(emb.filter(col("vec_id") % 3 === 2),
          "vec_id", "embedding", loaded.model),
        wave = 1L)
      graft.ext.IvfPq.searchPruned(graft.ext.IvfPq.load(s, idxPath),
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, nProbe = 2)
    }),

    // ── IVF-PQ two-stage REFINED serve: ADC proposes 30 candidates,
    //    the exact quantized distance re-ranks them to the top-10 —
    //    the production refine pattern that buys back quantization
    //    recall at a bounded exact-compute price (queries × 30 rows
    //    of float-width work; the corpus-wide scan stays code-only).
    "q_ann_ivfpq_refine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, codes) = graft.ext.IvfPq.trainEncode(emb,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.adcRefineTopK(codes, model,
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding",
        k = 10, nProbe = 2, rerank = 30)
    }),

    // ── IVF-PQ on-disk DELETE + pruned serve: persist, tombstone
    //    every fifth vector, reload, serve — masked vids vanish and
    //    the ranks close up. The oracle is the same serve replay with
    //    the tombstoned vids excluded before ranking.
    "q_ann_ivfpq_delete" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = registerTempIndexDir(
        System.getProperty("java.io.tmpdir") +
          "/graft_ivfpq_del_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" + System.nanoTime())
      val (model, codes) = graft.ext.IvfPq.trainEncode(emb,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.save(model, codes, idxPath)
      graft.ext.IvfPq.deleteSave(idxPath,
        emb.filter(col("vec_id") % 5 === 1).select(col("vec_id")),
        "vec_id", wave = 1L)
      graft.ext.IvfPq.searchPruned(graft.ext.IvfPq.load(s, idxPath),
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, nProbe = 2)
    }),

    // ── ANN: DISTRIBUTED probe selection (IvfIndex.searchDistributed) —
    //    probe lists come from a broadcast-centroid argmin join, not
    //    search's driver-side collect, so the query batch can be
    //    arbitrarily large. Sign quantizer + nProbe = 1 keeps the result
    //    same-bucket brute force, hash-gated by the SAME SQL oracle as
    //    q_ann_ivf_pruned — proving the distributed selection probes
    //    exactly the lists the driver-side rule picks.
    "q_ann_ivf_dist" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.ext.IvfIndex.buildSign(emb, "vec_id", "embedding",
        bits = 4)
      graft.ext.IvfIndex.searchDistributed(model,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nProbe = 1)
    }),

    // ── Click→purchase attribution: the BATCH face of the stream-stream
    //    event-time interval join (streaming/StreamJoin.attribution —
    //    IDENTICAL transform both modes; StreamJoinSpec proves
    //    batch≡stream). Same-user purchases within 1 h after a click.
    //    Scale: equi-join shuffled on the user key; the time-range
    //    predicate bounds streaming state to O(rate × window).
    "q_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.StreamJoin.attribution(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", within = "1 hour")
        // epoch µs, not raw timestamps — the harness reprs engine-native
        // timestamp objects differently and would never hash-match
        .select(col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          col("purchase_value"))
    }),

    // ── Multimodal plumbing: opaque binary + metadata through the typed
    //    Dataset decode path. text/plain dispatches to the labeled
    //    byte-stats stub (oracle-expressible); real decode paths (imageio
    //    PNG/JPEG, RIFF WAV) are spec-gated — see MultimodalSpec.
    "q_multimodal" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.attach(Tables.documents(s, dir), "doc_id",
        "text", "text/plain").as[Multimodal.MediaRow]
      Multimodal.decodeFeatures(media).toDF().select(
        col("media_id"), col("format"), col("n_bytes"), col("content_md5"),
        col("n_frames"),
        col("features")(0).as("f_len"),
        // half-up quantization, NOT round(): Spark's round works on the
        // shortest decimal repr, DuckDB's on the binary double — they
        // disagree on boundary means (94.10124999… rounded 94.1013 vs
        // 94.1012, caught by the sf1 gate). floor(v·1e4+0.5)/1e4 is
        // IEEE-identical in both engines.
        (floor(col("features")(1) * lit(10000.0) + lit(0.5)) /
          lit(10000.0)).as("f_mean"),
        col("features")(2).as("f_head"))
    }),

    // ── REAL video decode, driver-visible: per sampled document, MUX a
    //    deterministic 2-frame MJPEG-AVI in the executor (8×8 solid-gray
    //    JPEG frames at a doc_id-derived level, Multimodal.muxMjpegAvi)
    //    and decode it through the SAME AviMjpegCodec path production
    //    media takes. The oracle states the decoded facts as constants:
    //    container frame count, first-frame dims, and a luminance-
    //    within-3 boolean — JPEG DC quantization of a solid 8×8 block
    //    reproduces the level within ±3 on any JDK (AviVideoSpec sweeps
    //    every level this query generates and pins the bound; exact
    //    frame bytes stay spec-gated there too).
    "q_video" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 20 === 0)
        .as[Long].mapPartitions { it =>
          it.map { id =>
            val gray = (id % 200L).toInt + 20
            val img = new java.awt.image.BufferedImage(8, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (gray << 16) | (gray << 8) | gray
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val frame = Multimodal.writeImage(img, "jpg")
            val avi = Multimodal.muxMjpegAvi(Seq(frame, frame), 8, 8)
            val (n, feats) = Multimodal.AviMjpegCodec.decode(avi)
            (id, n, feats(0), feats(1), math.abs(feats(2) - gray) <= 3.0)
          }
        }.toDF("doc_id", "n_frames", "w", "h", "lum_ok")
    }),

    // ── Perceptual image dedup, driver-visible end to end (the q_video
    //    pattern for PAIRS): per sampled document, RENDER a
    //    deterministic 18×16 gray block pattern in the executor — docs
    //    in one group share a pseudorandom 9×8 base pattern (drawn 2×2
    //    blocks); member 1 is a +1 brightness shift of it, member 2
    //    flips exactly the (0,0) block's comparison — PNG-encode, and
    //    push the bytes through the REAL decode → pixel-center NN
    //    resample → integer dHash → banded Hamming pairing pipeline
    //    (ext.ImageHash + Dedup.hammingPairs63). PNG is lossless and
    //    dHash is pure integer arithmetic, so the ORACLE replays the
    //    fingerprint + exact bit_count pairing in SQL from the stated
    //    pixel function: any decode loss, resample drift, or banding
    //    recall bug (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 shared 16-bit
    //    chunk) hash-mismatches. Expected structure: shift members
    //    pair at hamming 0, flipped-block members at 1, distinct
    //    groups sit ~31 bits apart (and any freak band collision is
    //    filtered by the same bit_count both engines compute).
    "q_image_dedup" -> ((s, dir) =>
      graft.ext.ImageHash.nearDupPairs(imageDedupFps(s, dir), "dhash",
        maxHamming = 3)),

    // ── Threshold SWEEP for the Hamming dedup family: pair counts and
    //    cumulative counts per distance 0..3 in one banded pass — the
    //    tuning curve an operator choice is made on (how many pairs
    //    does each extra bit of tolerance admit?), hash-gated instead
    //    of eyeballed. The sweep stays INSIDE the banded join's
    //    pigeonhole guarantee (4 bands ⇒ complete for Hamming ≤ 3);
    //    beyond it the candidate set would be band-recall-dependent
    //    and the counts unquotable — the honest boundary, stated.
    "q_dedup_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = graft.ext.ImageHash.nearDupPairs(
        imageDedupFps(s, dir), "dhash", maxHamming = 3)
      pairs.groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cum_pairs", sum(col("n_pairs")).over(
          Window.orderBy(col("hamming"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("hamming").cast("int").as("hamming"),
          col("n_pairs"), col("cum_pairs"))
    }),

    // ── Image near-dup CLUSTERS + keep-one policy: the SemDeDup shape
    //    on the image pair graph — pairs close transitively
    //    (Components.connectedAdaptive), keeper = cluster minimum, and
    //    the emitted DROP LIST (every doc that is not its own cluster
    //    id) is what a curation pipeline anti-joins against the
    //    corpus. Oracle: recursive closure over the identical
    //    fingerprint-pair SQL (the q_semdedup pattern).
    "q_image_dedup_keep" -> ((s, dir) => {
      val pairs = graft.ext.ImageHash.nearDupPairs(
        imageDedupFps(s, dir), "dhash", maxHamming = 3)
      graft.ext.Components.connectedAdaptive(pairs, "doc_a", "doc_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"), col("component").as("kept_id"))
    }),

    // ── Perceptual AUDIO dedup (ext.AudioHash), the q_image_dedup
    //    pattern on the time axis: per sampled document, SYNTHESIZE a
    //    512-sample mono 16-bit PCM clip — 64 windows of 8 alternating
    //    ±a(w) samples, window amplitudes drawn by the same md5 group
    //    coin; member 1 is the clip at
    //    2× gain (energy contour invariant — every window energy ×4),
    //    member 2 flips exactly window 0's energy comparison — mux a
    //    real RIFF/WAVE container (Multimodal.muxPcmWav), and push the
    //    bytes through the REAL WavCodec parse → integer energy
    //    contour → banded Hamming pairing. Energies are exact BIGINTs
    //    (8·a², monotone in a), so the oracle replays amplitude
    //    comparisons + bit_count pairing directly.
    "q_audio_dedup" -> ((s, dir) =>
      graft.ext.AudioHash.nearDupPairs(audioDedupFps(s, dir),
        maxHamming = 3)),

    // ── Perceptual VIDEO dedup (ext.VideoHash) — the temporal member
    //    of the modality-dedup family, driver-visible end to end: per
    //    sampled document, MUX a real 64-frame MJPEG-AVI of solid-gray
    //    8×8 JPEG frames whose levels come from the md5 group coin on
    //    a 20-gray-level grid (JPEG reproduces a solid block within
    //    ±3 — the q_video pinned bound — so ≥20-level gaps make every
    //    contour comparison noise-proof and STATED levels replay the
    //    decoded contour exactly); member 1 shifts every level +8
    //    (contour invariant), member 2 flips exactly window 0's
    //    comparison. The bytes run the REAL RIFF walk → per-frame JPEG
    //    decode → integer luminance contour → banded Hamming pairing.
    "q_video_dedup" -> ((s, dir) =>
      graft.ext.VideoHash.nearDupPairs(videoDedupFps(s, dir),
        maxHamming = 3)),

    // ── Streaming fingerprint dedup, BATCH face (streaming/
    //    FingerprintDedupStream.filterBatch — the q_neardup_filter
    //    trick for the media modalities): survivors of an image batch
    //    (ODD near-dup groups, g = (doc_id/10)/3) against the prebuilt
    //    corpus fingerprint set (even groups) under the shared
    //    keep-min drop policy — drop a batch image iff it
    //    banded-Hamming pairs with an indexed image or a smaller-id
    //    batch image. The group-parity split keeps whole near-dup
    //    families on one side, so each odd group's minimum member
    //    SURVIVES (in-batch keep-min) while its shift/flip members
    //    drop — a non-degenerate survivor set. The raw PNG frame goes
    //    in and fingerprints extract INSIDE the face (its contract);
    //    the micro-batch/index-accumulation twin is spec-gated
    //    (FingerprintDedupStreamSpec).
    "q_image_neardup_filter" -> ((s, dir) => {
      import s.implicits._
      val pngs = imageDedupPngs(s, dir)
      val fp: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        b => graft.ext.ImageHash.fingerprints(
          Multimodal.attach(b, "doc_id", "png", "png")
            .as[Multimodal.MediaRow])
          .select(col("media_id").as("doc_id"), col("dhash"))
      val corpusFps =
        fp(pngs.filter(expr("((doc_id div 10) div 3) % 2 = 0")))
          .localCheckpoint()
      graft.streaming.FingerprintDedupStream.filterBatch(corpusFps,
        pngs.filter(expr("((doc_id div 10) div 3) % 2 = 1")), fp,
        "doc_id", "dhash", maxHamming = 3)
        .select(col("doc_id"))
    }),

    // ── The same streaming-ingest batch face for AUDIO: raw RIFF clips
    //    in, energy-contour fingerprints extracted inside, arrivals
    //    kept only when no indexed corpus clip (and no earlier
    //    arrival) sits within Hamming 3 — FingerprintDedupStream is
    //    modality-blind, so this row pins that claim on a second
    //    fingerprint family end-to-end.
    "q_audio_neardup_filter" -> ((s, dir) => {
      import s.implicits._
      val wavs = audioDedupWavs(s, dir)
      val fp: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        b => graft.ext.AudioHash.fingerprints(
          Multimodal.attach(b, "doc_id", "wav", "wav")
            .as[Multimodal.MediaRow])
          .select(col("media_id").as("doc_id"), col("ahash"))
      val corpusFps =
        fp(wavs.filter(expr("((doc_id div 10) div 3) % 2 = 0")))
          .localCheckpoint()
      graft.streaming.FingerprintDedupStream.filterBatch(corpusFps,
        wavs.filter(expr("((doc_id div 10) div 3) % 2 = 1")), fp,
        "doc_id", "ahash", maxHamming = 3)
        .select(col("doc_id"))
    }),

    // ── And for VIDEO: MJPEG clips through the real per-frame decode.
    "q_video_neardup_filter" -> ((s, dir) => {
      import s.implicits._
      val avis = videoDedupAvis(s, dir)
      val fp: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        b => graft.ext.VideoHash.fingerprints(
          Multimodal.attach(b, "doc_id", "avi", "avi")
            .as[Multimodal.MediaRow])
          .select(col("media_id").as("doc_id"), col("vhash"))
      val corpusFps =
        fp(avis.filter(expr("((doc_id div 10) div 3) % 2 = 0")))
          .localCheckpoint()
      graft.streaming.FingerprintDedupStream.filterBatch(corpusFps,
        avis.filter(expr("((doc_id div 10) div 3) % 2 = 1")), fp,
        "doc_id", "vhash", maxHamming = 3)
        .select(col("doc_id"))
    }),

    // ── UNIFIED cross-modality keep-one policy: image, audio, and
    //    video near-dup pair graphs (disjoint id spaces via fixed
    //    offsets) closed transitively in ONE Components run — the
    //    composition a multimodal curation pipeline actually executes:
    //    one drop list over every media family, keeper = cluster
    //    minimum. Oracle: recursive closure over the three fingerprint
    //    replays (prefixed CTEs) unioned with the same offsets.
    "q_media_dedup_keep" -> ((s, dir) =>
      graft.ext.Components.connectedAdaptive(
          mediaPairGraph(s, dir), "doc_a", "doc_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"), col("component").as("kept_id"))),

    // ── pHash made driver-visible via the tolerance-twin pattern
    //    (q_hll_daily / q_triangles_approx shape): the exact dHash
    //    pair set is the hash-gated twin, and each pair carries TWO
    //    pinned-TRUE booleans asserting the float DCT path through
    //    deterministic bounds — `phash_shift_exact`: brightness-shift
    //    pairs (dHash 0) sit at pHash Hamming EXACTLY 0 (a constant
    //    shift moves only the excluded DC coefficient);
    //    `phash_agrees`: every near-dup pair sits at pHash ≤ 16
    //    (flip-pair max measured 8 at sf0.001/sf0.01;
    //    cross-group pairs concentrate at ~31.5 — 16 splits the two
    //    populations with 2× margin). A pHash regression (resample
    //    drift, DCT bug, bit-order change) flips a boolean and
    //    hash-mismatches at every SF.
    "q_image_phash" -> ((s, dir) => {
      val fps = imageDedupFps(s, dir).localCheckpoint()
      val pairs = graft.ext.ImageHash.nearDupPairs(fps, "dhash",
        maxHamming = 3)
      pairs
        .join(fps.select(col("media_id").as("doc_a"),
          col("phash").as("ph_a")), Seq("doc_a"))
        .join(fps.select(col("media_id").as("doc_b"),
          col("phash").as("ph_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("hamming"),
          (expr("bit_count(ph_a ^ ph_b)") <= lit(16)).as("phash_agrees"),
          (col("hamming") =!= lit(0) ||
            expr("bit_count(ph_a ^ ph_b)") === lit(0))
            .as("phash_shift_exact"))
    }),

    // ── S1/S2 text ingest faces: the reference's flow logs arrive as
    //    JSON/TSV lines, not parquet (SURVEY §1.2). Round-trip contract:
    //    serialize a deterministic events subset to the text format, read
    //    it back through the explicit-schema PERMISSIVE reader
    //    (sources/TextSources — quarantine, never die or drop), and
    //    aggregate; the oracle computes the same aggregate off the
    //    parquet table, so any parse loss (rows, ts instants, value
    //    precision, props bytes) hash-mismatches. n_bad pins the
    //    quarantine count at zero on clean data.
    "q_jsonl_scan" -> ((s, dir) => {
      import graft.sources.TextSources
      val sub = Tables.events(s, dir).filter(col("user_id") % 100 === 0)
      val path = scratchDir(s, "q_jsonl_scan")
      TextSources.toJsonlColumns(sub).coalesce(4)
        .write.mode("overwrite").text(path)
      // a PERMISSIVE-quarantined line yields all-NULL data columns, and
      // clean lines always carry event_type — so the bad count rides the
      // data columns alone. (Referencing the corrupt column here would
      // hit Spark's corrupt-column-only scan restriction once pruning
      // collapses the projection; the quarantine column itself remains
      // the dead-letter surface, see TextSources.deadLetter.)
      val flagged = TextSources.eventsJsonl(s, path)
        .select(col("event_type"), col("value"), col("ts"), col("props"))
      val bad = flagged
        .agg(sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_bad"))
      flagged.filter(col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          decSum(col("value")).as("sum_value"),
          max(unix_micros(col("ts"))).as("max_ts_us"),
          countDistinct(col("props")).as("n_props"))
        .crossJoin(bad)
    }),

    "q_tsv_scan" -> ((s, dir) => {
      import graft.sources.TextSources
      val sub = Tables.events(s, dir).filter(col("user_id") % 100 === 1)
      val path = scratchDir(s, "q_tsv_scan")
      TextSources.toTsvColumns(sub).coalesce(4)
        .write.mode("overwrite").text(path)
      val flagged = TextSources.eventsTsv(s, path)
        .select(col("event_type"), col("value"), col("ts"), col("props"))
      val bad = flagged
        .agg(sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_bad"))
      flagged.filter(col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          decSum(col("value")).as("sum_value"),
          max(unix_micros(col("ts"))).as("max_ts_us"),
          countDistinct(col("props")).as("n_props"))
        .crossJoin(bad)
    }),

    // ── Sink face: the curated-corpus layout writer round-tripped through
    //    its own partition-pruned slice read (sources/CorpusLayout — hive
    //    split/lang partitions, shard-ordered files, record caps; the
    //    physical-layout contracts are CorpusLayoutSpec's). The oracle
    //    recomputes the slice aggregate off the parquet table, so any row
    //    loss or partition misrouting in the write→prune→read cycle
    //    hash-mismatches.
    "q_corpus_export" -> ((s, dir) => {
      import graft.sources.CorpusLayout
      val docs = Tables.documents(s, dir)
        .withColumn("split",
          when(col("doc_id") % 10 === 0, "heldout").otherwise("train"))
      val path = scratchDir(s, "q_corpus_export")
      CorpusLayout.write(docs, path, partitionCols = Seq("split", "lang"),
        sortCols = Seq("source", "doc_id"), maxRecordsPerFile = 100000L)
      CorpusLayout.readSlice(s, path, "split" -> "train")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),

    // ── X80 compaction, driver-visible: land the corpus with a tiny
    //    record cap (the streaming landing zone's many-small-files
    //    shape), compact the train slice, and aggregate the slice read
    //    AFTER the swap — any row loss/dup in the rewrite, or misrouting
    //    of the rename-aside swap, hash-mismatches. The file counts ride
    //    along as columns because both are DETERMINISTIC functions of
    //    the row count: `write` repartitions by the partition column, so
    //    one task holds all train rows and emits ceil(n/40) capped
    //    files; the compact rewrite plans ceil(n/100000) = 1 range, one
    //    file. The oracle recomputes both from count(*). Physical
    //    contracts (order, siblings, debris) stay spec-gated
    //    (CorpusLayoutSpec).
    "q_compaction" -> ((s, dir) => {
      import graft.sources.CorpusLayout
      val docs = Tables.documents(s, dir)
        .withColumn("split",
          when(col("doc_id") % 10 === 0, "heldout").otherwise("train"))
      val path = scratchDir(s, "q_compaction")
      CorpusLayout.write(docs, path, partitionCols = Seq("split"),
        sortCols = Seq("lang", "doc_id"), maxRecordsPerFile = 40L)
      val (before, after) = CorpusLayout.compactSlice(s, path,
        partition = Seq("split" -> "train"),
        sortCols = Seq("lang", "doc_id"), maxRecordsPerFile = 100000L)
      CorpusLayout.readSlice(s, path, "split" -> "train")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .withColumn("n_files_before", lit(before.toLong))
        .withColumn("n_files_after", lit(after.toLong))
    }),

    // ── Count-Min sketch (ext.CountMin): the d×w point-frequency
    //    summary with one-sided error — est ≥ true always, merge =
    //    cell-wise add. Buckets come from the engine-shared md5 coin
    //    (4 nibbles mod w), so the WHOLE sketch table hash-gates: no
    //    tolerance, no sampled audit. One corpus pass, ×d map-side
    //    blowup, partial-agg exchange ≤ d·w cells per executor.
    "q_countmin" -> ((s, dir) =>
      graft.ext.CountMin.sketch(
        Tables.lineitem(s, dir).select(col("l_partkey")),
        "l_partkey", d = 4, w = 512)),

    // ── CM estimates vs exact truth, in one row: (key, est, true_cnt,
    //    over_ok) — the one-sided-error CONTRACT (est ≥ true) rides
    //    the row as a pinned-TRUE boolean at every SF (the tolerance-
    //    twin discipline), while est itself stays hash-exact because
    //    the md5 buckets replay in SQL.
    "q_countmin_est" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"))
      val sk = graft.ext.CountMin.sketch(li, "l_partkey", d = 4, w = 512)
      val est = graft.ext.CountMin.estimate(sk,
        li.filter(col("l_partkey") < 50), "l_partkey", d = 4, w = 512)
      val truth = li.filter(col("l_partkey") < 50)
        .groupBy(col("l_partkey").cast("string").as("key"))
        .agg(count(lit(1)).as("true_cnt"))
      est.join(truth, "key")
        .select(col("key"), col("est"), col("true_cnt"),
          (col("est") >= col("true_cnt")).as("over_ok"))
    }),

    // ── CM SERVING over the batch-partitioned store (streaming face's
    //    batch twin): the corpus lands as 3 per-batch cell tables,
    //    estimates read the merged cells only — and because CM cells
    //    add exactly, the answer is bit-identical to the one-shot
    //    build: SAME oracle as q_countmin_est, batching invisible.
    "q_countmin_serve" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"))
      val path = registerTempIndexDir(
        System.getProperty("java.io.tmpdir") +
          "/graft_cm_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" + System.nanoTime())
      // the three batch sketches are independent actions on disjoint
      // paths — overlap them (guide §2.6; the ConcurrentJobs wave-fan
      // precedent) instead of paying three sequential scan+write fans
      graft.model.ConcurrentJobs.awaitAll((0 until 3).map { i => () =>
        graft.ext.CountMin.sketch(
          li.filter(pmod(col("l_partkey"), lit(3)) === i),
          "l_partkey", d = 4, w = 512)
          .write.mode("overwrite").parquet(s"$path/batch=$i")
      }: _*)
      val est = graft.streaming.CountMinStream.estimate(s, path,
        li.filter(col("l_partkey") < 50), "l_partkey", d = 4, w = 512)
      val truth = li.filter(col("l_partkey") < 50)
        .groupBy(col("l_partkey").cast("string").as("key"))
        .agg(count(lit(1)).as("true_cnt"))
      est.join(truth, "key")
        .select(col("key"), col("est"), col("true_cnt"),
          (col("est") >= col("true_cnt")).as("over_ok"))
    }),

    // ── Sketch-guided EXACT heavy hitters over word bigrams
    //    (ext.FrequentItems + functions.MisraGriesAgg): one mergeable
    //    Misra–Gries pass finds a guaranteed-superset candidate set
    //    without shuffling the bigram domain, then a broadcast-semi-join
    //    re-count makes the surviving counts exact — so the row is
    //    hash-green against a plain exact GROUP BY oracle with NO
    //    tolerance. Threshold: ≥1/1000 of all bigrams (shareDen=1000 <
    //    capacity+1=4097 keeps the sketch guarantee).
    "q_heavy_hitters" -> ((s, dir) => {
      val ws = graft.ext.TextAnalysis.words(col("text"))
      val bg = Tables.documents(s, dir)
        .select(ws.as("ws"))
        .select(explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1).as("l"),
          slice(col("ws"), lit(2), size(col("ws")) - 1).as("r"))).as("pr"))
        .select(concat_ws(" ", col("pr.l"), col("pr.r")).as("bigram"))
      graft.ext.FrequentItems.exactHeavyHitters(bg, "bigram",
        shareDen = 1000L, capacity = 4096)
    }),

    // ── The persisted-slice path to the SAME answer: per-lang MG
    //    summaries (the rows a real pipeline would persist per
    //    day/source), rolled up globally MERGE-ONLY (raw bigrams never
    //    rescanned for the rollup), then the exact re-count from the
    //    rolled-up candidates. Conservative one-shot merge bound keeps
    //    the guarantee: undercount ≤ 2N/(capacity+1) < N/1000. The
    //    oracle is the same plain GROUP BY — slice→rollup→exact must be
    //    indistinguishable from the direct path.
    "q_heavy_rollup" -> ((s, dir) => {
      val ws = graft.ext.TextAnalysis.words(col("text"))
      val bg = Tables.documents(s, dir)
        .select(col("lang"), ws.as("ws"))
        .select(col("lang"), explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1).as("l"),
          slice(col("ws"), lit(2), size(col("ws")) - 1).as("r"))).as("pr"))
        .select(col("lang"),
          concat_ws(" ", col("pr.l"), col("pr.r")).as("bigram"))
      val slices = graft.ext.FrequentItems.sliceSummaries(
        bg, Seq("lang"), "bigram", capacity = 4096)
      val cand = graft.ext.FrequentItems.rollupCandidates(
        slices, Nil, capacity = 4096)
      val total = slices.agg(coalesce(sum(col("total")), lit(0L)))
        .head().getLong(0)
      graft.ext.FrequentItems.exactFromCandidates(
        bg.select(col("bigram")), "bigram", shareDen = 1000L, total,
        cand.select(col("item").as("bigram")))
    }),

    // ── Distributed BPE tokenizer training (ext.Bpe): the corpus is
    //    reduced to a word histogram once, then each merge round is one
    //    pair-count aggregate over that vocabulary-sized table plus a
    //    1-row argmax collect under a TOTAL order (count desc, lhs,
    //    rhs). The oracle replays the identical 8 rounds as a generated
    //    CTE chain, so the whole learned merge table is hash-checked —
    //    training itself, not just a summary statistic.
    "q_bpe_train" -> ((s, dir) => {
      val merges = graft.ext.Bpe.learn(
        Tables.documents(s, dir), "text", rounds = 8)
      s.createDataFrame(merges)
        .select(col("rank").as("merge_rank"), col("lhs"), col("rhs"),
          col("count").as("pair_count"))
    }),

    // ── Unigram-LM (SentencePiece-style) tokenizer training
    //    (ext.UnigramLm) — the OTHER production tokenizer family: seed
    //    vocabulary = top-48 substrings (≤4 chars) of the word
    //    histogram by occurrence mass ∪ all single chars, then 2
    //    Viterbi-EM rounds with µ-quantized integer log-prob scores
    //    (the NgramLm ln-of-integers discipline). The oracle replays
    //    BOTH rounds as a generated CTE chain — candidate seeding,
    //    score quantization, canonical-path Viterbi (enumerated
    //    segmentations, ORDER BY score DESC, path), usage recount —
    //    so the whole trained table is hash-checked, the q_bpe_train
    //    posture for EM.
    "q_unigram_train" -> ((s, dir) =>
      graft.ext.UnigramLm.train(Tables.documents(s, dir), "text",
        vocabSize = 48, maxPieceLen = 4, rounds = 2)),

    // ── Unigram-LM ENCODE (the inference face, pairing q_bpe_encode):
    //    per-doc token counts under the canonical Viterbi against the
    //    trained score table — train and encode hash-gate together, so
    //    a drift in either the EM rounds or the segmentation tie-break
    //    breaks the row. The oracle extends the train unroll with one
    //    more score derivation + reach CTE over the word universe.
    "q_unigram_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scores = graft.ext.UnigramLm.scoreTable(
        graft.ext.UnigramLm.train(docs, "text",
          vocabSize = 48, maxPieceLen = 4, rounds = 2))
      graft.ext.UnigramLm.tokenCounts(docs, "doc_id", "text",
        scores, maxPieceLen = 4)
    }),

    // ── BPE encoding with a FIXED merge list (the inference face of
    //    ext.Bpe): greedy leftmost-non-overlapping application as a
    //    codegen replace chain over the "(sym)(sym)" encoding; per-doc
    //    token counts after 5 merges. Same literals on both sides, so
    //    any deviation in application order or overlap handling
    //    hash-mismatches.
    "q_bpe_encode" -> ((s, dir) => {
      val merges5 = Seq("e" -> "r", "i" -> "n", "o" -> "w",
        "o" -> "r", "s" -> "t")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.ext.TextAnalysis.words(col("text"))).as("word"))
        .select(col("doc_id"),
          regexp_replace(col("word"), "[^a-z0-9]", "").as("word"))
        .filter(col("word") =!= "")
        .select(col("doc_id"),
          graft.ext.Bpe.encodeWith(col("word"), merges5).as("enc"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(graft.ext.Bpe.tokenCountOf(col("enc")).cast("long"))
            .as("n_tokens"))
    }),

    // ── Per-series CUSUM changepoint (ops.Changepoint): argmax of the
    //    integer-exact scaled cumulative deviation S_i = n·P_i − i·T
    //    over each user's (ts, event_id)-ordered values — ONE exchange
    //    on the series key carries the prefix sum, the series totals,
    //    and the argmax pick. The "when did this series' level move"
    //    monitoring face.
    "q_changepoint" -> ((s, dir) =>
      graft.ops.Changepoint.cusum(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value", scale = 1000L)),

    // ── C4-style segment dedup WITH reconstruction (ext.SegmentDedup):
    //    8-token blocks, global keep-first by (doc_id, bidx), cleaned
    //    text reassembled — min-struct hash aggregates (map-side
    //    combined) instead of a hot-key window, two shuffles total.
    //    The boilerplate-removal pass that REWRITES documents, vs
    //    q_span_dedup which only detects overlap.
    "q_segment_dedup" -> ((s, dir) =>
      graft.ext.SegmentDedup.dedupSegments(Tables.documents(s, dir),
        "doc_id", "text", blockTokens = 8)),

    // ── Exact pairwise co-moment matrix (ext.Comoments): BIGINT
    //    (n, Σx, Σy, Σxy) for all 10 feature pairs per return flag —
    //    in-row products, ONE fully partial-aggregatable hash
    //    aggregate, groups×pairs rows shuffled. Money at scale 1,
    //    ratios at 100 (overflow headroom documented in the operator).
    "q_comoments" -> ((s, dir) =>
      graft.ext.Comoments.comoments(Tables.lineitem(s, dir),
        keys = Seq("l_returnflag"), feats = comomentFeats)),

    // ── HyperBall neighborhood function (ext.HyperBall): HLL registers
    //    propagated 2 rounds over the q_bfs co-purchase graph — m=128
    //    max-columns in ONE codegen hash aggregate per round (hub
    //    register sets collapse map-side), vs the exact d≤2 closure
    //    twin; per-radius tolerance booleans. The centrality profile
    //    exact all-pairs BFS cannot afford at 100 TB.
    "q_hyperball" -> ((s, dir) => {
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
    }),

    // ── Hybrid retrieval (ext.Fusion): BM25 sparse top-50 ⊕ dense
    //    cosine top-50 (query = embedding 0) fused by reciprocal-rank
    //    fusion, k=60 — contributions quantized to integer µ-units
    //    BEFORE the per-doc sum, so the fused ranking is shuffle-order-
    //    proof. Corpus-sized work stays in the retrievers; fusion
    //    touches only the pre-cut lists.
    "q_hybrid_search" -> ((s, dir) => {
      val sparse = Fusion.rankList(
        Relevance.bm25(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("spark", "table", "join"))
          .select(col("doc_id"), col("bm25")),
        "doc_id", "bm25", n = 50)
      val dense = Similarity.bruteForceTopK(Tables.embeddings(s, dir),
          Tables.embeddings(s, dir).filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rk"))
      Fusion.rrfFused(Seq(sparse -> "rank", dense -> "rk"),
        "doc_id", k = 60, topN = 20)
    }),

    // ── Corpus harmonic centrality, estimated vs exact (ext.HyperBall
    //    .harmonicCentrality on the q_bfs co-purchase graph, radius 2):
    //    Σ_v [(|B(v,1)|−1)/1 + (|B(v,2)|−|B(v,1)|)/2] — the exact twin
    //    derives per-node ball sizes from the d≤1/d≤2 closures; the
    //    sketch total must land within 15%. Per-node HLL noise (~9%)
    //    partially cancels in the sum; the gate is the corpus statistic.
    "q_harmonic" -> ((s, dir) => {
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
    }),

    // ── WEIGHTED PageRank (ext.PageRank.weightedScores) on the
    //    supplier↔part-bucket graph with quantity weights (q_sssp's
    //    edges): score flows as ⌊score·w/W⌋ — the affinity-weighted
    //    authority ranking; same integer-exact DECIMAL(38,0) + guarded
    //    message-sum contract as q_pagerank, 2 unrolled iterations.
    "q_pagerank_weighted" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      graft.ext.PageRank.weightedScores(
        li.select(col("l_suppkey").as("src"),
          (lit(100000L) + col("l_partkey") % 100).as("dst"),
          col("l_quantity").cast("long").as("w")),
        "src", "dst", "w", iterations = 2)
    }),

    // ── Recency-weighted engagement score (ops.DecayAgg): per-user
    //    Σ value·2^(−⌊age_days/7⌋) as of 2024-02-01 — ages in WHOLE
    //    half-life steps so every weight is an exact power of two and
    //    the µ-score sums in BIGINT (no libm pow, no float order);
    //    ONE partial-aggregatable hash pass.
    "q_decay" -> ((s, dir) =>
      graft.ops.DecayAgg.decayScore(Tables.events(s, dir),
        keys = Seq("user_id"), tsCol = "ts", valCol = "value",
        asOfUs = 1706745600000000L, halfLifeDays = 7)),

    // ── Cross-source vocabulary overlap (ext.GroupOverlap): exact
    //    |A|,|B|,|A∩B| and µ-Jaccard for every lang pair — computed
    //    ELEMENT-KEYED (per-word group sets, in-row pair explode
    //    bounded by C(groups,2)), never a groups×groups join. The
    //    duplication-pressure diagnostic before dedup.
    "q_group_overlap" -> ((s, dir) =>
      graft.ext.GroupOverlap.pairwise(
        Tables.documents(s, dir).select(col("lang"),
          explode(TextAnalysis.words(col("text"))).as("word")),
        "lang", "word")),

    // ── Embedding truncation recall (ext.EmbedEval): the top-10 cosine
    //    neighbors at 16 of 64 dims vs the full ranking, per query —
    //    the exact price of a 4× index-size cut, measured before
    //    anything is discarded. Both rankings are the decimal-exact
    //    brute-force machinery, so the overlap is deterministic.
    "q_trunc_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.EmbedEval.truncationRecall(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dims = 16, k = 10)
    }),

    // ── Functional-dependency audit (ops.FdAudit): does the key column
    //    really determine the dependent, checked EXACTLY — per pair one
    //    two-level aggregate (distinct collapse → 4-number rollup), no
    //    window, no join. o_orderkey→o_custkey must hold (it is the
    //    key); the two coarse determinants must report their violation
    //    counts exactly.
    "q_fd_audit" -> ((s, dir) =>
      graft.ops.FdAudit.audit(Tables.orders(s, dir), Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderpriority",
        "o_orderstatus" -> "o_orderpriority"))),

    // ── k-truss backbone of the co-purchase graph (ext.KTruss): k=4,
    //    2 simultaneous peeling rounds — per round one degree-oriented
    //    intersection (out-lists bounded O(√2m), hubs never
    //    concentrate), 3 canonical edge keys per triangle into a
    //    partial-aggregated support count, survivor semi join. The
    //    edge-level cohesion filter one rung above q_kcore.
    "q_ktruss" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_partkey") % 6 === 0)
      graft.ext.KTruss.survivors(
        graft.ext.Basket.coPairs(li, "l_orderkey", "l_partkey"),
        "u", "v", k = 4, rounds = 2)
    }),

    // ── Weighted exactly-25-per-lang draw (ext.Sampling A-ES): rank by
    //    ln(u)/n_chars over the deterministic 32-bit id coin — length-
    //    proportional inclusion, seedless and SQL-replayable; one
    //    ordered window on the group key.
    "q_weighted_sample" -> ((s, dir) =>
      graft.ext.Sampling.weightedFixedSize(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        keys = Seq("lang"), idCol = "doc_id", weightCol = "n_chars",
        n = 25)
        .withColumn("rk", col("rk").cast("long"))),

    // ── Persisted BM25 posting index, built then served in one face
    //    (ext.PostingIndex — the sparse twin of q_ann_ivf_disk): build
    //    pays the corpus scan once into bucket-partitioned postings +
    //    doclens + df/stats; the query reads ONLY its terms' buckets
    //    (partition-pruned, contracted) and must reproduce the scan
    //    scorer's floats bit-for-bit on every matching doc.
    "q_bm25_indexed" -> ((s, dir) => {
      val path = scratchDir(s, "q_bm25_indexed")
      graft.ext.PostingIndex.build(Tables.documents(s, dir),
        "doc_id", "text", path, termBuckets = 64)
      graft.ext.PostingIndex.scoreQuery(s, path,
        terms = Seq("spark", "table", "join"), termBuckets = 64)
    }),

    // ── Lucene-semantics DELETE, driver-visible: build, tombstone
    //    every doc_id % 7 == 0, serve. Masked docs vanish from the
    //    results while the survivors' scores stay computed against the
    //    FULL corpus statistics (stale df/N/avgdl until compaction) —
    //    which is exactly what the oracle expresses: the full-corpus
    //    bm25 replay with the deleted ids excluded from the ROWS only.
    "q_bm25_delete" -> ((s, dir) => {
      val path = scratchDir(s, "q_bm25_delete")
      val docs = Tables.documents(s, dir)
      graft.ext.PostingIndex.build(docs, "doc_id", "text", path,
        termBuckets = 64)
      graft.ext.PostingIndex.deleteSave(path,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
        "doc_id", wave = 1L)
      graft.ext.PostingIndex.scoreQuery(s, path,
        terms = Seq("spark", "table", "join"), termBuckets = 64)
    }),

    // ── Incremental index growth (ext.PostingIndex.append): build on
    //    two-thirds of the corpus, fold the rest in WITHOUT re-reading
    //    the indexed docs — the wave lands as its own `batch=1`
    //    partition in all four tables via dynamic partition overwrite
    //    (crash/replay-idempotent; serving sums df/stats across waves;
    //    nothing merges in place, nothing renames) — then serve. Must
    //    equal build-on-everything bit-for-bit: the SAME oracle as
    //    q_bm25_indexed.
    "q_bm25_append" -> ((s, dir) => {
      val path = scratchDir(s, "q_bm25_append")
      val docs = Tables.documents(s, dir)
      graft.ext.PostingIndex.build(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", path, termBuckets = 64)
      graft.ext.PostingIndex.append(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", path, wave = 1L, termBuckets = 64)
      graft.ext.PostingIndex.scoreQuery(s, path,
        terms = Seq("spark", "table", "join"), termBuckets = 64)
    }),

    // ── Overlapping 32-token chunks every 24 tokens (ext.Chunking):
    //    the RAG/embedding document→chunk expansion — in-row slices,
    //    one explode, ZERO shuffles (narrow map; downstream decides
    //    partitioning).
    "q_chunks" -> ((s, dir) =>
      graft.ext.Chunking.chunk(Tables.documents(s, dir),
        "doc_id", "text", window = 32, stride = 24))
  )

  /** Deterministic group-patterned PNG fingerprints shared by the
    * image-dedup family (q_image_dedup / q_image_dedup_keep): renders
    * an 18×16 gray block image per sampled doc (2×2 blocks of a 9×8
    * cell grid), PNG-encodes it executor-side, and runs the REAL
    * decode → pixel-center resample → integer dHash path. Cell values
    * are md5 draws, NOT a polynomial mix: any low-degree arithmetic in
    * (g, cell) is smooth enough that a birthday search over millions
    * of group pairs finds near-identical patterns (measured at the sf1
    * probe: ~50% spurious cross-group pairs for a quadratic mod-prime
    * mix); md5 is the repo's engine-shared coin (simhash/walks
    * precedent), and its first 16 bits mod 191 give uniform
    * multi-valued cells — comparison bits at p = 1/2, cross-group
    * hamming concentrated at ~31.5/63. */
  /** The rendered PNG frame (doc_id, png) behind [[imageDedupFps]] —
    * exposed separately so q_image_neardup_filter can drive the
    * streaming batch face (FingerprintDedupStream.filterBatch), whose
    * contract is RAW media in, fingerprints extracted inside. */
  private def imageDedupPngs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") % 10 === 0)
      .as[Long].mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def draw(key: String): Int = {
          val d = md.digest(key.getBytes("UTF-8"))
          (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 191
        }
        it.map { id =>
          val idp = id / 10
          val g = idp / 3
          val m = idp % 3
          def base(x: Int, y: Int): Int = draw(s"${g}_${x}_$y") + 30
          def cell(x: Int, y: Int): Int =
            if (m == 2 && x == 0 && y == 0) {
              // guaranteed single-comparison flip: 255 clears the
              // 30..221 value range upward, 0 clears it downward
              if (base(0, 0) < base(1, 0)) 255 else 0
            } else base(x, y) + (if (m == 1) 1 else 0)
          val img = new java.awt.image.BufferedImage(18, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var py = 0
          while (py < 16) {
            var px = 0
            while (px < 18) {
              val v = cell(px / 2, py / 2)
              img.setRGB(px, py, (v << 16) | (v << 8) | v)
              px += 1
            }
            py += 1
          }
          (id, Multimodal.writeImage(img, "png"))
        }
      }.toDF("doc_id", "png")
  }

  private def imageDedupFps(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.ext.ImageHash.fingerprints(
      Multimodal.attach(imageDedupPngs(s, dir), "doc_id", "png", "png")
        .as[Multimodal.MediaRow])
  }

  /** The synthesized RIFF/WAVE clips (doc_id, wav) behind
    * [[audioDedupFps]] — exposed separately so q_audio_neardup_filter
    * can drive the streaming batch face (raw media in, fingerprints
    * extracted inside). One source of truth for the clip synthesis
    * (see the q_audio_dedup comment for the group/member scheme). */
  private def audioDedupWavs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") % 10 === 0)
      .as[Long].mapPartitions { it =>
        // md5 amplitude draw (see q_image_dedup: polynomial mixes
        // leak birthday-searchable cross-group correlation)
        val md = java.security.MessageDigest.getInstance("MD5")
        def draw(key: String): Int = {
          val d = md.digest(key.getBytes("UTF-8"))
          (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 191
        }
        it.map { id =>
          val idp = id / 10
          val g = idp / 3
          val m = idp % 3
          def amp(w: Int): Int = draw(s"${g}_a_$w") + 10
          def a(w: Int): Int =
            if (m == 2 && w == 0) {
              // guaranteed flip: 250 clears the 10..200 range upward,
              // 5 clears it downward
              if (amp(0) < amp(1)) 250 else 5
            } else amp(w) * (if (m == 1) 2 else 1)
          val samples = Array.tabulate[Short](512) { i =>
            val v = a(i / 8)
            (if (i % 2 == 0) v else -v).toShort
          }
          (id, Multimodal.muxPcmWav(samples, 8000, 1))
        }
      }.toDF("doc_id", "wav")
  }

  private def audioDedupFps(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.ext.AudioHash.fingerprints(
      Multimodal.attach(audioDedupWavs(s, dir), "doc_id", "wav", "wav")
        .as[Multimodal.MediaRow])
  }

  /** The muxed MJPEG-AVI clips (doc_id, avi) behind [[videoDedupFps]]
    * — exposed separately for the q_video_neardup_filter batch face
    * (see the q_video_dedup comment for the level-grid scheme and the
    * ±3 JPEG bound). */
  private def videoDedupAvis(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // parallelism floor: 64 JPEG encodes + the AVI mux per row is the
    // densest synthesis in the media family and otherwise runs in a
    // single-task scan stage (Parallelism doc). The image/audio
    // synthesizers are deliberately NOT floored - their per-row work
    // is too cheap to amortize the extra exchange (measured +40%).
    graft.model.Parallelism.floor(
        Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") % 10 === 0))
      .as[Long].mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def draw(key: String): Int = {
          val d = md.digest(key.getBytes("UTF-8"))
          (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 10
        }
        // one JPEG per distinct gray level, memoized per partition
        val frameCache = scala.collection.mutable.Map.empty[Int, Array[Byte]]
        def frame(level: Int): Array[Byte] =
          frameCache.getOrElseUpdate(level, {
            val img = new java.awt.image.BufferedImage(8, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (level << 16) | (level << 8) | level
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            Multimodal.writeImage(img, "jpg")
          })
        it.map { id =>
          val idp = id / 10
          val g = idp / 3
          val m = idp % 3
          def lvl(w: Int): Int = draw(s"${g}_v_$w") * 20 + 20
          def level(w: Int): Int =
            if (m == 2 && w == 0) {
              // guaranteed flip: 240 clears the 20..208 range upward
              // (beyond the +3 JPEG bound), 0 clears it downward
              if (lvl(0) < lvl(1)) 240 else 0
            } else lvl(w) + (if (m == 1) 8 else 0)
          val frames = (0 until 64).map(w => frame(level(w)))
          (id, Multimodal.muxMjpegAvi(frames, 8, 8))
        }
      }.toDF("doc_id", "avi")
  }

  private def videoDedupFps(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.ext.VideoHash.fingerprints(
      Multimodal.attach(videoDedupAvis(s, dir), "doc_id", "avi", "avi")
        .as[Multimodal.MediaRow])
  }

  /** The perceptron feature columns (order = weight indices 1..4). */
  private val PerceptronX = Seq("x_one", "x_sw", "x_punct", "x_len")

  /** The perceptron feature frame: micro-unit density features over
    * the qualityTCte integers, labeled by the quality threshold the
    * gate is distilling. Integer division is non-negative on both
    * sides by construction (w ≥ 1 — a split always yields ≥ 1 token —
    * and greatest(c, 1)), so Spark `div` ≡ DuckDB `//`. Shared by
    * q_perceptron (training) and q_perceptron_score (inference). */
  private def perceptronFeatures(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"),
        length(col("text")).cast("long").as("c"),
        TextAnalysis.punctCount(col("text")).cast("long").as("p"),
        TextAnalysis.markerCount(col("text"), ExtConfig.stopwords)
          .cast("long").as("m"),
        TextAnalysis.qualityScore(col("text"), ExtConfig.stopwords).as("q"))
      .select(col("doc_id"),
        when(col("q") >= 0.55, 1L).otherwise(-1L).as("y"),
        lit(1000000L).as("x_one"),
        expr("(m * 1000000) div w").as("x_sw"),
        expr("(p * 1000000) div greatest(c, 1)").as("x_punct"),
        (least(col("w"), lit(50L)) * lit(20000L)).as("x_len"))

  /** The q_comoments feature grid, shared with the generated oracle. */
  private val comomentFeats: Seq[(String, Long)] = Seq(
    "l_quantity" -> 1L, "l_extendedprice" -> 1L,
    "l_discount" -> 100L, "l_tax" -> 100L)

  /** Shared ext/ configuration (markers kept tiny and explicit so the SQL
    * oracles can inline them verbatim). */
  private object ExtConfig {
    val stopwords = Seq("the", "a", "of", "and", "to")
    val langMarkers: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das", "und"),
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "los", "que"),
      "fr" -> Seq("le", "les", "une"),
      "zh" -> Seq("de", "shi", "le")
    )
  }

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

  /** Plain exact bigram GROUP BY + HAVING — shared by q_heavy_hitters
    * (live sketch path) and q_heavy_rollup (persisted-slice rollup
    * path): both must produce the identical exact answer. */
  private val heavyHittersOracle: String =
    """WITH ws AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
                     FROM documents),
         bg AS (SELECT unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM ws),
         t AS (SELECT count(*) AS n FROM bg)
         SELECT bigram, count(*) AS n_occ
         FROM bg, t GROUP BY bigram, t.n
         HAVING count(*) * 1000 >= t.n"""

  /** Sign-bucket embedding pair CTE block (b, p, d — yields
    * `d(doc_a, doc_b, dotv, na2, nb2)` for same-bucket id-ordered
    * pairs) — shared by q_embed_dedup and q_semdedup. */
  private val embedPairCtes: String =
    """b AS (SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
           FROM embeddings),
         p AS (SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
                      a.embedding AS va, b2.embedding AS vb
               FROM b a JOIN b b2
               ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
         d AS (SELECT doc_a, doc_b,
                 CAST(sum(CAST(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS na2,
                 CAST(sum(CAST(CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nb2
               FROM p, UNNEST(range(1, len(va) + 1)) t(i)
               GROUP BY 1, 2)"""

  /** Transitive-closure CTE block (expects a `pairs(doc_a, doc_b)` CTE in
    * scope; yields `comp(node, cluster_id)`) — shared by q_dedup_clusters
    * and q_dedup_keep. Interpolating callers must open WITH RECURSIVE. */
  /** Cross-modality id offsets for the unified media keep row — far
    * above any doc_id at every shipped SF (ids are dense row numbers),
    * so the three pair graphs' node spaces never collide. */
  private val MediaAudioOff: Long = 1L << 40
  private val MediaVideoOff: Long = 1L << 41

  /** The unified cross-modality near-dup pair graph (offset id spaces)
    * — shared by q_media_dedup_keep (the keep/drop election) and
    * q_e2e_curation (the media gate). */
  private def mediaPairGraph(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val img = graft.ext.ImageHash.nearDupPairs(
      imageDedupFps(s, dir), "dhash", maxHamming = 3)
      .select(col("doc_a"), col("doc_b"))
    val aud = graft.ext.AudioHash.nearDupPairs(
      audioDedupFps(s, dir), maxHamming = 3)
      .select((col("doc_a") + MediaAudioOff).as("doc_a"),
        (col("doc_b") + MediaAudioOff).as("doc_b"))
    val vid = graft.ext.VideoHash.nearDupPairs(
      videoDedupFps(s, dir), maxHamming = 3)
      .select((col("doc_a") + MediaVideoOff).as("doc_a"),
        (col("doc_b") + MediaVideoOff).as("doc_b"))
    img.unionByName(aud).unionByName(vid)
  }

  /** DOC-space drop list from the media keep election: a doc appears
    * when ANY of its attached media (all three families key media by
    * the owning doc_id) lost its cluster's keep-min election. Bounded
    * by the media count — broadcastable by construction. */
  private def mediaDropDocs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.ext.Components.connectedAdaptive(
        mediaPairGraph(s, dir), "doc_a", "doc_b")
      .filter(col("node") =!= col("component"))
      .select((col("node") - when(col("node") >= MediaVideoOff,
          lit(MediaVideoOff))
        .when(col("node") >= MediaAudioOff, lit(MediaAudioOff))
        .otherwise(lit(0L))).as("doc_id"))
      .distinct()

  /** The image-dedup fingerprint replay (cells → comparisons → 63-bit
    * fp), shared by the q_image_* family — one source of truth for the
    * fingerprint semantics, like minhashLshOracle. CTE names take a
    * prefix so q_media_dedup_keep can splice all three modality
    * replays into one WITH block. */
  private def imageFpCtes(p: String = ""): String =
    s"""${p}ids AS (
           SELECT doc_id, (doc_id // 10) // 3 AS g, (doc_id // 10) % 3 AS m
           FROM documents WHERE doc_id % 10 = 0),
         ${p}grid AS (SELECT x, y FROM range(9) tx(x) CROSS JOIN range(8) ty(y)),
         ${p}draws AS (
           SELECT doc_id, g, m, x, y,
             ((strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 1, 1)) - 1) * 4096 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 2, 1)) - 1) * 256 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 3, 1)) - 1) * 16 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 4, 1)) - 1)) % 191 + 30 AS base
           FROM ${p}ids CROSS JOIN ${p}grid),
         ${p}b00 AS (SELECT doc_id, base AS v00 FROM ${p}draws WHERE x = 0 AND y = 0),
         ${p}b10 AS (SELECT doc_id, base AS v10 FROM ${p}draws WHERE x = 1 AND y = 0),
         ${p}cells AS (
           SELECT d.doc_id, d.x, d.y,
             CASE WHEN d.m = 2 AND d.x = 0 AND d.y = 0 THEN
               CASE WHEN b00.v00 < b10.v10 THEN 255 ELSE 0 END
             ELSE d.base + CASE WHEN d.m = 1 THEN 1 ELSE 0 END
             END AS v
           FROM ${p}draws d
           JOIN ${p}b00 b00 ON b00.doc_id = d.doc_id
           JOIN ${p}b10 b10 ON b10.doc_id = d.doc_id),
         ${p}bits AS (
           SELECT l.doc_id, l.y * 8 + l.x AS j,
                  CASE WHEN l.v < r.v THEN 1 ELSE 0 END AS b
           FROM ${p}cells l JOIN ${p}cells r
             ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
           WHERE l.x <= 7 AND NOT (l.x = 7 AND l.y = 7)),
         ${p}fp AS (
           SELECT doc_id,
                  CAST(sum(b * (CAST(1 AS BIGINT) << CAST(j AS INT)))
                       AS BIGINT) AS f
           FROM ${p}bits GROUP BY doc_id)"""

  /** The audio-dedup fingerprint replay (window amplitudes →
    * comparisons → 63-bit fp), shared by q_audio_dedup and
    * q_media_dedup_keep — window energy 8·a² is monotone in a > 0, so
    * `<` on amplitudes IS the contour bit. */
  private def audioFpCtes(p: String = ""): String =
    s"""${p}ids AS (
           SELECT doc_id, (doc_id // 10) // 3 AS g, (doc_id // 10) % 3 AS m
           FROM documents WHERE doc_id % 10 = 0),
         ${p}win AS (SELECT w FROM range(64) tw(w)),
         ${p}draws AS (
           SELECT doc_id, g, m, w,
             ((strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 1, 1)) - 1)
                * 4096 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 2, 1)) - 1)
                * 256 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 3, 1)) - 1)
                * 16 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 4, 1)) - 1))
             % 191 + 10 AS amp
           FROM ${p}ids CROSS JOIN ${p}win),
         ${p}a0 AS (SELECT doc_id, amp AS amp0 FROM ${p}draws WHERE w = 0),
         ${p}a1 AS (SELECT doc_id, amp AS amp1 FROM ${p}draws WHERE w = 1),
         ${p}amps AS (
           SELECT d.doc_id, d.w,
             CASE WHEN d.m = 2 AND d.w = 0 THEN
               CASE WHEN a0.amp0 < a1.amp1 THEN 250 ELSE 5 END
             ELSE d.amp * (CASE WHEN d.m = 1 THEN 2 ELSE 1 END)
             END AS a
           FROM ${p}draws d
           JOIN ${p}a0 a0 ON a0.doc_id = d.doc_id
           JOIN ${p}a1 a1 ON a1.doc_id = d.doc_id),
         ${p}bits AS (
           SELECT l.doc_id, l.w AS j,
                  CASE WHEN l.a < r.a THEN 1 ELSE 0 END AS b
           FROM ${p}amps l JOIN ${p}amps r
             ON r.doc_id = l.doc_id AND r.w = l.w + 1
           WHERE l.w <= 62),
         ${p}fp AS (
           SELECT doc_id,
                  CAST(sum(b * (CAST(1 AS BIGINT) << CAST(j AS INT)))
                       AS BIGINT) AS f
           FROM ${p}bits GROUP BY doc_id)"""

  /** The video-dedup fingerprint replay (frame levels → comparisons →
    * 63-bit fp), shared by q_video_dedup and q_media_dedup_keep —
    * solid-gray JPEG decodes within ±3 of its level, so with
    * ≥20-level gaps `<` on LEVELS is the decoded contour bit. */
  private def videoFpCtes(p: String = ""): String =
    s"""${p}ids AS (
           SELECT doc_id, (doc_id // 10) // 3 AS g, (doc_id // 10) % 3 AS m
           FROM documents WHERE doc_id % 10 = 0),
         ${p}win AS (SELECT w FROM range(64) tw(w)),
         ${p}draws AS (
           SELECT doc_id, g, m, w,
             ((strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 1, 1)) - 1)
                * 4096 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 2, 1)) - 1)
                * 256 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 3, 1)) - 1)
                * 16 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 4, 1)) - 1))
             % 10 * 20 + 20 AS lvl
           FROM ${p}ids CROSS JOIN ${p}win),
         ${p}l0 AS (SELECT doc_id, lvl AS lvl0 FROM ${p}draws WHERE w = 0),
         ${p}l1 AS (SELECT doc_id, lvl AS lvl1 FROM ${p}draws WHERE w = 1),
         ${p}lvls AS (
           SELECT d.doc_id, d.w,
             CASE WHEN d.m = 2 AND d.w = 0 THEN
               CASE WHEN l0.lvl0 < l1.lvl1 THEN 240 ELSE 0 END
             ELSE d.lvl + CASE WHEN d.m = 1 THEN 8 ELSE 0 END
             END AS v
           FROM ${p}draws d
           JOIN ${p}l0 l0 ON l0.doc_id = d.doc_id
           JOIN ${p}l1 l1 ON l1.doc_id = d.doc_id),
         ${p}bits AS (
           SELECT l.doc_id, l.w AS j,
                  CASE WHEN l.v < r.v THEN 1 ELSE 0 END AS b
           FROM ${p}lvls l JOIN ${p}lvls r
             ON r.doc_id = l.doc_id AND r.w = l.w + 1
           WHERE l.w <= 62),
         ${p}fp AS (
           SELECT doc_id,
                  CAST(sum(b * (CAST(1 AS BIGINT) << CAST(j AS INT)))
                       AS BIGINT) AS f
           FROM ${p}bits GROUP BY doc_id)"""

  /** The funnel gate CTEs (dw through gated: per-doc signals,
    * p1..p6 flags, keep-min dedup) — shared by q_corpus_funnel and
    * q_e2e_curation. Requires $qualityTCte earlier in the WITH. */
  // a def, not a val: it interpolates qualityFormulaSql, which is
  // declared LATER in this object — a val here would capture null
  // during initialization (measured: the oracle silently computed
  // `null AS quality` and zeroed every stage past 2)
  private def funnelGatedCtes: String =
    s"""dw AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
           FROM documents),
         ref AS (SELECT w FROM dw WHERE doc_id % 10 = 0),
         uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(w) AS w1 FROM ref) GROUP BY 1),
         bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS cb
                FROM (SELECT w[i] || ' ' || w[i+1] AS gram
                      FROM ref, UNNEST(range(1, len(w))) t(i)) GROUP BY 1),
         consts AS (SELECT CAST((SELECT count(*) FROM uni) AS BIGINT) AS v,
                           CAST((SELECT sum(cu) FROM uni) AS BIGINT) AS n),
         cand AS (SELECT doc_id, w FROM dw WHERE len(w) >= 1),
         ft AS (SELECT doc_id, CAST(1 AS BIGINT) AS toks,
                 CAST(floor((ln(COALESCE(cu, 0) + 1) - ln(n + v)) * 1000000)
                   AS BIGINT) AS t2
                FROM (SELECT doc_id, w[1] AS w1 FROM cand)
                LEFT JOIN uni USING (w1), consts),
         bg AS (SELECT doc_id, w1, gram, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS gram
                      FROM cand, UNNEST(range(1, len(w))) t(i))
                GROUP BY 1, 2, 3),
         bt AS (SELECT doc_id, cnt AS toks,
                 CAST(floor(cnt * (ln(COALESCE(cb, 0) + 1)
                                   - ln(COALESCE(cu, 0) + v)) * 1000000)
                   AS BIGINT) AS t2
                FROM bg LEFT JOIN bi USING (gram)
                        LEFT JOIN uni USING (w1), consts),
         ppl AS (SELECT doc_id,
                  CAST((-20000 * CAST(sum(t2) AS BIGINT)
                        + 1000000 * CAST(sum(toks) AS BIGINT))
                       // (2000000 * CAST(sum(toks) AS BIGINT))
                       AS DOUBLE) / 10000.0 AS nll
                 FROM (SELECT * FROM ft UNION ALL SELECT * FROM bt)
                 GROUP BY 1),
         sig AS (SELECT d.doc_id, d.lang, t.w AS toks,
                  $qualityFormulaSql AS quality,
                  CAST(floor((2*(len(string_split_regex(lower(trim(d.text)), '\\s+'))
                       - len(list_distinct(string_split_regex(lower(trim(d.text)), '\\s+'))))*10000
                       + greatest(len(string_split_regex(lower(trim(d.text)), '\\s+')), 1))
                      / (2*greatest(len(string_split_regex(lower(trim(d.text)), '\\s+')), 1)))
                    AS DOUBLE) / 10000 AS dup_frac,
                  md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp,
                  ppl.nll
                 FROM documents d JOIN t ON d.doc_id = t.doc_id
                 LEFT JOIN ppl ON d.doc_id = ppl.doc_id),
         flag AS (SELECT *,
                  (lang IN ('en', 'de', 'fr')) AS p1,
                  (p1 AND toks BETWEEN 20 AND 90) AS p2,
                  (p2 AND quality >= 0.55) AS p3,
                  (p3 AND dup_frac <= 0.65) AS p4,
                  (p4 AND COALESCE(nll <= 3.6, false)) AS p5
                 FROM sig),
         keepmin AS (SELECT fp, min(doc_id) AS keep_id FROM flag
                     WHERE p5 GROUP BY 1),
         gated AS (SELECT flag.*,
                    (p5 AND flag.doc_id = keep_id) AS p6
                   FROM flag LEFT JOIN keepmin USING (fp))"""

  private val closureOracle: String =
    """sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM sym
                         UNION
                         SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
                         WHERE s.b <> r.a),
         comp AS (SELECT a AS node, least(a, min(b)) AS cluster_id
                  FROM reach GROUP BY a)"""

  /** Quality-score building blocks (the integer-exact formula of
    * TextAnalysis.qualityScore) — shared by q_quality_score and
    * q_dedup_keep. `qualityTCte` yields `t(doc_id, w, c, p, m)`;
    * `qualityFormulaSql` is the half-up-rounded score over those. */
  private val qualityTCte: String =
    """t AS (SELECT doc_id,
                CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS w,
                CAST(strlen(text) AS BIGINT) AS c,
                CAST(strlen(text) - strlen(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS p,
                CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS m
              FROM documents)"""
  private val qualityFormulaSql: String =
    """CAST(floor((2*(4*least(w,50)*c*w + 150*(c-p)*w + 150*m*c)*10000
                            + 500*c*w)
                           / (2*500*c*w)) AS DOUBLE) / 10000"""

  /** The exact repeated-span discovery, replayed in SQL — shared by
    * q_exact_spans and q_span_cuts (which folds the same spans into
    * per-doc cut intervals). */
  private val exactSpansOracle: String =
    """WITH words AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 md5(array_to_string(w[i:i+7], ' ')) AS g
               FROM words, UNNEST(range(1, len(w) - 6)) t(i)
               WHERE len(w) >= 8),
         m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
               FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id),
         isl AS (SELECT doc_a, doc_b, diag, pos_a, pos_b,
                   pos_a - row_number()
                     OVER (PARTITION BY doc_a, doc_b, diag
                           ORDER BY pos_a) AS isl
                 FROM m)
         SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS start_a,
                CAST(min(pos_b) AS BIGINT) AS start_b,
                CAST(count(*) + 7 AS BIGINT) AS len_tokens
         FROM isl GROUP BY doc_a, doc_b, diag, isl""".stripMargin

  /** Shared by q_minhash_lsh and q_dedup_clusters (which closes over the
    * same pair graph) — one source of truth for the pair semantics. */
  private val minhashLshOracle: String =
    """WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         sig AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS sg
                 FROM sh, UNNEST(range(12)) t(h) GROUP BY 1, 2),
         bands AS (SELECT doc_id, CAST(floor(h/4) AS INT) AS band,
                          md5(string_agg(h||':'||sg, '|' ORDER BY h||':'||sg)) AS bsig
                   FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared between q_bm25 (full corpus) and q_bm25_indexed (matching
    * docs only — the serving equivalence gate). */
  private val bm25Oracle: String =
    """WITH w AS (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS ws
                FROM documents),
           base AS (SELECT doc_id, len(ws) AS dl,
                  len(list_filter(ws, x -> x = 'spark')) AS tf_0,
                  len(list_filter(ws, x -> x = 'table')) AS tf_1,
                  len(list_filter(ws, x -> x = 'join'))  AS tf_2
                FROM w),
           stats AS (SELECT
                  CAST(count(*) AS DOUBLE) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) AS sum_dl,
                  CAST(count(CASE WHEN tf_0 > 0 THEN 1 END) AS DOUBLE) AS df_0,
                  CAST(count(CASE WHEN tf_1 > 0 THEN 1 END) AS DOUBLE) AS df_1,
                  CAST(count(CASE WHEN tf_2 > 0 THEN 1 END) AS DOUBLE) AS df_2
                FROM base)
           SELECT doc_id, dl, tf_0, tf_1, tf_2,
                  round(
                    ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
                      * (CAST(tf_0 AS DOUBLE) * 2.2)
                      / (CAST(tf_0 AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                  + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
                      * (CAST(tf_1 AS DOUBLE) * 2.2)
                      / (CAST(tf_1 AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                  + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
                      * (CAST(tf_2 AS DOUBLE) * 2.2)
                      / (CAST(tf_2 AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs)))),
                  4) AS bm25
           FROM base, stats"""

  def oracleSql: Map[String, String] = Map(
    "q_flow_rollup" ->
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
         LIMIT 100""",

    "q_warehouse_rollup" ->
      """SELECT event_type,
         count(event_id) AS n_events,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         max(user_id) AS max_user
         FROM (SELECT event_id, user_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE cents >= 500
         GROUP BY event_type""",

    "q_warehouse_partial" ->
      """SELECT event_type,
         count(event_id) AS n_events,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         max(user_id) AS max_user
         FROM (SELECT event_id, user_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE cents >= 500
         GROUP BY event_type""",

    "q_warehouse_distinct" ->
      """SELECT event_type,
         count(DISTINCT user_id) AS n_users
         FROM (SELECT user_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE cents >= 500
         GROUP BY event_type""",

    "q_warehouse_scan" ->
      """SELECT event_id, cents
         FROM (SELECT event_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE event_type = 'click' AND cents >= 1000""",

    "q_warehouse_topn" ->
      """SELECT event_id, cents
         FROM (SELECT event_id, event_type,
                      CAST(trunc(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 10 = 0) w
         WHERE event_type = 'view'
         ORDER BY cents DESC, event_id
         LIMIT 20""",

    "q_metric_profile" ->
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.99), 4) AS p99,
         CAST(count(*) AS DOUBLE) / 300.0 AS rps,
         CAST(count(*) FILTER (WHERE value >= 30.0) AS DOUBLE) / count(*) AS error_rate
         FROM events GROUP BY event_type""",

    "q_active_connections" ->
      """SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS active_connections
         FROM events WHERE event_type = 'click' GROUP BY user_id""",

    "q_throttle_flags" ->
      """SELECT user_id,
         bool_or(event_type = 'error' AND value > 50.0) AS err_throttled,
         bool_or(event_type = 'purchase' AND value > 80.0) AS buy_throttled,
         bool_or(value > 95.0) AS any_throttled
         FROM events GROUP BY user_id""",

    "q_region_revenue" ->
      """SELECT r_name,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)""",

    // the Bloom prefilter is an internal pruning detail — exactness is
    // restored by the residual join, so the oracle is the PLAIN semi/
    // anti join; any false-positive leak hash-mismatches
    "q_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag""",

    "q_bloom_anti" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                  WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag""",

    "q_anti_gc" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""",

    "q_env_join" ->
      """SELECT s_name, count(*) AS n_refs,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events JOIN supplier
           ON CAST(json_extract_string(props, '$.k') AS BIGINT) = s_suppkey
         GROUP BY s_name""",

    "q_last_value" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
                epoch_us(ts) AS last_ts_us
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1""",

    "q_degree" ->
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
         LEFT JOIN in_d ON s_suppkey = in_d.dst""",

    "q_collect_set" ->
      """SELECT user_id,
         string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_set
         FROM events GROUP BY user_id""",

    "q_merge_upsert" ->
      """SELECT COALESCE(i.c_custkey, e.c_custkey) AS c_custkey,
                COALESCE(i.c_name, e.c_name) AS c_name,
                COALESCE(i.c_acctbal, e.c_acctbal) AS c_acctbal
         FROM customer e
         FULL OUTER JOIN
           (SELECT o_custkey AS c_custkey, CAST(NULL AS VARCHAR) AS c_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS c_acctbal
            FROM orders GROUP BY o_custkey) i
         ON e.c_custkey = i.c_custkey""",

    "q_map_props" ->
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
         WHERE COALESCE(i.v, e.v) IS NOT NULL""",

    "q_two_phase_health" ->
      """SELECT c.c_custkey,
                COALESCE(a.n_alarms, 0) AS n_alarms,
                CASE WHEN a.n_alarms IS NOT NULL THEN 'degraded'
                     ELSE 'healthy' END AS health_status
         FROM customer c
         LEFT JOIN (SELECT o_custkey, count(*) AS n_alarms FROM orders
                    WHERE o_orderstatus = 'F' GROUP BY o_custkey) a
         ON c.c_custkey = a.o_custkey""",

    // end-to-end §3.2: snapshot drives the surviving rows (GC); health is
    // reset-then-degrade; first_seen preserved on match, runStamp on create
    "q_topology" -> topologyOracle,

    // the run report recounts the SAME newstate the q_topology oracle
    // produces, keyed against the prior store
    "q_topology_stats" ->
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
           (SELECT count(*) FROM newstate) AS n_final""",

    // the new state's oracle is the SAME topology SQL; old state is the
    // pre-run store (all healthy). Classification mirrors SnapshotDiff.
    "q_snapshot_diff" ->
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
            OR o.health_status <> n.health_status""",

    // end-to-end §3.3: the refs are known by construction (same synthesized
    // template as q_ref_extract); the arn ref has no dim row and drops
    "q_declared_deps" ->
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
         JOIN dim dp ON r.dst_logical = dp.logical_id""",

    // salted ≡ plain: the oracle is the single-phase aggregation
    "q_skew_agg" ->
      """SELECT event_type,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
                count(*) AS n_events
         FROM events GROUP BY event_type""",

    // The oracle collapses "first valid dimension in order" into the
    // equivalent CASE precedence (dim 1 is never mapped, so precedence is
    // CustomerId then SupplierId).
    "q_alarm_dispatch" ->
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
         FROM u GROUP BY 1, 2""",

    "q_asof" ->
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
         ON ev.user_id = ord.user_id AND ev.event_date >= ord.order_date""",

    // tolerance variant: DuckDB date_diff in days; a stale match
    // (older than 7 days) nulls the WHOLE right row, like the Spark side
    "q_asof_tol" ->
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
         FROM j""",

    "q_range_join" ->
      """WITH bands AS (SELECT n_nationkey AS band_id,
                               CAST(n_nationkey AS DOUBLE) * 3.5 AS lo,
                               CAST(n_nationkey AS DOUBLE) * 3.5 + 12.0 AS hi
                        FROM nation)
         SELECT event_id, band_id, value
         FROM events JOIN bands ON value >= lo AND value < hi""",

    "q_vpc_fallback" ->
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
               WHERE monitor_id NOT IN (SELECT monitor_id FROM vpcs)) m""",

    "q_ipv4" ->
      """SELECT event_id,
         ((ip >> 24) & 255) || '.' || ((ip >> 16) & 255) || '.' ||
         ((ip >> 8) & 255) || '.' || (ip & 255) AS ip_str
         FROM (SELECT event_id,
                      (event_id * 2654435761) % 4294967296 AS ip
               FROM events) t""",

    "q_split_tail" ->
      """SELECT regexp_extract(p_type, '([^ ]+)$', 1) AS tail,
                count(*) AS n_parts,
                CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM part GROUP BY 1""",

    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                count(*) AS n_events
         FROM events GROUP BY 1""",

    "q_union_except" ->
      """(SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
          FROM events WHERE event_type = 'click'
          UNION
          SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
          FROM events WHERE event_type = 'purchase')
         EXCEPT
         SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
         FROM events WHERE event_type = 'error'""",

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders) t
         WHERE rk <= 3""",

    "q_rollup" ->
      """SELECT COALESCE(o_orderstatus, '(all)') AS status,
                COALESCE(o_orderpriority, '(all)') AS priority,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",

    "q_cube" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS rflag,
                COALESCE(l_linestatus, '(all)') AS lstatus,
                count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "q_pivot" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id""",

    "q_ref_extract" ->
      """SELECT event_id,
                array_to_string(list_sort([
                  'Svc' || CAST(user_id AS VARCHAR),
                  event_type,
                  'arn:aws:states:r:1:fn' || json_extract_string(props, '$.k')
                ]), ',') AS refs
         FROM events""",

    "q_session_window" ->
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
         FROM s GROUP BY user_id, sid""",

    "q_time_window" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    "q_derived_cols" ->
      """SELECT c_custkey,
                upper(substr(lower(c_mktsegment), 1, 1)) ||
                  lower(substr(lower(c_mktsegment), 2)) AS tier,
                CASE WHEN c_acctbal < 0 THEN 'delinquent'
                     WHEN c_acctbal > 9000 THEN 'premium'
                     ELSE 'standard' END AS account_class,
                COALESCE(nullif(c_mktsegment, ''), 'UNKNOWN') AS segment
         FROM customer""",

    "q_time_math" ->
      """SELECT event_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
                strftime(ts + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS ts_plus_day,
                CAST(floor((1706659200 - floor(epoch(ts))) / 60.0) AS BIGINT) AS age_minutes
         FROM events""",

    "q_multi_key_join" ->
      """SELECT o_orderstatus,
                count(*) AS n_first_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_first_price
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey AND l_linenumber = 1
         GROUP BY o_orderstatus""",

    "q_substring_join" ->
      """SELECT pat, count(*) AS n_parts
         FROM part
         JOIN (VALUES ('green'),('blue'),('red'),('metallic'),('polished')) p(pat)
           ON contains(p_name, pat)
         GROUP BY pat""",

    "q_filtered_delete" ->
      """SELECT event_type, count(*) AS n_kept
         FROM events
         WHERE NOT (event_type = 'error' AND value < 5.0)
         GROUP BY event_type""",

    "q_distinct_count" ->
      """SELECT event_type,
                count(DISTINCT user_id) AS n_users,
                count(DISTINCT json_extract_string(props, '$.k')) AS n_keys
         FROM events GROUP BY event_type""",

    "q_explode" ->
      """SELECT word, count(*) AS n, count(DISTINCT p_partkey) AS n_parts
         FROM (SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word
               FROM part)
         GROUP BY word""",

    "q_two_hop" ->
      """WITH e1 AS (SELECT 's'||l_suppkey AS a, 'p'||l_partkey AS m
                     FROM lineitem WHERE 's'||l_suppkey IN ('s1','s2','s3')),
         e2 AS (SELECT 'p'||l_partkey AS m, 'o'||l_orderkey AS c FROM lineitem)
         SELECT a AS a_name, count(DISTINCT e1.m) AS n_parts,
                count(DISTINCT c) AS n_orders
         FROM e1 JOIN e2 ON e1.m = e2.m
         GROUP BY a""",

    "q_flow_pipeline" ->
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
         FROM r JOIN customer ON user_id = c_custkey""",

    "q_token_count" ->
      """SELECT doc_id,
                len(string_split_regex(lower(trim(text)), '\s+')) AS ws_tokens,
                len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe_tokens
         FROM documents""",

    // expression tree mirrors Relevance.bm25 verbatim (same association
    // order — double + and * are order-sensitive); ln args are exact
    // integer-derived doubles, round(,4) absorbs sub-ulp libm drift
    "q_bm25" -> bm25Oracle,

    // the indexed serving path must reproduce the scan scorer's exact
    // floats on every doc a query term touches — same oracle, restricted
    // to matching docs (the index never reads the rest)
    "q_bm25_indexed" ->
      s"""SELECT * FROM ($bm25Oracle)
         WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0""",

    // delete mask: full-corpus statistics (the subquery is the SAME
    // bm25 replay), deleted ids excluded from the rows only — the
    // stale-stats Lucene contract in one WHERE clause
    "q_bm25_delete" ->
      s"""SELECT * FROM ($bm25Oracle)
         WHERE (tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0)
           AND doc_id % 7 <> 0""",

    // append-then-serve ≡ build-on-everything: literally the same oracle
    // — a doubled posting, stale df, or missed stats delta anywhere in
    // the incremental path hash-mismatches
    "q_bm25_append" ->
      s"""SELECT * FROM ($bm25Oracle)
         WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0""",

    // rank over the ROUNDED score (+ word tie-break). Residual parity
    // risk, accepted with eyes open: ln may differ by an ulp between
    // libms, which flips the 4th decimal only within an ulp of a .xxxx5
    // boundary (same accepted class as q_bm25); verified hash-identical
    // at all three SFs on this corpus
    "q_keywords" ->
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT doc_id, word, tf,
                round(CAST(tf AS DOUBLE) *
                      ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                         / CAST(df AS DOUBLE)), 4) AS tfidf
              FROM tf JOIN df USING (word)),
         ranked AS (SELECT doc_id, word, tf, tfidf,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, word) AS rk
              FROM scored)
         SELECT doc_id, word, tf, tfidf, rk FROM ranked WHERE rk <= 5""",

    // PMI expression tree mirrored VERBATIM (casts + left-to-right
    // association) so the IEEE chain and round-4 are bit-identical
    "q_pmi" ->
      """WITH d AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
                    FROM documents),
         tok AS (SELECT unnest(ws) AS word FROM d),
         uni AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
         t AS (SELECT count(*) AS t FROM tok),
         bg AS (SELECT ws[i] AS x, ws[i + 1] AS y
                FROM d, UNNEST(range(1, len(ws))) r(i)),
         b AS (SELECT count(*) AS b FROM bg),
         bi AS (SELECT x, y, count(*) AS cxy FROM bg
                GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT bi.x, bi.y, bi.cxy,
                round(ln((CAST(cxy AS DOUBLE)
                          * (CAST((SELECT t FROM t) AS DOUBLE)
                             * CAST((SELECT t FROM t) AS DOUBLE)))
                         / (CAST((SELECT b FROM b) AS DOUBLE)
                            * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))),
                      4) + 0 AS pmi
         FROM bi JOIN uni ux ON bi.x = ux.word
                 JOIN uni uy ON bi.y = uy.word""",

    // exact BIGINT group sums feed a mirrored IEEE chain; min-max uses
    // the integer half-up formulation (engine-exact at .xxxx5)
    "q_zscore" ->
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
         WHERE l_orderkey <= 2000""",

    // quantile_cont ≡ Spark's percentile (linear interpolation); bounds
    // rounded to 4 dp BEFORE the clip so the comparison runs on doubles
    // both engines hold bit-identically
    "q_winsorize" ->
      """WITH s AS (SELECT event_id, event_type, value,
             round(quantile_cont(value, 0.05)
                   OVER (PARTITION BY event_type), 4) AS p_lo,
             round(quantile_cont(value, 0.95)
                   OVER (PARTITION BY event_type), 4) AS p_hi
           FROM events)
         SELECT event_id, event_type, value, p_lo, p_hi,
                least(greatest(value, p_lo), p_hi) AS v_clip
         FROM s WHERE event_id <= 2000""",

    // ANSI ntile under the same (value, event_id) total order; the slice
    // filter applies AFTER the window, as in the operator
    "q_bin_depth" ->
      """WITH s AS (SELECT event_id, event_type, value,
             CAST(ntile(8) OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS BIGINT) AS bin
           FROM events)
         SELECT event_id, event_type, value, bin
         FROM s WHERE event_id <= 2000""",

    // same clamp-into-edge-bins arithmetic: floor on doubles, cast, clamp
    "q_histogram" ->
      """WITH b AS (SELECT event_type,
             least(19, greatest(0,
               CAST(floor((value - 0.0) / 25.0) AS INTEGER))) AS bin
           FROM events)
         SELECT event_type, bin, count(*) AS n,
                CAST(0.0 + bin * 25.0 AS DOUBLE) AS bin_lo,
                CAST(0.0 + (bin + 1) * 25.0 AS DOUBLE) AS bin_hi
         FROM b GROUP BY event_type, bin""",

    // one named window per user under the (ts, event_id) total order;
    // rolling sum through DECIMAL(18,2), epoch seconds via the
    // floor(epoch(ts)) ≡ unix_timestamp identity
    "q_time_features" ->
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
         FROM s WHERE event_id <= 2000""",

    // chr(769) = U+0301 COMBINING ACUTE — the same decomposed prefix the
    // Spark side carries as a source literal; nfc_normalize composes it
    "q_nfc" ->
      """WITH d AS (SELECT doc_id,
             're' || chr(769) || 'sume' || chr(769) || ' ' || text AS dirty
           FROM documents)
         SELECT doc_id, nfc_normalize(dirty) AS norm_text,
                length(dirty) AS len_raw,
                length(nfc_normalize(dirty)) AS len_norm
         FROM d""",

    // ONE from-scratch aggregate — the incremental path must be
    // indistinguishable from it (the algebraic-merge identity)
    "q_incr_agg" ->
      """SELECT event_type, count(value) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
                min(value) AS min_v, max(value) AS max_v,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  / count(value) AS avg_v
         FROM events GROUP BY 1""",

    // grid + observations through the SAME (ts, obs DESC, tie) ordered
    // carry-forward window as the operator; make_timestamp(epoch_us(ts))
    // reproduces Spark's ns→µs floor conversion exactly
    "q_resample" ->
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
         FROM f WHERE obs = 0""",

    // the same 5-step spread-bits magic-mask chain, one CTE per step;
    // decimal literals are the 0x0000FFFF…/0x5555… masks
    "q_zorder" ->
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
         SELECT event_id, user_id, vb, (a | (b << 1)) AS z FROM s5""",

    // rule names mirror the operator's generated labels verbatim
    "q_expectations" ->
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
         SELECT rule, violations, violations = 0 AS pass FROM r""",

    // per-batch audit + all-or-nothing routing: rule labels verbatim,
    // decision a window bool_and over the group's rules
    "q_quality_gate" ->
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
         FROM r""",

    // calendar-date truncation + integer day arithmetic, exact in both
    // engines (q_asof's DATE identity)
    "q_cohort" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
                    FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
         SELECT cohort_date,
                CAST(date_diff('day', cohort_date, d) AS BIGINT) AS day_offset,
                count(*) AS n_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2""",

    // DISTINCT baskets first (duplicate items count once), id-ordered
    // pair join, halfUp4 lift like quality_score
    "q_lift" ->
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
                JOIN s sb ON p.item_b = sb.i""",

    // lag under the (ts, event_id) total order; halfUp4 probabilities
    "q_transitions" ->
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
         FROM s""",

    // the same decimal-accumulated norm as q_ann_brute; the quantizer's
    // half-way rule is the explicit floor(x + 0.5), not round()
    "q_embed_quant" ->
      """WITH e AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS am
           FROM embeddings),
         n AS (SELECT vec_id,
             CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
                           * CAST(embedding[i] AS DOUBLE)
                           AS DECIMAL(30,15))) AS DOUBLE) AS nq
           FROM e, UNNEST(range(1, len(embedding) + 1)) t(i)
           GROUP BY 1)
         SELECT e.vec_id,
                CASE WHEN embedding IS NULL THEN NULL
                     ELSE round(sqrt(coalesce(nq, 0)), 4) END AS l2,
                am AS abs_max,
                CASE WHEN am > 0 THEN array_to_string(list_transform(embedding,
                  x -> CAST(CAST(floor(CAST(x AS DOUBLE) / am * 127.0 + 0.5)
                            AS INTEGER) AS VARCHAR)), ',') END AS qv
         FROM e LEFT JOIN n ON e.vec_id = n.vec_id""",

    // same 8-nibble md5 rank order as the operator; row_number under a
    // total order, exact top-50 per type
    "q_sample_n" ->
      """WITH b AS (SELECT event_id, event_type,
                 (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 8, 1)) - 1) AS bucket
               FROM events),
         r AS (SELECT event_id, event_type,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY bucket, event_id) AS rk
               FROM b)
         SELECT event_id, event_type, rk FROM r WHERE rk <= 50""",

    // same sign-bucket arithmetic as the q_ann_lsh oracle; same md5 rank
    // order as q_sample_n (fixed-length lowercase hex sorts identically
    // to its numeric value, so the 8-char prefix IS the rank key)
    "q_diverse_sample" ->
      """WITH b AS (SELECT vec_id,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
           FROM embeddings),
         r AS (SELECT vec_id, bucket,
                 row_number() OVER (PARTITION BY bucket
                   ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                            vec_id) AS rk
               FROM b)
         SELECT vec_id, bucket, rk FROM r WHERE rk <= 2""",

    // same md5 rank order as the operator — fixed-length lowercase hex
    // sorts identically to its numeric value, so the 8-nibble prefix
    // string IS the rank key; same ws-token count as q_token_count
    "q_token_budget" ->
      """WITH d AS (SELECT doc_id, lang,
             CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                  AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
           FROM d)
         SELECT doc_id, lang, n_tokens, tokens_before
         FROM c
         WHERE tokens_before < CASE lang WHEN 'en' THEN 300
                                         WHEN 'de' THEN 150
                                         WHEN 'es' THEN 150
                                         WHEN 'fr' THEN 150
                                         WHEN 'zh' THEN 100 ELSE 0 END""",

    // mirrors NgramLm.perplexity: same ln-term shapes (integer args,
    // left-assoc), floor(·1e6) BIGINT quantization, first token scored
    // by the unigram model, bigram terms conditioned on w1's count
    "q_ngram_lm" ->
      """WITH dw AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         ref AS (SELECT w FROM dw WHERE doc_id % 10 = 0),
         uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(w) AS w1 FROM ref) GROUP BY 1),
         bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS cb
                FROM (SELECT w[i] || ' ' || w[i+1] AS gram
                      FROM ref, UNNEST(range(1, len(w))) t(i)) GROUP BY 1),
         consts AS (SELECT CAST((SELECT count(*) FROM uni) AS BIGINT) AS v,
                           CAST((SELECT sum(cu) FROM uni) AS BIGINT) AS n),
         cand AS (SELECT doc_id, w FROM dw
                  WHERE doc_id % 10 <> 0 AND len(w) >= 1),
         ft AS (SELECT doc_id, CAST(1 AS BIGINT) AS toks,
                 CAST(floor((ln(COALESCE(cu, 0) + 1) - ln(n + v)) * 1000000)
                   AS BIGINT) AS t
                FROM (SELECT doc_id, w[1] AS w1 FROM cand)
                LEFT JOIN uni USING (w1), consts),
         bg AS (SELECT doc_id, w1, gram, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS gram
                      FROM cand, UNNEST(range(1, len(w))) t(i))
                GROUP BY 1, 2, 3),
         bt AS (SELECT doc_id, cnt AS toks,
                 CAST(floor(cnt * (ln(COALESCE(cb, 0) + 1)
                                   - ln(COALESCE(cu, 0) + v)) * 1000000)
                   AS BIGINT) AS t
                FROM bg LEFT JOIN bi USING (gram)
                        LEFT JOIN uni USING (w1), consts),
         s AS (SELECT doc_id, CAST(sum(toks) AS BIGINT) AS n_tokens,
                      CAST(sum(t) AS BIGINT) AS sq
               FROM (SELECT * FROM ft UNION ALL SELECT * FROM bt)
               GROUP BY 1)
         SELECT doc_id, n_tokens,
                CAST((-20000 * sq + 1000000 * n_tokens)
                     // (2000000 * n_tokens) AS DOUBLE) / 10000.0 AS nll
         FROM s""",

    // mirrors Dsir.weights exactly: same 4-nibble md5 bucket arithmetic
    // as q_split, same ln-term formula SHAPE (left-assoc, integer args),
    // same floor(·1e6) BIGINT quantization as q_entropy; totals cast out
    // of HUGEINT before the ln
    "q_dsir" ->
      """WITH dw AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         g AS (SELECT doc_id, unnest(w) AS g FROM dw
               UNION ALL
               SELECT doc_id, w[i] || ' ' || w[i+1] AS g
               FROM dw, UNNEST(range(1, len(w))) t(i)),
         b AS (SELECT doc_id,
                ((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1)) % 256
                 AS bucket
               FROM g),
         feat AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
         rfeat AS (SELECT * FROM feat WHERE doc_id % 10 <> 0),
         tfeat AS (SELECT * FROM feat WHERE doc_id % 10 = 0),
         rdist AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc
                   FROM rfeat GROUP BY 1),
         tdist AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
                   FROM tfeat GROUP BY 1),
         tot AS (SELECT CAST((SELECT sum(rc) FROM rdist) AS BIGINT) AS rtot,
                        CAST((SELECT sum(tc) FROM tdist) AS BIGINT) AS ttot),
         terms AS (SELECT doc_id, cnt,
                CAST(floor(cnt * (ln(COALESCE(tc, 0) + 1)
                                  - ln(ttot + 256)
                                  - ln(rc + 1)
                                  + ln(rtot + 256)) * 1000000) AS BIGINT) AS t
               FROM rfeat JOIN rdist USING (bucket)
                          LEFT JOIN tdist USING (bucket), tot),
         s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feat,
                      CAST(sum(t) AS BIGINT) AS sq
               FROM terms GROUP BY 1)
         SELECT doc_id, n_feat,
                round(CAST(sq AS DOUBLE) / 1000000.0, 4) + 0.0 AS logw
         FROM s ORDER BY sq DESC, doc_id LIMIT 200""",

    // ANSI percent_rank under the same total order; NULLS FIRST spelled
    // out (DuckDB's ASC default is nulls-LAST, Spark's is nulls-first)
    "q_rank_norm" ->
      """WITH s AS (SELECT event_id, event_type, value,
             percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY value NULLS FIRST,
                                           event_id NULLS FIRST) AS pr
           FROM events)
         SELECT event_id, event_type, value, pr
         FROM s WHERE event_id <= 2000""",

    // the exact-integer nucleus rule: kept iff 10*(cum - cnt) < 9*total
    // under (cnt DESC, word) — plus the half-up share like quality_score
    "q_top_share" ->
      """WITH w AS (SELECT source,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         cw AS (SELECT source, word, count(*) AS cnt FROM w
                WHERE word <> '' GROUP BY 1, 2),
         x AS (SELECT source, word, cnt,
                CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS total,
                CAST(sum(cnt) OVER (PARTITION BY source
                  ORDER BY cnt DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
               FROM cw)
         SELECT source, word, cnt, total, cum,
                CAST(floor((2*cnt*10000 + total) / (2*total)) AS DOUBLE)
                  / 10000 AS share_4dp
         FROM x WHERE 10 * (cum - cnt) < 9 * total""",

    // same 1e-6 quantization before the sum: per-word log2 terms floor
    // to BIGINTs, so the Σ is exact in both engines regardless of order.
    // ln(x)/ln(2), NOT log2(): Spark's LOG2 computes Math.log(x)/
    // Math.log(2) while DuckDB's log2() is libm log2 — measured to
    // differ by 1 ulp on some integer inputs, which floor() would
    // amplify into an off-by-one sq. ln ≡ ln is the BM25-proven identity.
    "q_entropy" ->
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents),
         c AS (SELECT doc_id, w, count(*) AS c FROM w
               WHERE w <> '' GROUP BY 1, 2),
         s AS (SELECT doc_id,
                CAST(sum(CAST(floor(c * (ln(c) / ln(2)) * 1000000) AS BIGINT))
                  AS BIGINT) AS sq,
                CAST(sum(c) AS BIGINT) AS n_tokens
               FROM c GROUP BY 1)
         SELECT doc_id, n_tokens,
                round(ln(n_tokens) / ln(2)
                      - (CAST(sq AS DOUBLE) / 1000000.0) / n_tokens, 4) + 0
                  AS entropy
         FROM s""",

    // same 8-nibble md5 bucket arithmetic as q_split (4 nibbles), item
    // domain from the part table, self-collisions dropped
    "q_neg_sample" ->
      """WITH mx AS (SELECT max(p_partkey) AS m FROM part),
         p AS (SELECT l_orderkey AS entity, l_partkey AS item
               FROM lineitem WHERE l_orderkey <= 6000),
         x AS (SELECT entity, item, j,
                      md5(concat_ws(':', entity, item, j)) AS h
               FROM p, (SELECT unnest(range(3)) AS j)),
         b AS (SELECT entity, item, j,
                 (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) AS bucket
               FROM x)
         SELECT entity, item, j, bucket % (SELECT m FROM mx) + 1 AS neg_item
         FROM b WHERE bucket % (SELECT m FROM mx) + 1 <> item""",

    // staged CTEs mirror the ordered-rule contract: each rule counts on
    // the text as it stood when it ran (t0 → t1 → t2)
    "q_redact" ->
      """WITH d0 AS (SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com host 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.'
                     || CAST(doc_id % 97 AS VARCHAR)
                     || ' tel 555-867-5309' AS t0
              FROM documents),
         d1 AS (SELECT doc_id, t0,
                regexp_replace(t0, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                               '<EMAIL>', 'g') AS t1 FROM d0),
         d2 AS (SELECT doc_id, t0, t1,
                regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                               '<IP>', 'g') AS t2 FROM d1)
         SELECT doc_id,
                regexp_replace(t2,
                  '(\+?1[-. ])?(\(\d{3}\) ?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b',
                  '<PHONE>', 'g') AS redacted,
                len(regexp_extract_all(t0,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
                len(regexp_extract_all(t1,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
                len(regexp_extract_all(t2,
                  '(\+?1[-. ])?(\(\d{3}\) ?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b'))
                  AS n_phone
         FROM d2""",

    // bigram = word || lead(word) over doc position (unnest zips with
    // generate_subscripts); fractions use the integer half-up formulation
    "q_repetition" ->
      """WITH d AS (SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
         base AS (SELECT doc_id, len(ws) AS n_words,
                len(list_distinct(ws)) AS n_distinct FROM d),
         w AS (SELECT doc_id, unnest(ws) AS word,
                generate_subscripts(ws, 1) AS pos FROM d),
         b AS (SELECT doc_id, word || ' ' ||
                lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
              FROM w),
         c AS (SELECT doc_id, bigram, count(*) AS n_occ FROM b
              WHERE bigram IS NOT NULL GROUP BY doc_id, bigram),
         top AS (SELECT doc_id, bigram AS top_bigram, n_occ,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n_occ DESC, bigram) AS rk
              FROM c)
         SELECT base.doc_id,
                floor((2*(n_words - n_distinct)*10000 + greatest(n_words, 1))
                      / (2*greatest(n_words, 1))) / 10000.0 AS dup_word_frac,
                top_bigram,
                coalesce(floor((2*n_occ*10000 + greatest(n_words - 1, 1))
                      / (2*greatest(n_words - 1, 1))) / 10000.0, 0.0)
                  AS top_bigram_frac
         FROM base LEFT JOIN (SELECT * FROM top WHERE rk = 1) t
           USING (doc_id)""",

    "q_contamination" ->
      """WITH cw AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
                     FROM documents WHERE doc_id % 10 <> 0),
         vocab AS (SELECT DISTINCT w[i]||' '||w[i+1]||' '||w[i+2] AS s
                   FROM cw, UNNEST(range(1, len(w)-1)) t(i)),
         pw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                FROM documents WHERE doc_id % 10 = 0),
         ps AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM pw, UNNEST(range(1, len(w)-1)) t(i)),
         hits AS (SELECT doc_id, count(*) AS n_hit FROM ps
                  WHERE s IN (SELECT s FROM vocab) GROUP BY 1),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM ps GROUP BY 1)
         SELECT sizes.doc_id, n_sh, COALESCE(n_hit, 0) AS n_hit,
                round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_sh, 4) AS containment
         FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id""",

    "q_pack" ->
      """WITH d AS (SELECT doc_id, lang,
                len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
              FROM documents),
         c AS (SELECT lang, doc_id, n_tokens,
                CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
               FROM d)
         SELECT lang, doc_id, n_tokens,
                CAST(floor(start_tok / 256.0) AS BIGINT) AS pack_id,
                start_tok % 256 AS pack_offset
         FROM c""",

    // split boundaries: floor(0.8*65536)=52428, floor(0.9*65536)=58982;
    // bucket = first 4 md5 nibbles (Spark computes the same value via conv)
    "q_split" ->
      """WITH b AS (SELECT doc_id,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents)
         SELECT doc_id,
                CASE WHEN bucket < 52428 THEN 'train'
                     WHEN bucket < 58982 THEN 'val'
                     ELSE 'test' END AS split
         FROM b""",

    // composes the proven oracle fragments: quality t-CTE + half-up
    // formula, the q_ngram_lm LM CTEs (candidates = ALL docs here), the
    // fingerprint normalization, and DuckDB lateral column references
    // for the sequential gates; HUGEINT sums cast to BIGINT
    "q_corpus_funnel" ->
      s"""WITH $qualityTCte,
         $funnelGatedCtes,
         wide AS (SELECT count(*) AS c0,
                  count(*) FILTER (WHERE p1) AS c1,
                  count(*) FILTER (WHERE p2) AS c2,
                  count(*) FILTER (WHERE p3) AS c3,
                  count(*) FILTER (WHERE p4) AS c4,
                  count(*) FILTER (WHERE p5) AS c5,
                  count(*) FILTER (WHERE COALESCE(p6, false)) AS c6,
                  CAST(COALESCE(sum(toks) FILTER (WHERE NOT p1), 0) AS BIGINT) AS td1,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p1 AND NOT p2), 0) AS BIGINT) AS td2,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p2 AND NOT p3), 0) AS BIGINT) AS td3,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p3 AND NOT p4), 0) AS BIGINT) AS td4,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p4 AND NOT p5), 0) AS BIGINT) AS td5,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p5 AND NOT COALESCE(p6, false)), 0) AS BIGINT) AS td6
                 FROM gated)
         SELECT CAST(1 AS BIGINT) AS stage, 'lang' AS gate, c0 AS n_in,
                c1 AS n_kept, c0 - c1 AS n_dropped, td1 AS tokens_dropped FROM wide
         UNION ALL SELECT 2, 'length', c1, c2, c1 - c2, td2 FROM wide
         UNION ALL SELECT 3, 'quality', c2, c3, c2 - c3, td3 FROM wide
         UNION ALL SELECT 4, 'repetition', c3, c4, c3 - c4, td4 FROM wide
         UNION ALL SELECT 5, 'perplexity', c4, c5, c4 - c5, td5 FROM wide
         UNION ALL SELECT 6, 'dedup', c5, c6, c5 - c6, td6 FROM wide""",

    // the WHOLE pipeline replayed: funnel gates + the recursive media
    // closure (doc-space drop list) + the mix/budget/pack rules — all
    // BIGINT counters
    "q_e2e_curation" ->
      s"""WITH RECURSIVE $qualityTCte,
         $funnelGatedCtes,
         ${imageFpCtes("i_")},
         ${audioFpCtes("a_")},
         ${videoFpCtes("v_")},
         pairs AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM i_fp a JOIN i_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaAudioOff, b.doc_id + $MediaAudioOff
           FROM a_fp a JOIN a_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaVideoOff, b.doc_id + $MediaVideoOff
           FROM v_fp a JOIN v_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3),
         $closureOracle,
         mdrop AS (SELECT DISTINCT node
                    - CASE WHEN node >= $MediaVideoOff THEN $MediaVideoOff
                           WHEN node >= $MediaAudioOff THEN $MediaAudioOff
                           ELSE 0 END AS doc_id
                   FROM comp WHERE node <> cluster_id),
         g7 AS (SELECT gated.*,
                  (COALESCE(p6, false) AND
                   gated.doc_id NOT IN (SELECT doc_id FROM mdrop)) AS p7
                FROM gated),
         wide AS (SELECT count(*) AS c0,
                  count(*) FILTER (WHERE p1) AS c1,
                  count(*) FILTER (WHERE p2) AS c2,
                  count(*) FILTER (WHERE p3) AS c3,
                  count(*) FILTER (WHERE p4) AS c4,
                  count(*) FILTER (WHERE p5) AS c5,
                  count(*) FILTER (WHERE COALESCE(p6, false)) AS c6,
                  count(*) FILTER (WHERE p7) AS c7,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p1), 0) AS BIGINT) AS t1,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p2), 0) AS BIGINT) AS t2,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p3), 0) AS BIGINT) AS t3,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p4), 0) AS BIGINT) AS t4,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p5), 0) AS BIGINT) AS t5,
                  CAST(COALESCE(sum(toks) FILTER (WHERE COALESCE(p6, false)), 0) AS BIGINT) AS t6,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p7), 0) AS BIGINT) AS t7
                 FROM g7),
         surv AS (SELECT doc_id, lang, toks FROM g7 WHERE p7),
         mixn AS (SELECT doc_id, lang, toks,
                  CASE lang WHEN 'en' THEN 1 + CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                            WHEN 'de' THEN CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                            ELSE 1 END AS n
                  FROM (SELECT doc_id, lang, toks,
                        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
                        FROM surv)),
         mix AS (SELECT doc_id, lang, toks,
                   unnest(range(CAST(n AS BIGINT))) AS copy_idx
                 FROM mixn WHERE n >= 1),
         bud AS (SELECT doc_id, lang, toks, copy_idx,
                  CAST(COALESCE(sum(toks) OVER (PARTITION BY lang
                    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                             doc_id, copy_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS tokens_before
                 FROM mix),
         kept AS (SELECT doc_id, lang, toks, copy_idx FROM bud
                  WHERE tokens_before <
                    CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 150
                              WHEN 'fr' THEN 150 ELSE 0 END),
         pk AS (SELECT lang, toks,
                  CAST(floor(CAST(COALESCE(sum(toks) OVER (
                    PARTITION BY lang
                    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                             doc_id, copy_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) / 128.0) AS BIGINT) AS pack_id
                FROM kept),
         s8 AS (SELECT (SELECT c7 FROM wide) AS n_in,
                  count(*) AS n_out,
                  CAST(COALESCE(sum(toks), 0) AS BIGINT) AS tokens_out
                FROM mix),
         s9 AS (SELECT (SELECT count(*) FROM mix) AS n_in,
                  count(*) AS n_out,
                  CAST(COALESCE(sum(toks), 0) AS BIGINT) AS tokens_out
                FROM kept),
         s10 AS (SELECT (SELECT count(*) FROM kept) AS n_in,
                  count(DISTINCT (lang, pack_id)) AS n_out,
                  CAST(COALESCE(sum(toks), 0) AS BIGINT) AS tokens_out
                 FROM pk)
         SELECT CAST(1 AS BIGINT) AS stage, 'lang' AS gate, c0 AS n_in,
                c1 AS n_out, t1 AS tokens_out FROM wide
         UNION ALL SELECT 2, 'length', c1, c2, t2 FROM wide
         UNION ALL SELECT 3, 'quality', c2, c3, t3 FROM wide
         UNION ALL SELECT 4, 'repetition', c3, c4, t4 FROM wide
         UNION ALL SELECT 5, 'perplexity', c4, c5, t5 FROM wide
         UNION ALL SELECT 6, 'dedup', c5, c6, t6 FROM wide
         UNION ALL SELECT 7, 'media_dedup', c6, c7, t7 FROM wide
         UNION ALL SELECT 8, 'mixture', n_in, n_out, tokens_out FROM s8
         UNION ALL SELECT 9, 'token_budget', n_in, n_out, tokens_out FROM s9
         UNION ALL SELECT 10, 'pack', n_in, n_out, tokens_out FROM s10""",

    
    // same 4-nibble bucket arithmetic as q_split; pos ranks by the raw
    // md5 string (fixed-width lowercase hex = byte order in both engines)
    "q_shuffle_shard" ->
      """WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 8
                 AS shard
              FROM documents)
         SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) AS BIGINT) AS pos
         FROM b""",

    // vocabulary-weighted char-pair counting mirrored: range(1, len) is
    // 1..len-1, substr by character in both engines; overlapping pairs
    // count once per position ("aaa" contributes two "aa")
    "q_bpe_pairs" ->
      """WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS wcnt
              FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                      AS word FROM documents)
              WHERE word <> '' GROUP BY 1),
         p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, wcnt
               FROM wc, UNNEST(range(1, len(word))) t(i)
               WHERE len(word) >= 2),
         pc AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
                FROM p GROUP BY 1)
         SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 50""",

    // segment / df-count / filter / ordered-reassembly mirrored:
    // range() is 0-based like Spark's sequence, list slices are 1-based
    // inclusive and clamp like Spark's slice; string_agg ORDER BY
    // seg_idx == array_sort(collect_list(struct(seg_idx, seg)))
    "q_boilerplate" ->
      """WITH w AS (SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
         seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                   array_to_string(ws[(i*5+1):(i*5+5)], ' ') AS seg
                 FROM w, UNNEST(range((len(ws) + 4) // 5)) AS t(i)),
         bl AS (SELECT seg FROM seg GROUP BY seg
                HAVING count(DISTINCT doc_id) >= 2),
         m AS (SELECT s.doc_id, s.seg_idx, s.seg,
                      b.seg IS NOT NULL AS is_bl
               FROM seg s LEFT JOIN bl b ON s.seg = b.seg)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
                CAST(count(*) FILTER (WHERE NOT is_bl) AS BIGINT) AS n_kept,
                COALESCE(string_agg(seg, ' ' ORDER BY seg_idx)
                         FILTER (WHERE NOT is_bl), '') AS clean_text
         FROM m GROUP BY doc_id""",

    // the bucket scheme is pure integer/string arithmetic, so the oracle
    // replays the WHOLE sketch exactly (no tolerance booleans needed);
    // the daily build stage is elided — bucket counts add, so
    // rollup-of-daily == direct grouping. Window sums are HUGEINT in
    // DuckDB: only `n` escapes to output and is cast back to BIGINT.
    "q_quantile_sketch" ->
      """WITH b AS (SELECT event_type,
             CAST(length(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)) AS BIGINT) AS qd,
             CAST(substr(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR), 1, 2) AS BIGINT) AS qlead
           FROM events WHERE value > 0),
         sk AS (SELECT event_type, qd, qlead, count(*) AS cnt
                FROM b GROUP BY 1, 2, 3),
         c AS (SELECT event_type, cnt,
                 sum(cnt) OVER (PARTITION BY event_type
                                ORDER BY qd, qlead) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS n,
                 (2 * qlead + 1) *
                   CAST('1' || repeat('0', CAST(greatest(qd - 2, 0) AS INT))
                        AS BIGINT) AS rep_x200
               FROM sk)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                min(CASE WHEN cum >= (1 * n + 1) // 2
                         THEN rep_x200 END) AS p50_x200,
                min(CASE WHEN cum >= (19 * n + 19) // 20
                         THEN rep_x200 END) AS p95_x200
         FROM c GROUP BY 1""",

    // serving read of the stream-maintained sketch store: merge-is-exact
    // makes the result batching-independent, so the whole-corpus sketch
    // oracle (q_quantile_sketch's SQL) gates it unchanged
    "q_sketch_serve" ->
      """WITH b AS (SELECT event_type,
             CAST(length(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)) AS BIGINT) AS qd,
             CAST(substr(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR), 1, 2) AS BIGINT) AS qlead
           FROM events WHERE value > 0),
         sk AS (SELECT event_type, qd, qlead, count(*) AS cnt
                FROM b GROUP BY 1, 2, 3),
         c AS (SELECT event_type, cnt,
                 sum(cnt) OVER (PARTITION BY event_type
                                ORDER BY qd, qlead) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS n,
                 (2 * qlead + 1) *
                   CAST('1' || repeat('0', CAST(greatest(qd - 2, 0) AS INT))
                        AS BIGINT) AS rep_x200
               FROM sk)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                min(CASE WHEN cum >= (1 * n + 1) // 2
                         THEN rep_x200 END) AS p50_x200,
                min(CASE WHEN cum >= (19 * n + 19) // 20
                         THEN rep_x200 END) AS p95_x200
         FROM c GROUP BY 1""",

    // smoothed-KL contribution tree mirrored verbatim; HUGEINT totals
    // cast to double match Spark's driver-side literals exactly
    "q_vocab_drift" ->
      """WITH a AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
                    FROM documents),
         ca AS (SELECT word, count(*) AS c_a FROM a GROUP BY 1),
         b AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
               FROM documents WHERE lang = 'en'),
         cb AS (SELECT word, count(*) AS c_b FROM b GROUP BY 1),
         j AS (SELECT COALESCE(ca.word, cb.word) AS word,
                      COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
               FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
         t AS (SELECT sum(c_a) AS ta, sum(c_b) AS tb, count(*) AS v FROM j)
         SELECT word, c_a, c_b,
                round(((CAST(c_a + 1 AS DOUBLE)
                        / CAST((SELECT ta + v FROM t) AS DOUBLE))
                       * ln((CAST(c_a + 1 AS DOUBLE)
                             / CAST((SELECT ta + v FROM t) AS DOUBLE))
                            / (CAST(c_b + 1 AS DOUBLE)
                               / CAST((SELECT tb + v FROM t) AS DOUBLE))))
                      * 1000000.0, 4) + 0 AS contrib_unats
         FROM j""",

    // same bucket arithmetic as q_split over the doubled corpus;
    // string_agg(DISTINCT ... ORDER BY) == array_join(array_sort(collect_set))
    "q_split_leakage" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
         b AS (SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM corpus),
         s AS (SELECT doc_id, fp,
                CASE WHEN bucket < 52428 THEN 'train'
                     WHEN bucket < 58982 THEN 'val'
                     ELSE 'test' END AS split
              FROM b)
         SELECT fp, count(*) AS n_docs,
                count(DISTINCT split) AS n_splits,
                string_agg(DISTINCT split, ',' ORDER BY split) AS splits,
                min(doc_id) AS first_id
         FROM s GROUP BY fp HAVING count(DISTINCT split) >= 2""",

    // same md5-nibble bucket as q_split; en keeps bucket<32768 (0.5),
    // de bucket<16384 (0.25), other strata keep everything
    "q_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents)
         SELECT doc_id, lang FROM b
         WHERE bucket < CASE lang WHEN 'en' THEN 32768
                                  WHEN 'de' THEN 16384
                                  ELSE 65536 END""",

    // en: 1 copy + bucket<32768 gets a 2nd; de: bucket<32768 keeps 1; rest 1
    "q_mix_upsample" ->
      """WITH b AS (SELECT doc_id, lang,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents),
         n AS (SELECT doc_id, lang,
                CASE lang WHEN 'en' THEN 1 + CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                          WHEN 'de' THEN CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                          ELSE 1 END AS n
               FROM b)
         SELECT doc_id, lang, unnest(range(CAST(n AS BIGINT))) AS copy_idx
         FROM n WHERE n >= 1""",

    "q_vocab_topk" ->
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents)
         SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
         FROM w GROUP BY word
         ORDER BY n_occ DESC, word LIMIT 100""",

    // change rows = first observation or event_type differs from previous
    // (per user, total order ts+event_id); validity closed by the next
    // change row's timestamp
    "q_scd2" ->
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
         FROM c""",

    // quality is exact integer arithmetic + explicit half-up rounding —
    // round(double, 4) disagrees between engines at .xxxx5 boundaries
    "q_quality_score" ->
      s"""WITH $qualityTCte
         SELECT doc_id, w AS n_words,
                $qualityFormulaSql AS quality
         FROM t""",

    // the batch-perceptron unroll over the quality-signal features:
    // weights after 3 rounds, and per-doc margins/predictions under
    // the trained model
    "q_perceptron" -> perceptronOracle(rounds = 8, score = false),
    "q_perceptron_score" -> perceptronOracle(rounds = 8, score = true),
    // the averaged face: running Σᵣ wᵣ CTEs alongside the same walk
    "q_perceptron_avg" ->
      perceptronOracle(rounds = 8, score = false, avg = true),
    "q_perceptron_avg_score" ->
      perceptronOracle(rounds = 8, score = true, avg = true),

    "q_lang_id" ->
      """WITH s AS (SELECT doc_id, lang,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['der','die','das','und'], x))) AS s_de,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['the','a','of','and'], x))) AS s_en,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['el','los','que'], x))) AS s_es,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['le','les','une'], x))) AS s_fr,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['de','shi','le'], x))) AS s_zh
           FROM documents)
         SELECT doc_id, lang,
                CASE WHEN s_de >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_en >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_es >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                     WHEN s_fr >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                     WHEN s_zh >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                     ELSE 'und' END AS predicted
         FROM s""",

    "q_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents""",

    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text FROM documents)
         GROUP BY 1""",

    "q_ngram_jaccard" ->
      """WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5""",

    // sketch-derived cap: the CM sketch, the est >= minEst hot list, the
    // per-doc (df, shingle) rank windows, the in-prefix non-hot shared-
    // shingle candidates, and full-set Jaccard verification — the prefix
    // MUST be modeled here because the cap makes candidate generation
    // lossy (a pair whose only in-prefix shared shingles are hot is
    // dropped even when rarer shared shingles exist past the prefix)
    "q_ngram_sketch_capped" -> {
      val arg = "'42|'||CAST(t.i AS VARCHAR)||'|'||s"
      val bucket =
        s"""((strpos('0123456789abcdef', substr(md5($arg), 1, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(md5($arg), 2, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(md5($arg), 3, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5($arg), 4, 1)) - 1)) % 65536"""
      s"""WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         cells AS (SELECT t.i AS i, $bucket AS j
                   FROM sh CROSS JOIN range(4) t(i)),
         sk AS (SELECT i, j, count(*) AS cnt FROM cells GROUP BY 1, 2),
         keys AS (SELECT DISTINCT s FROM sh),
         qb AS (SELECT s, t.i AS i, $bucket AS j
                FROM keys CROSS JOIN range(4) t(i)),
         est AS (SELECT qb.s AS s, min(coalesce(sk.cnt, 0)) AS est
                 FROM qb LEFT JOIN sk ON sk.i = qb.i AND sk.j = qb.j
                 GROUP BY 1),
         hot AS (SELECT s FROM est WHERE est >= 20),
         dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         rk AS (SELECT sh.doc_id, sh.s, dfreq.df,
                  row_number() OVER (PARTITION BY sh.doc_id
                                     ORDER BY dfreq.df, sh.s) AS rk,
                  count(*) OVER (PARTITION BY sh.doc_id) AS n
                FROM sh JOIN dfreq USING (s)),
         pr AS (SELECT doc_id, s FROM rk
                WHERE rk <= CAST(floor(0.5 * n + 1e-9) AS INT) + 1
                  AND s NOT IN (SELECT s FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id),
         inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
                     count(*) AS c
                   FROM sh sa JOIN sh sb ON sa.s = sb.s
                     AND sa.doc_id < sb.doc_id
                   JOIN cand ON cand.doc_a = sa.doc_id
                     AND cand.doc_b = sb.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5"""
    },

    "q_minhash_lsh" -> minhashLshOracle,

    // the band-key Count-Min cap modeled IN the oracle (the
    // q_ngram_sketch_capped discipline): sketch over the (band, bsig)
    // postings, est >= 3 keys drop before banding, then the standard
    // candidate + exact-Jaccard verification over the SURVIVING postings
    "q_minhash_sketch_capped" -> {
      val arg = "'42|'||CAST(t.i AS VARCHAR)||'|'||k"
      val bucket =
        s"""((strpos('0123456789abcdef', substr(md5($arg), 1, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(md5($arg), 2, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(md5($arg), 3, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5($arg), 4, 1)) - 1)) % 65536"""
      s"""WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         sig AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS sg
                 FROM sh, UNNEST(range(12)) t(h) GROUP BY 1, 2),
         bands AS (SELECT doc_id, CAST(floor(h/4) AS INT) AS band,
                          md5(string_agg(h||':'||sg, '|' ORDER BY h||':'||sg)) AS bsig
                   FROM sig GROUP BY 1, 2),
         bk AS (SELECT doc_id, band, bsig,
                       CAST(band AS VARCHAR)||':'||bsig AS k
                FROM bands),
         cells AS (SELECT t.i AS i, $bucket AS j
                   FROM bk CROSS JOIN range(4) t(i)),
         sk AS (SELECT i, j, count(*) AS cnt FROM cells GROUP BY 1, 2),
         keys AS (SELECT DISTINCT k FROM bk),
         qb AS (SELECT k, t.i AS i, $bucket AS j
                FROM keys CROSS JOIN range(4) t(i)),
         est AS (SELECT qb.k AS k, min(coalesce(sk.cnt, 0)) AS est
                 FROM qb LEFT JOIN sk ON sk.i = qb.i AND sk.j = qb.j
                 GROUP BY 1),
         hot AS (SELECT k FROM est WHERE est >= 3),
         bc AS (SELECT doc_id, band, bsig FROM bk
                WHERE k NOT IN (SELECT k FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bc a JOIN bc b
                  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5"""
    },

    // transitive closure of the SAME pair query via a recursive CTE, then
    // per-component min label / size / sorted member list
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle
         SELECT cluster_id, count(*) AS n_docs,
                string_agg(CAST(node AS VARCHAR), ','
                           ORDER BY CAST(node AS VARCHAR)) AS members
         FROM comp GROUP BY cluster_id""",

    // history + batch fold-in ≡ the closure over ALL pairs: the oracle
    // has no notion of the split, so any label the incremental path
    // fails to merge (or merges wrongly) hash-mismatches
    "q_cc_incr" ->
      s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle
         SELECT node, cluster_id AS component FROM comp""",

    // two-batch fold through the snapshot store ≡ the same closure:
    // the store round-trip must be invisible in the labeling
    "q_cc_serve" ->
      s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle
         SELECT node, cluster_id AS component FROM comp""",

    // the incremental batch-vs-index pairs must equal the full recompute
    // restricted to pairs touching the batch (odd ids)
    "q_dedup_incr" ->
      s"""WITH pairs AS ($minhashLshOracle)
         SELECT doc_a, doc_b, jaccard FROM pairs
         WHERE doc_a % 2 = 1 OR doc_b % 2 = 1""",

    // chain components: every user's events form one path, so the
    // operator's reachable-min component is the user's min event_id —
    // the structure the query was built to stress (deep diameter), and
    // the reason no recursive closure CTE is needed here
    "q_components_adaptive" ->
      """WITH e AS (SELECT user_id, event_id,
             lead(event_id) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
           FROM events),
         n AS (SELECT user_id, event_id FROM e WHERE nxt IS NOT NULL
               UNION
               SELECT user_id, nxt AS event_id FROM e WHERE nxt IS NOT NULL)
         SELECT event_id AS node,
                min(event_id) OVER (PARTITION BY user_id) AS component
         FROM n""",

    // the stream's keep-min drop policy over the incremental pair set:
    // an odd (batch) doc drops as the larger side of ANY pair, or as
    // the smaller side of a pair whose larger side is even (indexed)
    "q_neardup_filter" ->
      s"""WITH pairs AS ($minhashLshOracle),
         dropped AS (
           SELECT doc_b AS doc_id FROM pairs WHERE doc_b % 2 = 1
           UNION
           SELECT doc_a FROM pairs
           WHERE doc_a % 2 = 1 AND doc_b % 2 = 0)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 2 = 1
           AND doc_id NOT IN (SELECT doc_id FROM dropped)""",

    // identical closure oracle — the star-contraction variant must land
    // on the same component structure as min-label propagation
    "q_dedup_clusters_star" ->
      s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle
         SELECT cluster_id, count(*) AS n_docs,
                string_agg(CAST(node AS VARCHAR), ','
                           ORDER BY CAST(node AS VARCHAR)) AS members
         FROM comp GROUP BY cluster_id""",

    // id-ordered naive enumeration — same triangle set as the operator's
    // degree-oriented join (each triangle once, as a<b<c)
    "q_triangles" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
               FROM e e1 JOIN e e2 ON e2.x = e1.y
                         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
         n AS (SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
         SELECT node, count(*) AS n_tri FROM n GROUP BY node""",

    // the sampled estimate is engine-specific; the hashable contract is
    // the exact global count + a within-tolerance boolean (see the query
    // comment for the measured margins)
    "q_triangles_approx" ->
      """WITH e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               WHERE a.l_partkey % 2 = 0 AND b.l_partkey % 2 = 0),
         tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
               FROM e e1 JOIN e e2 ON e2.x = e1.y
                         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
         SELECT count(*) AS n_tri_exact, TRUE AS approx_ok FROM tri""",

    // chained stage CTEs mirror the operator: earliest qualifying event
    // strictly after the previous stage time
    "q_funnel" ->
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
         SELECT 3, 'purchase', (SELECT count(*) FROM s3)""",

    // running max over earlier ends (never lag) so nested intervals can't
    // split an island; the island id sum is CAST BIGINT (HUGEINT trap)
    "q_interval_merge" ->
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
         FROM i GROUP BY user_id, island""",

    // same interval construction and running-max window as
    // q_interval_merge; a gap is an island break with an earlier end
    "q_interval_gaps" ->
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
         FROM m WHERE pm IS NOT NULL AND start_us > pm""",

    // the PLAIN inner join — the salted formulation must be
    // indistinguishable from it
    "q_skew_join" ->
      """WITH d AS (SELECT event_type, count(*) AS n_type
                    FROM events GROUP BY 1)
         SELECT event_id, event_type, value, n_type
         FROM events JOIN d USING (event_type)
         WHERE event_id <= 2000""",

    // 3 unrolled integer iterations; every sum CAST back to BIGINT
    // (DuckDB sum() yields HUGEINT — the q_pack type-hash trap)
    "q_pagerank" ->
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
         SELECT id, score FROM s3""",

    // 3 unrolled peel rounds; keep-set filtering via inner joins on the
    // distinct keep list (= left-semi, DuckDB-efficient)
    // AS MATERIALIZED on every peel stage: DuckDB inlines un-hinted
    // CTEs, so each ek re-computed the quadratic e0 self-join — at the
    // sf1 gate that nested join tree spilled past the free disk; hinted
    // it runs in 11 s (evaluation strategy only, same rows)
    "q_kcore" ->
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
         (SELECT x AS n FROM e3 UNION ALL SELECT y FROM e3) GROUP BY 1""",

    // two unrolled synchronous rounds; per round the argmax (max count,
    // tie → min label) is a row_number under (c DESC, label) — the same
    // semantics the operator folds into one max(struct(c, −label)) agg
    "q_label_prop" ->
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
         SELECT node, label FROM r2""",

    // depth-bounded recursive closure with a set-semantics UNION (state
    // bounded at nodes×depth, not path multiplicities), then min(dist) —
    // the operator's first-settle frontier discipline IS that minimum
    "q_bfs" ->
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
         FROM walk GROUP BY node""",

    // same unrolled shape as q_pagerank; teleport pinned to seeds {1,2,3},
    // edges doubled into both directions before the DISTINCT
    "q_ppr" ->
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
         SELECT id, score FROM s3""",

    // closure + the q_quality_score formula + per-cluster argmax
    "q_dedup_keep" ->
      s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle,
         $qualityTCte,
         qual AS (SELECT doc_id, $qualityFormulaSql AS quality FROM t),
         ranked AS (SELECT cluster_id, node AS doc_id, quality,
                row_number() OVER (PARTITION BY cluster_id
                  ORDER BY quality DESC, node) AS rk
              FROM comp JOIN qual ON node = qual.doc_id)
         SELECT cluster_id, doc_id, quality, rk = 1 AS is_keeper
         FROM ranked""",

    "q_simhash" ->
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         h AS (SELECT doc_id, substr(md5(word), 1, 16) AS hh FROM w),
         bits AS (SELECT doc_id, j,
                strpos('0123456789abcdef',
                       substr(hh, 1 + CAST(floor(j/4) AS INT), 1)) - 1 AS nib
              FROM h, UNNEST(range(63)) t(j)),
         votes AS (SELECT doc_id, j,
                sum(CASE WHEN ((nib >> CAST(3 - j%4 AS INT)) & 1) = 1
                         THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY 1, 2)
         SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id""",

    "q_simhash_pairs" ->
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         h AS (SELECT doc_id, substr(md5(word), 1, 16) AS hh FROM w),
         bits AS (SELECT doc_id, j,
                strpos('0123456789abcdef',
                       substr(hh, 1 + CAST(floor(j/4) AS INT), 1)) - 1 AS nib
              FROM h, UNNEST(range(63)) t(j)),
         votes AS (SELECT doc_id, j,
                sum(CASE WHEN ((nib >> CAST(3 - j%4 AS INT)) & 1) = 1
                         THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
         bands AS (SELECT doc_id, simhash, b,
                          (simhash >> CAST(b * 16 AS INT)) & 65535 AS chunk
                   FROM fp, UNNEST(range(4)) t(b)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                         bit_count(xor(a.simhash, b2.simhash)) AS hamming
                  FROM bands a JOIN bands b2
                  ON a.b = b2.b AND a.chunk = b2.chunk
                     AND a.doc_id < b2.doc_id)
         SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""",

    // the chunk-key Count-Min cap modeled in the oracle: sketch over
    // the (b, chunk) postings, est >= 10 keys drop before pairing
    "q_simhash_sketch_capped" -> {
      val arg = "'42|'||CAST(t.i AS VARCHAR)||'|'||k"
      val bucket =
        s"""((strpos('0123456789abcdef', substr(md5($arg), 1, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(md5($arg), 2, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(md5($arg), 3, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5($arg), 4, 1)) - 1)) % 65536"""
      s"""WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
              FROM documents),
         h AS (SELECT doc_id, substr(md5(word), 1, 16) AS hh FROM w),
         bits AS (SELECT doc_id, j,
                strpos('0123456789abcdef',
                       substr(hh, 1 + CAST(floor(j/4) AS INT), 1)) - 1 AS nib
              FROM h, UNNEST(range(63)) t(j)),
         votes AS (SELECT doc_id, j,
                sum(CASE WHEN ((nib >> CAST(3 - j%4 AS INT)) & 1) = 1
                         THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
         bandsr AS (SELECT doc_id, simhash, b,
                          (simhash >> CAST(b * 16 AS INT)) & 65535 AS chunk
                   FROM fp, UNNEST(range(4)) t(b)),
         bk AS (SELECT doc_id, simhash, b, chunk,
                       CAST(b AS VARCHAR)||':'||CAST(chunk AS VARCHAR) AS k
                FROM bandsr),
         cells AS (SELECT t.i AS i, $bucket AS j
                   FROM bk CROSS JOIN range(4) t(i)),
         sk AS (SELECT i, j, count(*) AS cnt FROM cells GROUP BY 1, 2),
         keys AS (SELECT DISTINCT k FROM bk),
         qb AS (SELECT k, t.i AS i, $bucket AS j
                FROM keys CROSS JOIN range(4) t(i)),
         est AS (SELECT qb.k AS k, min(coalesce(sk.cnt, 0)) AS est
                 FROM qb LEFT JOIN sk ON sk.i = qb.i AND sk.j = qb.j
                 GROUP BY 1),
         hot AS (SELECT k FROM est WHERE est >= 10),
         bc AS (SELECT doc_id, simhash, b, chunk FROM bk
                WHERE k NOT IN (SELECT k FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                         bit_count(xor(a.simhash, b2.simhash)) AS hamming
                  FROM bc a JOIN bc b2
                  ON a.b = b2.b AND a.chunk = b2.chunk
                     AND a.doc_id < b2.doc_id)
         SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3"""
    },

    "q_embed_dedup" ->
      s"""WITH $embedPairCtes
         SELECT doc_a, doc_b,
                round(dotv/(sqrt(na2)*sqrt(nb2)), 4) AS cosine
         FROM d WHERE dotv/(sqrt(na2)*sqrt(nb2)) >= 0.3""",

    // SemDeDup = the embed pair graph above, closed transitively; the
    // keeper is the component minimum, so the drop list is exactly
    // "every node that is not its own cluster id"
    "q_semdedup" ->
      s"""WITH RECURSIVE $embedPairCtes,
         pairs AS (SELECT doc_a, doc_b FROM d
                   WHERE dotv/(sqrt(na2)*sqrt(nb2)) >= 0.3),
         $closureOracle
         SELECT node AS vec_id, cluster_id AS kept_id
         FROM comp WHERE node <> cluster_id""",

    "q_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c
               ON query_id <> neighbor_id),
         d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= 5""",

    // range search: exact BIGINT grid sqdist, pairs under the radius —
    // and the probed face at full probes answers IDENTICALLY (the
    // exhaustive-probe identity), so both rows share this oracle
    "q_ann_radius" -> rangeSearchOracle,
    "q_ann_radius_probed" -> rangeSearchOracle,

    // exhaustive-probe IVF (nProbe = nLists) ≡ brute force — the oracle
    // IS the brute-force top-3; see the query comment for why pruned
    // recall has no deterministic floor on uniform random embeddings
    "q_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c
               ON query_id <> neighbor_id),
         d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= 3""",

    // the save/load round-trip must reproduce the in-memory index exactly
    "q_ann_ivf_disk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c
               ON query_id <> neighbor_id),
         d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= 3""",

    // distributed probe selection ≡ same-bucket brute force — identical
    // oracle to q_ann_ivf_pruned (the driver-side selection twin)
    "q_ann_ivf_dist" ->
      """WITH b AS (SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
               WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c USING (bucket)
               WHERE query_id <> neighbor_id),
         d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= 3""",

    // plain interval join — both engines do exact µs timestamp interval
    // arithmetic, so the window edges agree bit-for-bit
    "q_attribution" ->
      """SELECT c.user_id,
                epoch_us(c.ts) AS click_us,
                epoch_us(p.ts) AS purchase_us,
                p.value AS purchase_value
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",

    // insert path: half built + half appended must serve the SAME
    // same-bucket brute-force results as one full build
    "q_ann_ivf_append" ->
      """WITH b AS (SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
               WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c USING (bucket)
               WHERE query_id <> neighbor_id),
         d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= 3""",

    // pruned probe with the sign quantizer ≡ same-bucket brute force
    // (4-bit bucket, same decimal-fold cosine as q_ann_lsh)
    "q_ann_ivf_pruned" ->
      """WITH b AS (SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
               WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c USING (bucket)
               WHERE query_id <> neighbor_id),
         d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= 3""",

    // same tokenization, same per-position md5, same window-min winnowing
    // (ROWS CURRENT..3 FOLLOWING ≡ Spark rowsBetween(0, 3)), same
    // posting join — md5 hex and its string order agree across engines
    "q_span_dedup" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         s AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(w[i:i+7], ' ')) AS fp
               FROM t, UNNEST(range(1, len(w) - 8 + 2)) u(i)
               WHERE len(w) >= 8),
         sel AS (SELECT DISTINCT doc_id,
                   min(fp) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                     AS fp
                 FROM s)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // the full window join + diagonal gaps-and-islands, replayed
    // literally: md5 of the identical space-joined 8-token window in
    // both engines, islands keyed by pos − row_number at one diagonal
    "q_exact_spans" -> exactSpansOracle,

    // the same spans, both sides' ranges merged per doc by the
    // running-max interval fold
    "q_span_cuts" ->
      s"""WITH spans AS ($exactSpansOracle),
         sides AS (
           SELECT doc_a AS doc_id, start_a AS s,
                  start_a + len_tokens AS e FROM spans
           UNION ALL
           SELECT doc_b, start_b, start_b + len_tokens FROM spans),
         mk AS (SELECT doc_id, s, e,
                  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS runmax
                FROM sides),
         isl2 AS (SELECT doc_id, s, e,
                    sum(CASE WHEN runmax IS NULL OR s > runmax
                        THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
                  FROM mk)
         SELECT doc_id, CAST(min(s) AS BIGINT) AS "start",
                CAST(max(e) AS BIGINT) AS "end"
         FROM isl2 GROUP BY doc_id, isl""",

    // the sketch estimates are engine-specific; the hashable contract is
    // exact values + within-tolerance booleans (see the query comment for
    // the measured margins behind each window)
    "q_approx_distinct" ->
      """SELECT event_type,
                count(DISTINCT user_id) AS n_users_exact,
                TRUE AS approx_ok, TRUE AS p50_ok, TRUE AS p99_ok
         FROM events GROUP BY 1""",

    "q_hll_daily" ->
      """SELECT event_type,
                count(DISTINCT user_id) AS n_users_exact,
                TRUE AS hll_ok
         FROM events GROUP BY 1""",

    "q_ann_lsh" ->
      """WITH b AS (SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
           + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
           + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
           + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
               WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c USING (bucket)
               WHERE query_id <> neighbor_id),
         d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= 3""",

    "q_multimodal" ->
      """SELECT doc_id AS media_id,
                'text/plain' AS format,
                CAST(strlen(text) AS BIGINT) AS n_bytes,
                md5(text) AS content_md5,
                CAST(ceil(strlen(text)/1024.0) AS INT) AS n_frames,
                CAST(strlen(text) AS DOUBLE) AS f_len,
                floor(CAST(list_sum(list_transform(range(1, strlen(text) + 1),
                        i -> unicode(substr(text, CAST(i AS INT), 1)))) AS DOUBLE)
                      / CAST(strlen(text) AS DOUBLE) * 10000.0 + 0.5)
                  / 10000.0 AS f_mean,
                CAST(unicode(substr(text, 1, 1)) AS DOUBLE) AS f_head
         FROM documents""",

    // text-face round trips: the oracle reads the PARQUET table — equality
    // proves the serialize → PERMISSIVE-read cycle is lossless
    "q_jsonl_scan" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                epoch_us(max(ts)) AS max_ts_us,
                count(DISTINCT props) AS n_props,
                CAST(0 AS BIGINT) AS n_bad
         FROM events WHERE user_id % 100 = 0
         GROUP BY event_type""",

    "q_tsv_scan" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                epoch_us(max(ts)) AS max_ts_us,
                count(DISTINCT props) AS n_props,
                CAST(0 AS BIGINT) AS n_bad
         FROM events WHERE user_id % 100 = 1
         GROUP BY event_type""",

    "q_corpus_export" ->
      """SELECT lang, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents WHERE doc_id % 10 <> 0
         GROUP BY lang""",

    // the decoded facts of the generated container are constants; the
    // luminance boolean's ±3 bound is spec-pinned over every generated
    // level (see the query comment)
    "q_video" ->
      """SELECT doc_id, 2 AS n_frames,
                CAST(8 AS DOUBLE) AS w, CAST(8 AS DOUBLE) AS h,
                TRUE AS lum_ok
         FROM documents WHERE doc_id % 20 = 0""",

    // replay the generated 9×8 cell grid (gray v is monotone in the
    // integer BT.601 luminance 1000·v, so `<` on v IS the dHash bit),
    // fold the 63 comparisons into the fingerprint, and pair by exact
    // bit_count — candidate banding on the Spark side is recall-exact
    // for hamming ≤ 3 by pigeonhole, so the pair sets must hash-match.
    // The cell draw is the first 16 bits of md5(g_x_y) mod 191 — the
    // engine-shared coin (simhash precedent)
    "q_image_dedup" ->
      s"""WITH ${imageFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3""",

    // the image pair graph above, closed transitively; keeper = the
    // component minimum, drop list = every node not its own cluster id
    // (the q_semdedup shape)
    "q_image_dedup_keep" ->
      s"""WITH RECURSIVE ${imageFpCtes()},
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.f, b.f)) <= 3),
         $closureOracle
         SELECT node AS doc_id, cluster_id AS kept_id
         FROM comp WHERE node <> cluster_id""",

    // replay the 64 window amplitudes (window energy 8·a² is monotone
    // in a > 0, so `<` on a IS the contour bit — gain doubling scales
    // a, flipping nothing), fold 63 comparisons, pair by bit_count
    "q_audio_dedup" ->
      s"""WITH ${audioFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3""",

    // replay the 64 frame levels (solid-gray JPEG decodes within ±3
    // of its level and identical levels give byte-identical frames, so
    // with ≥20-level gaps `<` on LEVELS is the decoded contour bit;
    // the +8 member shift and the 240/0 flip clear the bound too)
    "q_video_dedup" ->
      s"""WITH ${videoFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3""",

    // the stream's keep-min drop policy over the image pair set: an
    // odd-GROUP (batch) image drops as the larger side of ANY pair, or
    // as the smaller side of a pair whose larger side is even-group
    // (indexed) — q_neardup_filter's oracle shape on the banded-
    // Hamming family; each odd group's minimum member survives
    "q_image_neardup_filter" ->
      s"""WITH ${imageFpCtes()},
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.f, b.f)) <= 3),
         dropped AS (
           SELECT doc_b AS doc_id FROM pairs
           WHERE ((doc_b // 10) // 3) % 2 = 1
           UNION
           SELECT doc_a FROM pairs
           WHERE ((doc_a // 10) // 3) % 2 = 1
             AND ((doc_b // 10) // 3) % 2 = 0)
         SELECT doc_id FROM fp
         WHERE ((doc_id // 10) // 3) % 2 = 1
           AND doc_id NOT IN (SELECT doc_id FROM dropped)""",

    // threshold sweep inside the pigeonhole-complete region: all-pairs
    // bit_count histogram + running sum
    "q_dedup_sweep" ->
      s"""WITH ${imageFpCtes()},
         p AS (SELECT bit_count(xor(a.f, b.f)) AS hamming
               FROM fp a JOIN fp b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.f, b.f)) <= 3),
         h AS (SELECT CAST(hamming AS INTEGER) AS hamming,
                      CAST(count(*) AS BIGINT) AS n_pairs
               FROM p GROUP BY 1)
         SELECT hamming, n_pairs,
                CAST(sum(n_pairs) OVER (ORDER BY hamming
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_pairs
         FROM h""",

    // the image filter oracle with the audio/video fingerprint replays
    // swapped in — FingerprintDedupStream's keep rule is modality-blind
    "q_audio_neardup_filter" ->
      s"""WITH ${audioFpCtes()},
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.f, b.f)) <= 3),
         dropped AS (
           SELECT doc_b AS doc_id FROM pairs
           WHERE ((doc_b // 10) // 3) % 2 = 1
           UNION
           SELECT doc_a FROM pairs
           WHERE ((doc_a // 10) // 3) % 2 = 1
             AND ((doc_b // 10) // 3) % 2 = 0)
         SELECT doc_id FROM fp
         WHERE ((doc_id // 10) // 3) % 2 = 1
           AND doc_id NOT IN (SELECT doc_id FROM dropped)""",

    "q_video_neardup_filter" ->
      s"""WITH ${videoFpCtes()},
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.f, b.f)) <= 3),
         dropped AS (
           SELECT doc_b AS doc_id FROM pairs
           WHERE ((doc_b // 10) // 3) % 2 = 1
           UNION
           SELECT doc_a FROM pairs
           WHERE ((doc_a // 10) // 3) % 2 = 1
             AND ((doc_b // 10) // 3) % 2 = 0)
         SELECT doc_id FROM fp
         WHERE ((doc_id // 10) // 3) % 2 = 1
           AND doc_id NOT IN (SELECT doc_id FROM dropped)""",

    // all three modality fingerprint replays (prefixed CTEs), pair
    // graphs offset into disjoint id spaces, one recursive closure —
    // keeper = component minimum, drop list = every non-keeper
    "q_media_dedup_keep" ->
      s"""WITH RECURSIVE ${imageFpCtes("i_")},
         ${audioFpCtes("a_")},
         ${videoFpCtes("v_")},
         pairs AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM i_fp a JOIN i_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaAudioOff, b.doc_id + $MediaAudioOff
           FROM a_fp a JOIN a_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaVideoOff, b.doc_id + $MediaVideoOff
           FROM v_fp a JOIN v_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3),
         $closureOracle
         SELECT node AS doc_id, cluster_id AS kept_id
         FROM comp WHERE node <> cluster_id""",

    // the dHash pair set is the exact twin; both pHash booleans are
    // pinned TRUE on this fixture (tolerance-twin pattern — the float
    // DCT path is asserted through deterministic bounds, never hashed
    // directly)
    "q_image_phash" ->
      s"""WITH ${imageFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming,
                TRUE AS phash_agrees,
                TRUE AS phash_shift_exact
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3""",

    // file counts are deterministic functions of the slice row count
    // (see the query comment); the slice aggregate proves the compacted
    // rewrite lost/duplicated nothing
    "q_compaction" ->
      """WITH t AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
         f AS (SELECT CAST(ceil(count(*) / 40.0) AS BIGINT) AS n_files_before,
                      CAST(ceil(count(*) / 100000.0) AS BIGINT) AS n_files_after
               FROM t)
         SELECT lang, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                min(doc_id) AS min_id, max(doc_id) AS max_id,
                n_files_before, n_files_after
         FROM t CROSS JOIN f
         GROUP BY lang, n_files_before, n_files_after""",

    // exact heavy hitters: the sketch only prunes the plan, never the
    // answer, so the oracle is the plain exact GROUP BY + HAVING (pure
    // integer threshold arithmetic on both sides)
    // Count-Min: the sketch table is md5-bucket exact; the estimate
    // row carries the one-sided-error contract as a pinned boolean
    "q_countmin" -> countMinOracle(est = false),
    "q_countmin_est" -> countMinOracle(est = true),
    // merge-is-exact: the batch-partitioned store serves the identical
    // answer, so the serve row rides the SAME oracle
    "q_countmin_serve" -> countMinOracle(est = true),

    "q_heavy_hitters" -> heavyHittersOracle,

    // the persisted-slice rollup path must be indistinguishable from
    // the direct path — same oracle
    "q_heavy_rollup" -> heavyHittersOracle,

    "q_bpe_train" -> bpeTrainOracle(rounds = 8),

    // both EM rounds replayed: integer ln args quantize identically,
    // and the canonical Viterbi path re-derives by enumerating every
    // segmentation and taking (score DESC, path ASC) — provably the
    // operator's shortest-piece-first tie rule
    "q_unigram_train" ->
      unigramTrainOracle(rounds = 2, vocabSize = 48, maxLen = 4),

    // the train unroll + one more score derivation + a reach CTE over
    // the word universe; per-doc counts left-join so empty docs keep
    // their zero row
    "q_unigram_encode" ->
      unigramTrainOracle(rounds = 2, vocabSize = 48, maxLen = 4,
        encode = true),

    // the hash coin is replayed literally: md5 of the same string in
    // both engines, argmin under the same (h, v) order
    "q_walks" -> walksOracle(walkLen = 4),

    // the pair table from the SAME replayed corpus, windowed in SQL by
    // the step-distance join the operator does in-row
    "q_walk_pairs" -> walkPairsOracle(walkLen = 4, window = 2),

    // second-order bias replayed literally: adjacency left join, CASE
    // weight, salt replicas via UNNEST(range(0, w)), conditional coin
    "q_biased_walks" ->
      biasedWalksOracle(walkLen = 3, wr = 1, wc = 2, wf = 4),

    // unrolled Bellman–Ford relax rounds — the round-r frame is the
    // exact min cost over ≤r-edge paths, so the CTE chain IS the
    // operator's invariant
    "q_sssp" -> ssspOracle(rounds = 4),

    // the same lead() conjunction under the same (ts, event_id) total
    // order; gaps in exact BIGINT micros (epoch_us ≡ unix_micros)
    "q_event_seq" ->
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
           AND epoch_us(ts2) - epoch_us(ts1) <= 604800000000""",

    // the same windows from the same tokenization, lengths unrolled;
    // DuckDB range(1, 0) is empty so short docs need no guard (Spark's
    // descending sequence() does — handled operator-side)
    "q_dict_tag" ->
      """WITH ph(pid, phrase) AS (VALUES
           ('p_fast', 'fast'), ('p_hash_join', 'hash join'),
           ('p_table_scan', 'table scan'), ('p_slow_query', 'slow query'),
           ('p_sort_merge', 'sort merge'),
           ('p_big_table_scan', 'big table scan')),
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)),
                    '\s+') AS tk FROM documents),
         g1 AS (SELECT doc_id, tk[i] AS gram
                FROM toks, UNNEST(range(1, len(tk) + 1)) t(i)),
         g2 AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS gram
                FROM toks, UNNEST(range(1, len(tk))) t(i)),
         g3 AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
                FROM toks, UNNEST(range(1, len(tk) - 1)) t(i)),
         g AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
               UNION ALL SELECT * FROM g3)
         SELECT g.doc_id AS doc, ph.pid AS phrase_id,
                CAST(count(*) AS BIGINT) AS n_hits
         FROM g JOIN ph ON g.gram = ph.phrase
         GROUP BY 1, 2""",

    // identical vocabulary projection, identical integer threshold —
    // the ceil-division identity q²·n² ≥ m ⟺ n² ≥ ⌈m/q²⌉ lets both
    // engines stay inside BIGINT
    "q_lex_cosine" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 20 = 3),
         tok0 AS (SELECT doc_id, word AS term, count(*) AS tf FROM (
                SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
                  '\s+')) AS word FROM d)
              WHERE word <> '' GROUP BY 1, 2),
         dfs AS (SELECT term, count(*) AS df FROM tok0 GROUP BY 1),
         tok AS (SELECT t.doc_id, t.term, t.tf FROM tok0 t
                 JOIN dfs USING (term) WHERE dfs.df <= 200),
         norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS nn
                   FROM tok GROUP BY 1),
         num AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        CAST(sum(a.tf * b.tf) AS BIGINT) AS num
                 FROM tok a JOIN tok b
                 ON a.term = b.term AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
         SELECT doc_a, doc_b, num, na.nn AS norm_a, nb.nn AS norm_b,
                round(num / sqrt(CAST(na.nn AS DOUBLE)
                                 * CAST(nb.nn AS DOUBLE)), 4) AS cos4
         FROM num JOIN norms na ON na.doc_id = num.doc_a
                  JOIN norms nb ON nb.doc_id = num.doc_b
         WHERE num * num >= (16 * na.nn * nb.nn + 24) // 25""",

    // exact quantile_cont ≡ percentile parity (the q_metric_profile
    // pair), 4-dp boundary; the outlier comparison replays on the
    // UNROUNDED medians exactly as the operator computes it
    "q_mad" ->
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
         GROUP BY 1""",

    // dictionary-level dist-1 blocking → closure → record rollup, all
    // replayed from the unblocked quadratic pair set over the dictionary
    "q_entity_groups" ->
      s"""WITH RECURSIVE recs AS (SELECT doc_id,
                    lang || '#' || CAST(doc_id % 10 AS VARCHAR) AS alias
                  FROM documents),
         dict AS (SELECT alias, min(doc_id) AS alias_id,
                         count(*) AS n_recs
                  FROM recs GROUP BY alias),
         pairs AS (SELECT a.alias_id AS doc_a, b.alias_id AS doc_b
                   FROM dict a JOIN dict b ON a.alias_id < b.alias_id
                   WHERE levenshtein(a.alias, b.alias) <= 1),
         $closureOracle,
         ent AS (SELECT d.alias_id, d.n_recs,
                        coalesce(c.cluster_id, d.alias_id) AS entity_id
                 FROM dict d LEFT JOIN comp c ON c.node = d.alias_id)
         SELECT e.entity_id, d2.alias AS canonical_name,
                CAST(count(*) AS BIGINT) AS n_aliases,
                CAST(sum(e.n_recs) AS BIGINT) AS n_members
         FROM ent e JOIN dict d2 ON d2.alias_id = e.entity_id
         GROUP BY 1, 2""",

    // the deliberately quadratic twin: blocking completeness is proven
    // by NOT blocking in the oracle
    "q_edit_pairs" ->
      """WITH s AS (SELECT s_suppkey AS id, s_name AS name FROM supplier)
         SELECT a.id AS supp_a, b.id AS supp_b,
                CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
         FROM s a JOIN s b ON a.id < b.id
         WHERE levenshtein(a.name, b.name) <= 1""",

    // the oracle takes the self-join road the operator's in-row
    // expansion avoids — identical quantization, identical sums
    "q_gram" ->
      """WITH comp AS (SELECT vec_id, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         up AS (SELECT a.pos AS i, b.pos AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s
                FROM comp a JOIN comp b
                ON a.vec_id = b.vec_id AND a.pos <= b.pos
                GROUP BY 1, 2),
         fm AS (SELECT -1 AS i, pos AS j, CAST(sum(q) AS BIGINT) AS s
                FROM comp GROUP BY 2),
         cnt AS (SELECT -1 AS i, -1 AS j, CAST(count(*) AS BIGINT) AS s
                 FROM embeddings)
         SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, s FROM up
         UNION ALL SELECT CAST(i AS INTEGER), CAST(j AS INTEGER), s FROM fm
         UNION ALL SELECT CAST(i AS INTEGER), CAST(j AS INTEGER), s FROM cnt""",

    // the gram CTEs + exact numerator arithmetic: num = s·n − m_i·m_j,
    // floor-scaled by 1e4 (// floors, matching the operator's
    // pmod/decimal floor-div), squares through HUGEINT, PR as one
    // integer division — zero float operations anywhere
    "q_embed_isotropy" ->
      """WITH comp AS (SELECT vec_id, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         up AS (SELECT a.pos AS i, b.pos AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s
                FROM comp a JOIN comp b
                ON a.vec_id = b.vec_id AND a.pos <= b.pos
                GROUP BY 1, 2),
         fm AS (SELECT pos AS j, CAST(sum(q) AS BIGINT) AS s
                FROM comp GROUP BY 1),
         cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         num AS (SELECT up.i, up.j,
                  (up.s * (SELECT n FROM cnt) - fi.s * fj.s) // 10000 AS num
                 FROM up JOIN fm fi ON fi.j = up.i
                         JOIN fm fj ON fj.j = up.j),
         tr AS (SELECT
                  CAST(sum(CASE WHEN i = j THEN num END) AS BIGINT) AS tr_c,
                  sum(CASE WHEN i = j THEN CAST(num AS HUGEINT) * num
                           ELSE 2 * CAST(num AS HUGEINT) * num END) AS tr_c2,
                  CAST(min(CASE WHEN i = j THEN num END) AS BIGINT) AS var_num_min,
                  CAST(max(CASE WHEN i = j THEN num END) AS BIGINT) AS var_num_max,
                  CAST(max(j) + 1 AS INTEGER) AS dim
                FROM num)
         SELECT (SELECT n FROM cnt) AS n, dim,
                CAST((CAST(tr_c AS HUGEINT) * tr_c * 10000) // tr_c2 AS BIGINT) AS pr_x10000,
                var_num_min, var_num_max
         FROM tr""",

    // unrolled Lloyd rounds on the 10⁻⁶ BIGINT grid: identical
    // quantization, tie rule (d, cid), and half-up centroid division as
    // the operator — empty clusters drop out of the update aggregate in
    // both engines, so the semantics need no special-casing
    "q_kmeans" -> kmeansOracle(k = 4, rounds = 2),

    // PQ: training + encode hash-gated as the full code table; serving
    // hash-gated as the ADC top-k — the kmeans unroll with a sub key
    "q_pq_codes" -> pqOracle(m = 4, k = 4, rounds = 2, serveTopK = 0),
    "q_ann_pq" -> pqOracle(m = 4, k = 4, rounds = 2, serveTopK = 10),

    // PQ recall audit: both rankings from the same comp CTE
    "q_pq_recall" -> pqRecallOracle(m = 4, k = 4, rounds = 2, topK = 10),

    "q_opq_recall" -> opqRecallOracle(seed = 7, dim = 64, steps = 16,
      m = 4, k = 4, rounds = 2, topK = 10),

    "q_pq_recall_tuned" ->
      pqRecallOracle(m = 16, k = 16, rounds = 4, topK = 10),

    // capacity sweep: three full train→ADC→gate replays, one per
    // codebook capacity, each a derived table over the shared
    // pqRecallOracle body (DuckDB allows WITH inside a subquery)
    "q_pq_recall_capacity" ->
      Seq(("m4k4", 8, 4, 4), ("m8k16", 32, 8, 16), ("m8k32", 40, 8, 32))
        .map { case (cfg, bits, m, k) =>
          s"""SELECT '$cfg' AS cfg, CAST($bits AS INTEGER) AS bits_per_vec,
                query_id, hits, k
              FROM (${pqRecallOracle(m = m, k = k, rounds = 2, topK = 10)})"""
        }.mkString("\n UNION ALL \n"),

    // greedy k-center: unrolled farthest-point rounds
    "q_coreset" -> coresetOracle(k = 6),
    // coverage assignment against the same unrolled picks
    "q_coreset_assign" -> coresetOracle(k = 6, assign = true),
    // the 2-per-exemplar quota over the assignment
    "q_coreset_sample" ->
      s"""SELECT exemplar_id, vec_id, sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT exemplar_id, vec_id, sqdist, row_number() OVER (
                 PARTITION BY exemplar_id ORDER BY sqdist, vec_id) AS rk
               FROM (${coresetOracle(k = 6, assign = true)}))
         WHERE rk <= 2""",

    // SQ8 recall audit: reconstruction ranking vs the exact brute
    // ranking, per-query intersection counts
    "q_sq8_recall" ->
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         b AS (SELECT pos, min(q) AS qmin, max(q) AS qmax
               FROM comp GROUP BY pos),
         e AS (SELECT vid, pos,
                 (255 * (least(greatest(q, qmin), qmax) - qmin))
                   // greatest(qmax - qmin, 1) AS code
               FROM comp JOIN b USING (pos)),
         r AS (SELECT vid, pos,
                 qmin + ((2 * code + 1) * (qmax - qmin)) // 510 AS rq
               FROM e JOIN b USING (pos)),
         qc AS (SELECT vid AS qid, pos, q AS qq FROM comp WHERE vid < 3),
         d AS (SELECT qid, r.vid AS vid,
                 sum((qq - rq) * (qq - rq)) AS adc
               FROM r JOIN qc ON r.pos = qc.pos GROUP BY qid, r.vid),
         adck AS (SELECT qid, vid FROM (
                    SELECT qid, vid, row_number() OVER (
                      PARTITION BY qid ORDER BY adc, vid) AS rk
                    FROM d WHERE qid <> vid) WHERE rk <= 10),
         bd AS (SELECT qc.qid AS qid, comp.vid AS vid,
                  sum((qq - q) * (qq - q)) AS dx
                FROM comp JOIN qc ON comp.pos = qc.pos
                GROUP BY qc.qid, comp.vid),
         brutek AS (SELECT qid, vid FROM (
                      SELECT qid, vid, row_number() OVER (
                        PARTITION BY qid ORDER BY dx, vid) AS rk
                      FROM bd WHERE qid <> vid) WHERE rk <= 10)
         SELECT a.qid AS query_id, CAST(count(bk.vid) AS INTEGER) AS hits,
                CAST(10 AS INTEGER) AS k
         FROM adck a LEFT JOIN brutek bk
           ON a.qid = bk.qid AND a.vid = bk.vid
         GROUP BY a.qid""",

    // seeded ±1 projection: the md5-nibble coin replayed per (pos, j)
    "q_random_projection" ->
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         p AS (SELECT vid, pos, q, j FROM comp, UNNEST(range(8)) t(j)),
         s AS (SELECT vid, j,
                 CASE WHEN (strpos('0123456789abcdef',
                     substr(md5(concat_ws('|', 42, pos, j)), 1, 1)) - 1)
                     % 2 = 0
                   THEN q ELSE -q END AS term
               FROM p)
         SELECT vid, CAST(j AS INTEGER) AS j,
                CAST(sum(term) AS BIGINT) AS y
         FROM s GROUP BY vid, j""",

    // SQ8: per-dim min/max ranges, clamped affine codes, midpoint
    // reconstruction — every division non-negative, so // ≡ div
    "q_sq8_codes" ->
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         b AS (SELECT pos, min(q) AS qmin, max(q) AS qmax
               FROM comp GROUP BY pos)
         SELECT vid, CAST(pos AS INTEGER) AS pos,
                CAST((255 * (least(greatest(q, qmin), qmax) - qmin))
                     // greatest(qmax - qmin, 1) AS INTEGER) AS code
         FROM comp JOIN b USING (pos)""",

    "q_ann_sq8" ->
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         b AS (SELECT pos, min(q) AS qmin, max(q) AS qmax
               FROM comp GROUP BY pos),
         e AS (SELECT vid, pos,
                 (255 * (least(greatest(q, qmin), qmax) - qmin))
                   // greatest(qmax - qmin, 1) AS code
               FROM comp JOIN b USING (pos)),
         r AS (SELECT vid, pos,
                 qmin + ((2 * code + 1) * (qmax - qmin)) // 510 AS rq
               FROM e JOIN b USING (pos)),
         qc AS (SELECT vid AS qid, pos, q AS qq FROM comp WHERE vid < 3),
         d AS (SELECT qid, r.vid AS vid,
                 sum((qq - rq) * (qq - rq)) AS adc
               FROM r JOIN qc ON r.pos = qc.pos GROUP BY qid, r.vid)
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(adc AS BIGINT) AS adc_sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, adc, row_number() OVER (
                 PARTITION BY qid ORDER BY adc, vid) AS rk
               FROM d WHERE qid <> vid) WHERE rk <= 10""",

    // IVF-PQ: the double k-means unroll (coarse full-vector pass, then
    // sub-keyed rounds over the residual frame) + probe and ADC CTEs
    "q_ivfpq_codes" -> ivfPqOracle(nLists = 4, coarseRounds = 2,
      m = 4, k = 4, pqRounds = 2, nProbe = 0, serveTopK = 0),
    "q_ann_ivfpq" -> ivfPqOracle(nLists = 4, coarseRounds = 2,
      m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10),

    // the factory composition: rotation CTEs swap in as the comp prelude
    "q_ann_opq_ivfpq" -> ivfPqOracle(nLists = 4, coarseRounds = 2,
      m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
      rotate = Some((7L, 64, 16))),
    // split-universe replay: codebooks train on ⅔, encode/serve on all
    "q_ann_ivfpq_append" -> ivfPqOracle(nLists = 4, coarseRounds = 2,
      m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
      trainWhere = Some("vec_id % 3 <> 2")),
    // delete mask: tombstoned vids excluded before ranking
    "q_ann_ivfpq_delete" -> ivfPqOracle(nLists = 4, coarseRounds = 2,
      m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
      deleteWhere = Some("vid % 5 = 1")),
    // two-stage refine: ADC top-30 candidates, exact re-rank to 10
    "q_ann_ivfpq_refine" -> ivfPqOracle(nLists = 4, coarseRounds = 2,
      m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
      rerank = Some(30)),

    "q_bpe_encode" ->
      """WITH w AS (SELECT doc_id,
                regexp_replace(unnest(string_split_regex(lower(trim(text)), '\s+')),
                               '[^a-z0-9]', '', 'g') AS word
              FROM documents),
         e0 AS (SELECT doc_id, regexp_replace(word, '(.)', '(\1)', 'g') AS enc
                FROM w WHERE word <> ''),
         e1 AS (SELECT doc_id, replace(enc, '(e)(r)', '(er)') AS enc FROM e0),
         e2 AS (SELECT doc_id, replace(enc, '(i)(n)', '(in)') AS enc FROM e1),
         e3 AS (SELECT doc_id, replace(enc, '(o)(w)', '(ow)') AS enc FROM e2),
         e4 AS (SELECT doc_id, replace(enc, '(o)(r)', '(or)') AS enc FROM e3),
         e5 AS (SELECT doc_id, replace(enc, '(s)(t)', '(st)') AS enc FROM e4)
         SELECT doc_id, count(*) AS n_words,
                CAST(sum(len(enc) - len(replace(enc, '(', ''))) AS BIGINT)
                  AS n_tokens
         FROM e5 GROUP BY doc_id""",

    // same half-up 10⁻³ quantization, same S_i = n·P_i − i·T in BIGINT
    // (DuckDB's HUGEINT window sums cast back down), same (|S| desc, i)
    // argmax tie rule — any disagreement in order or arithmetic
    // hash-mismatches
    "q_changepoint" ->
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
         FROM d WHERE rn = 1""",

    // same 8-token blocking (DuckDB's 1-based truncating list slice ≡
    // Spark's slice), keep-first expressed as the row_number twin of the
    // operator's min-struct aggregate, same ordered reassembly — a
    // single block kept or dropped differently anywhere in the corpus
    // hash-mismatches the reconstructed text
    "q_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         x AS (SELECT doc_id, (len(toks) + 7) // 8 AS n_blocks, toks FROM t),
         b AS (SELECT doc_id, n_blocks,
                 unnest(range(0, n_blocks)) AS bidx, toks FROM x),
         s AS (SELECT doc_id, bidx,
                 array_to_string(toks[bidx*8+1 : bidx*8+8], ' ') AS block
               FROM b),
         k AS (SELECT doc_id, bidx, block,
                 row_number() OVER (PARTITION BY block
                                    ORDER BY doc_id, bidx) AS rn
               FROM s),
         r AS (SELECT doc_id,
                 count(*) FILTER (WHERE rn = 1) AS n_kept,
                 string_agg(block, ' ' ORDER BY bidx)
                   FILTER (WHERE rn = 1) AS text_kept
               FROM k GROUP BY doc_id)
         SELECT x.doc_id, CAST(x.n_blocks AS INTEGER) AS n_blocks,
                CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
                COALESCE(r.text_kept, '') AS text_kept
         FROM x LEFT JOIN r ON x.doc_id = r.doc_id""",

    // generated from the SAME feature grid the operator runs
    // (comomentFeats): one UNION ALL arm per unordered pair, identical
    // half-up quantization, sums cast from DuckDB's HUGEINT to BIGINT
    "q_comoments" -> comomentOracle,

    // exact d≤2 closure per radius (self ∪ neighbors ∪ 2-step), with the
    // tolerance boolean pinned TRUE — the estimate-vs-exact twin pattern
    // (q_triangles_approx): a sketch drifting past 15% of the exact
    // neighborhood function hash-mismatches
    "q_hyperball" ->
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
         SELECT 2, (SELECT n FROM b2), TRUE""",

    // sparse arm = the q_bm25 pipeline ranked over the ROUNDED score
    // (q_keywords' accepted ulp class); dense arm = the q_ann_brute
    // decimal-exact cosine ranking for query 0; fusion in integer
    // µ-units — identical quantization, k=60, and (rrf desc, id) order
    "q_hybrid_search" ->
      """WITH w AS (SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
         base AS (SELECT doc_id, len(ws) AS dl,
                len(list_filter(ws, x -> x = 'spark')) AS tf_0,
                len(list_filter(ws, x -> x = 'table')) AS tf_1,
                len(list_filter(ws, x -> x = 'join'))  AS tf_2
              FROM w),
         stats AS (SELECT
                CAST(count(*) AS DOUBLE) AS n_docs,
                CAST(sum(dl) AS DOUBLE) AS sum_dl,
                CAST(count(CASE WHEN tf_0 > 0 THEN 1 END) AS DOUBLE) AS df_0,
                CAST(count(CASE WHEN tf_1 > 0 THEN 1 END) AS DOUBLE) AS df_1,
                CAST(count(CASE WHEN tf_2 > 0 THEN 1 END) AS DOUBLE) AS df_2
              FROM base),
         sc AS (SELECT doc_id,
                round(
                  ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
                    * (CAST(tf_0 AS DOUBLE) * 2.2)
                    / (CAST(tf_0 AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
                    * (CAST(tf_1 AS DOUBLE) * 2.2)
                    / (CAST(tf_1 AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
                    * (CAST(tf_2 AS DOUBLE) * 2.2)
                    / (CAST(tf_2 AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs)))),
                4) AS bm25
              FROM base, stats),
         sr AS (SELECT doc_id, rnk FROM (
                  SELECT doc_id, row_number()
                    OVER (ORDER BY bm25 DESC, doc_id) AS rnk FROM sc)
                WHERE rnk <= 50),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv
               FROM embeddings WHERE vec_id <> 0),
         d AS (SELECT neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM c, q, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1),
         dr AS (SELECT neighbor_id AS doc_id, rnk FROM (
                  SELECT neighbor_id, row_number()
                    OVER (ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC,
                          neighbor_id) AS rnk FROM d)
                WHERE rnk <= 50),
         contrib AS (
           SELECT doc_id,
                  CAST(floor(1e12 / (60 + rnk) + 0.5) AS BIGINT) AS c
           FROM sr
           UNION ALL
           SELECT doc_id,
                  CAST(floor(1e12 / (60 + rnk) + 0.5) AS BIGINT)
           FROM dr),
         f AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lists,
                 CAST(sum(c) AS BIGINT) AS rrf_micro
               FROM contrib GROUP BY doc_id)
         SELECT doc_id, n_lists, rrf_micro, CAST(rnk AS INTEGER) AS rank
         FROM (SELECT doc_id, n_lists, rrf_micro, row_number()
                 OVER (ORDER BY rrf_micro DESC, doc_id) AS rnk FROM f)
         WHERE rnk <= 20""",

    // exact per-node d≤1/d≤2 ball sizes from the closure, µ-harmonic as
    // the INTEGER d1·10⁶+(d2−d1)·5·10⁵ (a float sum would hash-drift),
    // tolerance boolean pinned TRUE — the q_hyperball twin pattern
    "q_harmonic" ->
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
         FROM b1 JOIN b2 USING (a)""",

    // two unrolled weighted iterations: parallel edges SUM-collapsed,
    // HUGEINT score·w (the BIGINT product would overflow at sf1's
    // summed weights), floor quotient, same base/damp arithmetic as
    // q_pagerank
    "q_pagerank_weighted" ->
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
         SELECT id, score FROM s2""",

    // same integer day/halving buckets (// on non-negative operands ≡
    // Spark div; a double divide + CAST would round where Spark
    // truncates), same exact 2^(−n) weights and half-up µ-contributions
    "q_decay" ->
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
         FROM c GROUP BY user_id""",

    // distinct (lang, word) memberships, pairs under the same ascending
    // string order the operator's sorted group sets produce, µ-Jaccard
    // as the same half-up integer division
    "q_group_overlap" ->
      """WITH ge AS (SELECT DISTINCT lang AS g,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS e
              FROM documents WHERE lang IS NOT NULL),
         sizes AS (SELECT g, count(*) AS n FROM ge GROUP BY g),
         pairs AS (SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_common
                   FROM ge a JOIN ge b ON a.e = b.e AND a.g < b.g
                   GROUP BY 1, 2)
         SELECT g_a, g_b, sa.n AS n_a, sb.n AS n_b, n_common,
                CAST((2 * 1000000 * n_common + (sa.n + sb.n - n_common))
                     // (2 * (sa.n + sb.n - n_common)) AS BIGINT)
                  AS jaccard_micro
         FROM pairs JOIN sizes sa ON sa.g = g_a
                    JOIN sizes sb ON sb.g = g_b""",

    // both rankings replayed with the decimal-exact dot (the q_ann_brute
    // parity), truncation as the same 1-based list slice, overlap
    // counted on (query, neighbor) with zero-overlap queries kept
    "q_trunc_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         pf AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c
                ON query_id <> neighbor_id),
         df_ AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM pf, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         fr AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number()
                    OVER (PARTITION BY query_id
                          ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC,
                                neighbor_id) AS rk
                  FROM df_) WHERE rk <= 10),
         qt AS (SELECT vec_id AS query_id, embedding[1:16] AS qv
                FROM embeddings WHERE vec_id < 8),
         ct AS (SELECT vec_id AS neighbor_id, embedding[1:16] AS cv
                FROM embeddings),
         pt AS (SELECT query_id, neighbor_id, qv, cv FROM qt JOIN ct
                ON query_id <> neighbor_id),
         dt AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM pt, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         tr AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number()
                    OVER (PARTITION BY query_id
                          ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC,
                                neighbor_id) AS rk
                  FROM dt) WHERE rk <= 10),
         ov AS (SELECT t.query_id, count(*) AS n
                FROM tr t JOIN fr f USING (query_id, neighbor_id)
                GROUP BY 1)
         SELECT qq.query_id,
                CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
                10 AS k
         FROM (SELECT DISTINCT query_id FROM qt) qq
         LEFT JOIN ov USING (query_id)""",

    // one arm per audited pair, identical NULL semantics (GROUP BY
    // groups NULL keys, count(DISTINCT) ignores NULL dependents)
    "q_fd_audit" ->
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
               FROM orders GROUP BY 1)""",

    // two unrolled peeling rounds: triangles found once at x<y<z (the
    // canonical-edge join), support = the 3 role projections counted,
    // survivors re-evaluated on the ROUND-1 edge set — a single edge
    // kept or peeled differently anywhere hash-mismatches
    "q_ktruss" ->
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
         SELECT a, b FROM e2 JOIN s2 USING (a, b) WHERE s >= 2""",

    // the q_sample_n md5-bucket arithmetic feeding the A-ES key
    // ln(u)/weight rounded to 10 dp (the accepted ln-ulp class), same
    // (key desc, id) order and the same weight>0 drop
    "q_weighted_sample" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
                 (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1) AS bucket
               FROM documents WHERE n_chars > 0),
         k AS (SELECT doc_id, lang, n_chars,
                 round(ln((bucket + 1) / 4294967296.0)
                       / CAST(n_chars AS DOUBLE), 10) AS ky
               FROM b),
         r AS (SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY ky DESC, doc_id) AS rk
               FROM k)
         SELECT doc_id, lang, n_chars, rk FROM r WHERE rk <= 25""",

    // same non-negative chunk-count arithmetic (Spark div and DuckDB //
    // agree only on non-negative operands — the greatest() is parity,
    // not style), same 1-based truncating slice
    "q_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         x AS (SELECT doc_id, toks,
                 CAST(1 + (greatest(len(toks) - 32, 0) + 23) // 24 AS INT)
                   AS n_chunks FROM t),
         c AS (SELECT doc_id, toks,
                 unnest(range(0, n_chunks)) AS chunk_idx FROM x),
         s AS (SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                 toks[chunk_idx*24+1 : chunk_idx*24+32] AS chunk FROM c)
         SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_tok,
                array_to_string(chunk, ' ') AS chunk_text
         FROM s"""
  )

  /** One SELECT per pair over the shared grid — kept as generated SQL so
    * the arm list can never drift from the operator's pair loop. */
  private def comomentOracle: String = {
    val arms = for {
      i <- comomentFeats.indices
      j <- i until comomentFeats.size
    } yield {
      val (ci, si) = comomentFeats(i)
      val (cj, sj) = comomentFeats(j)
      val qi = s"CAST(floor($ci * $si + 0.5) AS BIGINT)"
      val qj = s"CAST(floor($cj * $sj + 0.5) AS BIGINT)"
      s"""SELECT l_returnflag, '$ci' AS fi, '$cj' AS fj,
         count(*) AS n, CAST(sum($qi) AS BIGINT) AS s_i,
         CAST(sum($qj) AS BIGINT) AS s_j,
         CAST(sum($qi * $qj) AS BIGINT) AS s_ij
         FROM lineitem WHERE $qi IS NOT NULL AND $qj IS NOT NULL
         GROUP BY l_returnflag"""
    }
    arms.mkString("\n UNION ALL \n")
  }

  /** The BPE-train oracle: the SAME k greedy merge rounds the engine
    * runs, unrolled as a generated CTE chain (pair counts → total-order
    * argmax → leftmost-non-overlapping replace, per round). Generated
    * rather than hand-written so the round count stays in one place. */
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

  /** The PQ replay: [[kmeansOracle]] with a `sub` key — per-subspace
    * init/assign/update unrolled, then (for `serveTopK` > 0) the ADC
    * distance-table serve. `sub` derives from the GLOBAL pos like the
    * operator's (`//` in DuckDB vs truncating cast in Spark — equal on
    * non-negative operands); intermediate HUGEINT sums cast to BIGINT
    * only at output columns. */
  /** The greedy k-center replay: unrolled farthest-point rounds —
    * per round an argmax pick (ORDER BY dmin DESC, vid LIMIT 1) and a
    * least()-folded distance update against the pick's components. */
  /** Count-Min: 4-nibble md5 buckets (the engine-shared coin) over
    * lineitem part keys — the sketch table, or the estimate-vs-truth
    * audit row with the one-sided-error boolean. */
  private def countMinOracle(est: Boolean): String = {
    val (d, w) = (4, 512)
    val arg = "'42|'||CAST(i AS VARCHAR)||'|'||k"
    val bucket =
      s"""((strpos('0123456789abcdef', substr(md5($arg), 1, 1)) - 1) * 4096 +
           (strpos('0123456789abcdef', substr(md5($arg), 2, 1)) - 1) * 256 +
           (strpos('0123456789abcdef', substr(md5($arg), 3, 1)) - 1) * 16 +
           (strpos('0123456789abcdef', substr(md5($arg), 4, 1)) - 1)) % $w"""
    val sketch =
      s"""ks AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
         cells AS (SELECT t.i AS i, $bucket AS j
                   FROM ks CROSS JOIN range($d) t(i)),
         sk AS (SELECT CAST(i AS INTEGER) AS i, CAST(j AS BIGINT) AS j,
                  count(*) AS cnt
                FROM cells GROUP BY 1, 2)"""
    if (!est) s"WITH $sketch SELECT i, j, cnt FROM sk"
    else
      s"""WITH $sketch,
         q AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS k
               FROM lineitem WHERE l_partkey < 50),
         qb AS (SELECT k, CAST(t.i AS INTEGER) AS i,
                  CAST($bucket AS BIGINT) AS j
                FROM q CROSS JOIN range($d) t(i)),
         e AS (SELECT qb.k AS key, min(coalesce(sk.cnt, 0)) AS est
               FROM qb LEFT JOIN sk ON sk.i = qb.i AND sk.j = qb.j
               GROUP BY 1),
         tr AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
                  count(*) AS true_cnt
                FROM lineitem WHERE l_partkey < 50 GROUP BY 1)
         SELECT e.key AS key, est, true_cnt, est >= true_cnt AS over_ok
         FROM e JOIN tr ON tr.key = e.key"""
  }

  /** Range search: exact grid sqdist per (query, corpus) pair, cut at
    * the radius — shared by q_ann_radius and q_ann_radius_probed (the
    * probed face at nProbe = nLists is row-identical by construction). */
  private def rangeSearchOracle: String =
    """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
           CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       qc AS (SELECT * FROM comp WHERE vid < 5),
       d AS (SELECT qc.vid AS query_id, c.vid AS neighbor_id,
               CAST(sum((c.q - qc.q) * (c.q - qc.q)) AS BIGINT) AS sqdist
             FROM comp c JOIN qc ON qc.pos = c.pos AND qc.vid <> c.vid
             GROUP BY 1, 2)
       SELECT query_id, neighbor_id, sqdist
       FROM d WHERE sqdist <= 1450000000000""".stripMargin

  private def coresetOracle(k: Int, assign: Boolean = false): String = {
    val prelude =
      """comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         s0 AS (SELECT min(vec_id) AS cid FROM embeddings),
         d0 AS (SELECT c.vid AS vid, sum((c.q - s.q) * (c.q - s.q)) AS dmin
                FROM comp c JOIN comp s ON s.pos = c.pos
                  AND s.vid = (SELECT cid FROM s0)
                GROUP BY c.vid)"""
    val perRound = (1 until k).map { r =>
      val update =
        if (r == k - 1) ""
        else s""",
         d$r AS (SELECT d.vid AS vid, least(d.dmin, x.d) AS dmin
                 FROM d${r - 1} d JOIN (
                   SELECT c.vid AS vid,
                          sum((c.q - s.q) * (c.q - s.q)) AS d
                   FROM comp c JOIN comp s ON s.pos = c.pos
                     AND s.vid = (SELECT vid FROM r$r)
                   GROUP BY c.vid) x ON x.vid = d.vid)"""
      s"""r$r AS (SELECT vid, dmin FROM d${r - 1}
               ORDER BY dmin DESC, vid LIMIT 1)$update"""
    }
    val finals =
      if (!assign)
        (s"""SELECT CAST((SELECT cid FROM s0) AS BIGINT) AS vec_id,
             CAST(0 AS INTEGER) AS rk, CAST(0 AS BIGINT) AS radius""" +:
          (1 until k).map(r =>
            s"SELECT vid, CAST($r AS INTEGER), CAST(dmin AS BIGINT) FROM r$r"))
          .mkString("\n         UNION ALL ")
      else {
        val centers = (s"SELECT cid AS vid FROM s0" +:
          (1 until k).map(r => s"SELECT vid FROM r$r"))
          .mkString(" UNION ALL ")
        s"""SELECT vid AS vec_id, cid AS exemplar_id,
                CAST(d AS BIGINT) AS sqdist
         FROM (SELECT comp.vid AS vid, cf.cid AS cid,
                 sum((comp.q - cf.cq) * (comp.q - cf.cq)) AS d,
                 row_number() OVER (PARTITION BY comp.vid
                   ORDER BY sum((comp.q - cf.cq) * (comp.q - cf.cq)),
                            cf.cid) AS rn
               FROM comp JOIN (
                 SELECT c.vid AS cid, comp.pos AS pos, comp.q AS cq
                 FROM ($centers) c JOIN comp ON comp.vid = c.vid) cf
                 ON cf.pos = comp.pos
               GROUP BY comp.vid, cf.cid) WHERE rn = 1"""
      }
    (Seq(prelude) ++ perRound)
      .mkString("WITH ", ",\n         ", "\n         ") + finals
  }

  /** The PQ recall audit: ADC top-k vs the exact-grid brute top-k,
    * per-query intersection counts — both rankings derived from the
    * SAME comp CTE (the exact distance is the full-pos sum, the ADC
    * the trained-table sum), so recall is hash-exact, not sampled. */
  /** One PQ recall measurement (train → encode → ADC top-k vs brute
    * top-k → per-query gated intersection counts) — the shape
    * q_pq_recall/q_pq_recall_tuned inline, factored for the capacity
    * sweep. Output (query_id, hits, k). */
  private def pqRecallDf(emb: org.apache.spark.sql.DataFrame, m: Int,
      k: Int, rounds: Int): org.apache.spark.sql.DataFrame = {
    val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
      m = m, k = k, rounds = rounds)
    val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
    val adc = graft.ext.PqIndex.adcTopK(codes, cb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val ex = graft.ext.PqIndex.exactTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    adc.join(ex, col("query_id") === col("q2") &&
        col("neighbor_id") === col("n2"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("n2")).cast("int").as("hits"))
      .withColumn("k", lit(10))
  }

  private def pqRecallOracle(m: Int, k: Int, rounds: Int,
      topK: Int): String =
    pqCoreCtes(m, k, rounds) + s""",
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         dt AS (SELECT qid, sub, cid, sum((q - cq) * (q - cq)) AS dtv
                FROM qc JOIN c${rounds - 1} USING (pos)
                GROUP BY qid, sub, cid),
         sc AS (SELECT qid, a.vid AS vid, sum(dtv) AS adc
                FROM a$rounds a JOIN dt ON a.sub = dt.sub AND a.cid = dt.cid
                GROUP BY qid, a.vid),
         adck AS (SELECT qid, vid FROM (
                    SELECT qid, vid, row_number() OVER (
                      PARTITION BY qid ORDER BY adc, vid) AS rk
                    FROM sc WHERE qid <> vid) WHERE rk <= $topK),
         bd AS (SELECT qc.qid AS qid, comp.vid AS vid,
                  sum((qc.q - comp.q) * (qc.q - comp.q)) AS d
                FROM comp JOIN qc ON comp.pos = qc.pos
                GROUP BY qc.qid, comp.vid),
         brutek AS (SELECT qid, vid FROM (
                      SELECT qid, vid, row_number() OVER (
                        PARTITION BY qid ORDER BY d, vid) AS rk
                      FROM bd WHERE qid <> vid) WHERE rk <= $topK)
         SELECT a.qid AS query_id, CAST(count(b.vid) AS INTEGER) AS hits,
                CAST($topK AS INTEGER) AS k
         FROM adck a LEFT JOIN brutek b
           ON a.qid = b.qid AND a.vid = b.vid
         GROUP BY a.qid"""

  /** init/c0 + the sub-keyed training rounds over a CTE named `comp` —
    * shared by [[pqOracle]], [[pqRecallOracle]], and (with a ROTATED
    * comp) [[opqRecallOracle]]. */
  private def pqTrainCtes(k: Int, rounds: Int): String = {
    val initC0 =
      s"""init AS (SELECT vec_id AS vid,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
         c0 AS (SELECT cid, pos, q AS cq FROM init JOIN comp USING (vid))"""
    val perRound = (1 to rounds).map { r =>
      val update =
        if (r == rounds) ""
        else s""",
         c$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM a$r JOIN comp USING (vid, sub) GROUP BY cid, pos)"""
      s"""d$r AS (SELECT vid, sub, cid, sum((q - cq) * (q - cq)) AS d
               FROM comp JOIN c${r - 1} USING (pos) GROUP BY vid, sub, cid),
         a$r AS (SELECT vid, sub, cid, d FROM (
                   SELECT vid, sub, cid, d, row_number() OVER (
                     PARTITION BY vid, sub ORDER BY d, cid) AS rn
                   FROM d$r) WHERE rn = 1)$update"""
    }
    (Seq(initC0) ++ perRound).mkString(",\n         ")
  }

  /** comp/init/c0 + the sub-keyed training rounds — shared by
    * [[pqOracle]] and [[pqRecallOracle]]. */
  private def pqCoreCtes(m: Int, k: Int, rounds: Int): String = {
    val prelude =
      s"""comp AS (SELECT vec_id AS vid,
               CAST((i - 1) // (len(embedding) // $m) AS INTEGER) AS sub,
               i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i))"""
    "WITH " + prelude + ",\n         " + pqTrainCtes(k, rounds)
  }

  /** The q_opq_recall replay: rebuild the exact-rational rotation
    * matrix from the SAME (p, q, sign) step literals the Spark side
    * uses (16 window-CTEs over the 64×64 integer identity — every
    * entry exact BIGINT, every sum order-free), rotate the quantized
    * components, floor-divide back to the grid, then the standard PQ
    * train/ADC CTEs over the ROTATED comps and the brute ranking over
    * the ORIGINAL comps — recall is always measured against original-
    * space ground truth. */
  /** The exact-rational rotation as CTEs: comp0 (raw grid comps),
    * r0..r<steps> (the integer matrix built from the SAME step
    * literals the Spark side uses), rott (BIGINT dots — order-free
    * integer sums), and a ROTATED `comp` in the standard (vid, sub,
    * pos, q) shape every PQ/IVF-PQ oracle consumes. */
  private def rationalRotationCtes(seed: Long, dim: Int, steps: Int,
      m: Int): String = {
    val sched = graft.ext.Opq.schedule(seed, dim, steps)
    val denom = (0 until steps).foldLeft(1L)((a, _) => a * 5L)
    val stepCtes = sched.zipWithIndex.map { case ((p, q, s), t0) =>
      val t = t0 + 1
      s"""r$t AS (SELECT r, c,
                CASE WHEN r = $p THEN 3 * wp + ($s) * 4 * wq
                     WHEN r = $q THEN -($s) * 4 * wp + 3 * wq
                     ELSE 5 * w END AS w
              FROM (SELECT r, c, w,
                      MAX(CASE WHEN r = $p THEN w END) OVER (PARTITION BY c) AS wp,
                      MAX(CASE WHEN r = $q THEN w END) OVER (PARTITION BY c) AS wq
                    FROM r${t - 1}))"""
    }.mkString(",\n         ")
    s"""comp0 AS (SELECT vec_id AS vid, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         r0 AS (SELECT ti.i::INTEGER AS r, tj.j::INTEGER AS c,
                  CASE WHEN ti.i = tj.j THEN 1::BIGINT ELSE 0::BIGINT END AS w
                FROM range($dim) ti(i), range($dim) tj(j)),
         $stepCtes,
         rott AS (SELECT vid, rr.r AS pos, SUM(rr.w * comp0.q) AS u
                  FROM r$steps rr JOIN comp0 ON comp0.pos = rr.c
                  GROUP BY vid, rr.r),
         comp AS (SELECT vid, CAST(pos // ${dim / m} AS INTEGER) AS sub,
                    pos, u // $denom AS q
                  FROM rott)"""
  }

  private def opqRecallOracle(seed: Long, dim: Int, steps: Int, m: Int,
      k: Int, rounds: Int, topK: Int): String = {
    s"""WITH ${rationalRotationCtes(seed, dim, steps, m)},
         ${pqTrainCtes(k, rounds)},
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         dt AS (SELECT qid, sub, cid, sum((q - cq) * (q - cq)) AS dtv
                FROM qc JOIN c${rounds - 1} USING (pos)
                GROUP BY qid, sub, cid),
         sc AS (SELECT qid, a.vid AS vid, sum(dtv) AS adc
                FROM a$rounds a JOIN dt ON a.sub = dt.sub AND a.cid = dt.cid
                GROUP BY qid, a.vid),
         adck AS (SELECT qid, vid FROM (
                    SELECT qid, vid, row_number() OVER (
                      PARTITION BY qid ORDER BY adc, vid) AS rk
                    FROM sc WHERE qid <> vid) WHERE rk <= $topK),
         bq AS (SELECT vid AS qid, pos, q FROM comp0 WHERE vid < 3),
         bd AS (SELECT bq.qid AS qid, comp0.vid AS vid,
                  sum((bq.q - comp0.q) * (bq.q - comp0.q)) AS d
                FROM comp0 JOIN bq ON comp0.pos = bq.pos
                GROUP BY bq.qid, comp0.vid),
         brutek AS (SELECT qid, vid FROM (
                      SELECT qid, vid, row_number() OVER (
                        PARTITION BY qid ORDER BY d, vid) AS rk
                      FROM bd WHERE qid <> vid) WHERE rk <= $topK)
         SELECT a.qid AS query_id, CAST(count(b.vid) AS INTEGER) AS hits,
                CAST($topK AS INTEGER) AS k
         FROM adck a LEFT JOIN brutek b
           ON a.qid = b.qid AND a.vid = b.vid
         GROUP BY a.qid"""
  }

  private def pqOracle(m: Int, k: Int, rounds: Int,
      serveTopK: Int): String = {
    val body = pqCoreCtes(m, k, rounds)
    if (serveTopK <= 0)
      body + s"""
         SELECT vid, sub, CAST(cid AS INTEGER) AS code,
                CAST(d AS BIGINT) AS sqdist FROM a$rounds"""
    else
      body + s""",
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         dt AS (SELECT qid, sub, cid, sum((q - cq) * (q - cq)) AS dtv
                FROM qc JOIN c${rounds - 1} USING (pos)
                GROUP BY qid, sub, cid),
         sc AS (SELECT qid, a.vid AS vid, sum(dtv) AS adc
                FROM a$rounds a JOIN dt ON a.sub = dt.sub AND a.cid = dt.cid
                GROUP BY qid, a.vid)
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(adc AS BIGINT) AS adc_sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, adc, row_number() OVER (
                 PARTITION BY qid ORDER BY adc, vid) AS rk
               FROM sc WHERE qid <> vid) WHERE rk <= $serveTopK"""
  }

  /** The IVF-PQ replay: the k-means unroll TWICE — a full-vector
    * coarse pass (`c*`/`d*`/`a*` CTEs), an exact-residual frame, then
    * the sub-keyed PQ rounds over it (`pc*`/`pd*`/`pa*`), plus (for
    * `serveTopK` > 0) probe selection and the per-(query, list) ADC
    * distance table. All BIGINT on the shared grid; HUGEINT sums cast
    * at output columns only. */
  private def ivfPqOracle(nLists: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, nProbe: Int, serveTopK: Int,
      trainWhere: Option[String] = None,
      deleteWhere: Option[String] = None,
      rerank: Option[Int] = None,
      rotate: Option[(Long, Int, Int)] = None): String = {
    val C = coarseRounds
    val R = pqRounds
    // tombstone mask (q_ann_ivfpq_delete): excluded vids drop from the
    // candidate set BEFORE ranking — ranks close up, the load-mask
    // semantics exactly
    val deleteAnd = deleteWhere.map(w => s" AND NOT ($w)").getOrElse("")
    // split-universe mode (the append face): codebooks train on the
    // filtered universe, but encode/serve cover EVERY vector — extra
    // aE/resE/paE CTEs re-run assignment over the full frame against
    // the train-universe codebooks, exactly what save + appendSave of
    // the encoded remainder serves after a reload
    val T = trainWhere.map(_ => "tcomp").getOrElse("comp")
    val tWhere = trainWhere.map(w => s" WHERE $w").getOrElse("")
    val tcomp = trainWhere.map(_ =>
      s""",
         tcomp AS (SELECT * FROM comp WHERE vid IN (
                     SELECT vec_id FROM embeddings$tWhere))""").getOrElse("")
    // rotate = Some((seed, dim, steps)): comp is the exact-rational
    // ROTATED component frame (the FAISS "OPQ..,IVF..,PQ.." factory
    // composition) — everything downstream (coarse, residuals, PQ,
    // probe, ADC) consumes the same (vid, sub, pos, q) shape untouched
    val compCte = rotate match {
      case Some((seed, dim, steps)) =>
        rationalRotationCtes(seed, dim, steps, m)
      case None =>
        s"""comp AS (SELECT vec_id AS vid,
               CAST((i - 1) // (len(embedding) // $m) AS INTEGER) AS sub,
               i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i))"""
    }
    val prelude =
      s"""$compCte$tcomp,
         init AS (SELECT vec_id AS vid,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                  FROM (SELECT vec_id FROM embeddings$tWhere
                        ORDER BY vec_id LIMIT $nLists)),
         c0 AS (SELECT cid, pos, q AS cq FROM init JOIN $T USING (vid))"""
    val coarse = (1 to C).map { r =>
      val update =
        if (r == C) ""
        else s""",
         c$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM a$r JOIN $T USING (vid) GROUP BY cid, pos)"""
      s"""d$r AS (SELECT vid, cid, sum((q - cq) * (q - cq)) AS d
               FROM $T JOIN c${r - 1} USING (pos) GROUP BY vid, cid),
         a$r AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (
                     PARTITION BY vid ORDER BY d, cid) AS rn
                   FROM d$r) WHERE rn = 1)$update"""
    }
    val residual =
      s"""res AS (SELECT $T.vid AS vid, $T.sub AS sub, $T.pos AS pos,
                $T.q - c.cq AS q
              FROM $T JOIN a$C a ON $T.vid = a.vid
                JOIN c${C - 1} c ON c.cid = a.cid AND c.pos = $T.pos),
         pinit AS (SELECT vec_id AS vid,
                     CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                   FROM (SELECT vec_id FROM embeddings$tWhere
                         ORDER BY vec_id LIMIT $k)),
         pc0 AS (SELECT cid, pos, q AS cq FROM pinit JOIN res USING (vid))"""
    val pq = (1 to R).map { r =>
      val update =
        if (r == R) ""
        else s""",
         pc$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM pa$r JOIN res USING (vid, sub) GROUP BY cid, pos)"""
      s"""pd$r AS (SELECT vid, sub, cid, sum((q - cq) * (q - cq)) AS d
               FROM res JOIN pc${r - 1} USING (pos) GROUP BY vid, sub, cid),
         pa$r AS (SELECT vid, sub, cid, d FROM (
                   SELECT vid, sub, cid, d, row_number() OVER (
                     PARTITION BY vid, sub ORDER BY d, cid) AS rn
                   FROM pd$r) WHERE rn = 1)$update"""
    }
    // encode names: in split-universe mode the full-frame assignment
    // CTEs (aE/resE/paE) feed the finals; otherwise the training
    // assignments ARE the encode
    val (aF, paF) = if (trainWhere.isDefined) ("aE", "paE") else (s"a$C", s"pa$R")
    val encodeFull = trainWhere.map { _ =>
      s"""dE AS (SELECT vid, cid, sum((q - cq) * (q - cq)) AS d
               FROM comp JOIN c${C - 1} USING (pos) GROUP BY vid, cid),
         aE AS (SELECT vid, cid FROM (
                  SELECT vid, cid, row_number() OVER (
                    PARTITION BY vid ORDER BY d, cid) AS rn
                  FROM dE) WHERE rn = 1),
         resE AS (SELECT comp.vid AS vid, comp.sub AS sub,
                    comp.pos AS pos, comp.q - c.cq AS q
                  FROM comp JOIN aE a ON comp.vid = a.vid
                    JOIN c${C - 1} c ON c.cid = a.cid AND c.pos = comp.pos),
         pdE AS (SELECT vid, sub, cid, sum((q - cq) * (q - cq)) AS d
                 FROM resE JOIN pc${R - 1} USING (pos)
                 GROUP BY vid, sub, cid),
         paE AS (SELECT vid, sub, cid, d FROM (
                   SELECT vid, sub, cid, d, row_number() OVER (
                     PARTITION BY vid, sub ORDER BY d, cid) AS rn
                   FROM pdE) WHERE rn = 1)"""
    }.toSeq
    val lst = s"lst AS (SELECT vid, cid AS list_id FROM $aF)"
    val body = (Seq(prelude) ++ coarse ++ Seq(residual) ++ pq ++
      encodeFull ++ Seq(lst)).mkString("WITH ", ",\n         ", "")
    if (serveTopK <= 0)
      body + s"""
         SELECT p.vid AS vid, l.list_id AS list_id, p.sub AS sub,
                CAST(p.cid AS INTEGER) AS code, CAST(p.d AS BIGINT) AS sqdist
         FROM $paF p JOIN lst l ON p.vid = l.vid"""
    else
      body + s""",
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         qd AS (SELECT qid, cid, sum((q - cq) * (q - cq)) AS d
                FROM qc JOIN c${C - 1} USING (pos) GROUP BY qid, cid),
         probe AS (SELECT qid, cid AS list_id FROM (
                     SELECT qid, cid, row_number() OVER (
                       PARTITION BY qid ORDER BY d, cid) AS rn
                     FROM qd) WHERE rn <= $nProbe),
         qres AS (SELECT qc.qid AS qid, probe.list_id AS list_id,
                    qc.sub AS sub, qc.pos AS pos, qc.q - c.cq AS qr
                  FROM qc JOIN probe ON qc.qid = probe.qid
                    JOIN c${C - 1} c ON c.cid = probe.list_id
                      AND c.pos = qc.pos),
         dt AS (SELECT qid, list_id, sub, cid,
                  sum((qr - cq) * (qr - cq)) AS dtv
                FROM qres JOIN pc${R - 1} USING (pos)
                GROUP BY qid, list_id, sub, cid),
         sc AS (SELECT dt.qid AS qid, p.vid AS vid, sum(dtv) AS adc
                FROM $paF p JOIN lst l ON p.vid = l.vid
                  JOIN dt ON dt.list_id = l.list_id AND dt.sub = p.sub
                    AND dt.cid = p.cid
                GROUP BY dt.qid, p.vid)""" + (rerank match {
        case None => s"""
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(adc AS BIGINT) AS adc_sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, adc, row_number() OVER (
                 PARTITION BY qid ORDER BY adc, vid) AS rk
               FROM sc WHERE qid <> vid$deleteAnd)
         WHERE rk <= $serveTopK"""
        case Some(rr) => s""",
         candk AS (SELECT qid, vid FROM (
                     SELECT qid, vid, row_number() OVER (
                       PARTITION BY qid ORDER BY adc, vid) AS rk
                     FROM sc WHERE qid <> vid$deleteAnd) WHERE rk <= $rr),
         ex AS (SELECT ck.qid AS qid, comp.vid AS vid,
                  sum((qcf.q - comp.q) * (qcf.q - comp.q)) AS d
                FROM comp JOIN candk ck ON comp.vid = ck.vid
                  JOIN qc qcf ON qcf.qid = ck.qid AND qcf.pos = comp.pos
                GROUP BY ck.qid, comp.vid)
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(d AS BIGINT) AS sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, d, row_number() OVER (
                 PARTITION BY qid ORDER BY d, vid) AS rk
               FROM ex) WHERE rk <= $serveTopK"""
      })
  }

  private def kmeansOracle(k: Int, rounds: Int): String = {
    val prelude =
      s"""comp AS (SELECT vec_id AS vid, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         init AS (SELECT vec_id AS vid,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
         c0 AS (SELECT cid, pos, q AS cq FROM init JOIN comp USING (vid))"""
    val perRound = (1 to rounds).map { r =>
      val update =
        if (r == rounds) ""
        else s""",
         c$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM a$r JOIN comp USING (vid) GROUP BY cid, pos)"""
      s"""d$r AS (SELECT vid, cid, sum((q - cq) * (q - cq)) AS d
               FROM comp JOIN c${r - 1} USING (pos) GROUP BY vid, cid),
         a$r AS (SELECT vid, cid, d FROM (
                   SELECT vid, cid, d, row_number() OVER (
                     PARTITION BY vid ORDER BY d, cid) AS rn
                   FROM d$r) WHERE rn = 1)$update"""
    }
    (Seq(prelude) ++ perRound).mkString("WITH ", ",\n         ", "\n") +
      s"""SELECT vid AS vec_id, CAST(cid AS INTEGER) AS cluster_id,
                 CAST(d AS BIGINT) AS sqdist FROM a$rounds"""
  }

  /** The unigram-LM EM replay: candidate seeding, per-round quantized
    * scores, canonical-path Viterbi via full segmentation enumeration
    * (words are histogram-short, so the path count is tiny; the
    * OPERATOR'S Viterbi is linear — enumeration is oracle-only), usage
    * recount. Mirrors ext/UnigramLm term for term. */
  /** The batch-perceptron replay: the quality-signal feature CTE plus
    * one (margin, update, weights) CTE triple per round — all BIGINT.
    * `score = false` emits the trained weight vector (long format);
    * `score = true` adds one more margin pass under the final weights
    * and emits per-doc (margin, pred). */
  private def perceptronOracle(rounds: Int, score: Boolean,
      avg: Boolean = false): String = {
    val w0 =
      s"""f AS (SELECT doc_id,
             CASE WHEN $qualityFormulaSql >= 0.55 THEN 1 ELSE -1 END AS y,
             CAST(1000000 AS BIGINT) AS xo,
             (m * 1000000) // w AS xs,
             (p * 1000000) // greatest(c, 1) AS xp,
             least(w, 50) * 20000 AS xl
           FROM t),
         w0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS vo,
                       CAST(0 AS BIGINT) AS vs, CAST(0 AS BIGINT) AS vp,
                       CAST(0 AS BIGINT) AS vl)"""
    val last = if (score) rounds + 1 else rounds
    val perRound = (1 to last).map { r =>
      val accum = // the averaged face: running Σᵣ wᵣ alongside the walk
        if (!avg || r == rounds + 1) ""
        else {
          val prev = if (r == 1) "w0" else s"a${r - 1}" // a0 ≡ w0 (zeros)
          s""",
         a$r AS (SELECT av.b + wv.b AS b, av.vo + wv.vo AS vo,
                        av.vs + wv.vs AS vs, av.vp + wv.vp AS vp,
                        av.vl + wv.vl AS vl
                 FROM $prev av, w$r wv)"""
        }
      val tail =
        if (r == rounds + 1) "" // score-only margin pass: no update CTEs
        else s""",
         u$r AS (SELECT
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y END), 0) AS BIGINT) AS db,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xo END), 0) AS BIGINT) AS do_,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xs END), 0) AS BIGINT) AS ds,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xp END), 0) AS BIGINT) AS dp,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xl END), 0) AS BIGINT) AS dl
           FROM g$r),
         w$r AS (SELECT wv.b + u.db AS b, wv.vo + u.do_ AS vo,
                        wv.vs + u.ds AS vs, wv.vp + u.dp AS vp,
                        wv.vl + u.dl AS vl
                 FROM w${r - 1} wv, u$r u)$accum"""
      // the score-only pass reads the AVERAGED weights when avg is on
      val src = if (r == rounds + 1 && avg) s"a$rounds" else s"w${r - 1}"
      s"""g$r AS (SELECT f.*,
             wv.b + wv.vo * xo + wv.vs * xs + wv.vp * xp + wv.vl * xl AS mg
           FROM f, $src wv)$tail"""
    }
    val wsrc = if (avg) s"a$rounds" else s"w$rounds"
    val finalSelect =
      if (score)
        s"""SELECT doc_id, mg AS margin,
             CAST(CASE WHEN mg > 0 THEN 1 ELSE -1 END AS INTEGER) AS pred
           FROM g$last"""
      else
        (0 to 4).zip(Seq("b", "vo", "vs", "vp", "vl")).map { case (j, v) =>
          s"SELECT CAST($j AS INTEGER) AS j, $v AS weight FROM $wsrc"
        }.mkString(" UNION ALL ")
    (Seq(qualityTCte, w0) ++ perRound)
      .mkString("WITH ", ",\n         ", "\n") + finalSelect
  }

  private def unigramTrainOracle(rounds: Int, vocabSize: Int,
      maxLen: Int, encode: Boolean = false): String = {
    // AS MATERIALIZED on every CTE a reach$r recursion reads: DuckDB
    // inlines un-hinted CTEs into the recursive plan and re-evaluates
    // the whole corpus regex-split PER ITERATION — the sf1 gate
    // measured the encode oracle at 25+ min; hinted, it runs in 0.6 s
    // with identical results (the hint is evaluation strategy only).
    val base =
      s"""hist AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wcount
           FROM (SELECT regexp_replace(
                   unnest(string_split_regex(lower(trim(text)), '\\s+')),
                   '[^a-z0-9]', '', 'g') AS word FROM documents)
           WHERE word <> '' GROUP BY 1),
         cand AS MATERIALIZED (SELECT piece, CAST(sum(wcount) AS BIGINT) AS freq
           FROM (SELECT unnest(flatten(list_transform(range(1, ${maxLen + 1}),
                   l -> list_transform(range(1, len(word) - l + 2),
                        i -> word[i : i + l - 1])))) AS piece, wcount
                 FROM hist)
           GROUP BY 1),
         topk AS (SELECT piece, freq FROM cand
                  ORDER BY freq DESC, piece LIMIT $vocabSize),
         c0 AS MATERIALIZED (SELECT piece, max(freq) AS cnt FROM (
                  SELECT piece, freq FROM topk
                  UNION ALL
                  SELECT piece, freq FROM cand WHERE len(piece) = 1)
                GROUP BY piece)"""
    // encode = one extra score derivation + reach/seg over the SAME
    // word universe (the c{rounds+1} CTE this emits is unreferenced
    // and therefore never evaluated)
    val lastRound = if (encode) rounds + 1 else rounds
    val perRound = (1 to lastRound).map { r =>
      s"""s$r AS MATERIALIZED (SELECT piece,
             CAST(floor((ln(cnt + 1) - ln(tot.t + tot.v)) * 1000000)
                  AS BIGINT) AS s
           FROM c${r - 1}, (SELECT CAST(sum(cnt) AS BIGINT) AS t,
                                   count(*) AS v FROM c${r - 1}) tot),
         reach$r(word, wcount, i, score, path) AS (
           SELECT word, wcount, 0, CAST(0 AS BIGINT), '' FROM hist
           UNION ALL
           SELECT r.word, r.wcount, r.i + len(v.piece), r.score + v.s,
                  r.path || (CASE WHEN r.path = '' THEN '' ELSE ' ' END)
                         || v.piece
           FROM reach$r r JOIN s$r v
             ON r.i + len(v.piece) <= len(r.word)
            AND v.piece = r.word[r.i + 1 : r.i + len(v.piece)]),
         seg$r AS MATERIALIZED (SELECT word, wcount, path FROM (
             SELECT word, wcount, path,
                    row_number() OVER (PARTITION BY word
                                       ORDER BY score DESC, path) AS rk
             FROM reach$r WHERE i = len(word)) WHERE rk = 1),
         c$r AS MATERIALIZED (SELECT c.piece, CAST(COALESCE(u.n, 0) AS BIGINT) AS cnt
           FROM c${r - 1} c LEFT JOIN (
             SELECT piece, sum(wcount) AS n
             FROM (SELECT unnest(string_split(path, ' ')) AS piece, wcount
                   FROM seg$r)
             GROUP BY 1) u ON u.piece = c.piece)"""
    }
    val finalSelect =
      if (!encode) s"SELECT piece, cnt AS n_uses FROM c$rounds"
      else
        s"""SELECT d.doc_id AS doc_id,
             CAST(COALESCE(sum(t.tok), 0) AS BIGINT) AS n_tokens
           FROM documents d
           LEFT JOIN (
             SELECT w.doc_id AS doc_id, tk.tok AS tok
             FROM (SELECT doc_id, regexp_replace(
                     unnest(string_split_regex(lower(trim(text)), '\\s+')),
                     '[^a-z0-9]', '', 'g') AS word FROM documents) w
             JOIN (SELECT word, len(string_split(path, ' ')) AS tok
                   FROM seg$lastRound) tk
               ON w.word = tk.word AND w.word <> '') t
             ON t.doc_id = d.doc_id
           GROUP BY d.doc_id"""
    (Seq(base) ++ perRound).mkString("WITH RECURSIVE ", ",\n      ", "\n") +
      finalSelect
  }

  private def bpeTrainOracle(rounds: Int): String = {
    val v0 =
      """v0 AS (
        SELECT regexp_replace(word, '(.)', '(\1)', 'g') AS enc,
               count(*) AS wcount
        FROM (SELECT regexp_replace(
                unnest(string_split_regex(lower(trim(text)), '\s+')),
                '[^a-z0-9]', '', 'g') AS word FROM documents)
        WHERE word <> '' GROUP BY 1)"""
    val perRound = (1 to rounds).map { n =>
      s"""p$n AS (
        SELECT string_split(pr, chr(9))[1] AS l,
               string_split(pr, chr(9))[2] AS r,
               CAST(sum(wcount) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_transform(range(1, len(sym)),
                  i -> sym[i] || chr(9) || sym[i+1])) AS pr, wcount
              FROM (SELECT string_split(trim(enc, '()'), ')(') AS sym,
                           wcount FROM v${n - 1}))
        GROUP BY 1, 2),
      w$n AS (SELECT l, r, cnt FROM p$n ORDER BY cnt DESC, l, r LIMIT 1),
      v$n AS (SELECT replace(enc, '('||l||')('||r||')', '('||l||r||')') AS enc,
                     wcount FROM v${n - 1}, w$n)"""
    }
    val finals = (1 to rounds)
      .map(n => s"SELECT $n AS merge_rank, l AS lhs, r AS rhs, " +
        s"cnt AS pair_count FROM w$n")
      .mkString(" UNION ALL ")
    (Seq(v0) ++ perRound).mkString("WITH ", ",\n      ", "\n") + finals
  }
}
