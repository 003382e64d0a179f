package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.{scratchDir, tempIndexDir}
import graft.model.Tables

/** Sketches and streaming faces: HLL, quantile and Count-Min sketches with
  * their serving stores, heavy hitters, incremental aggregates, the text
  * ingest sources, the corpus layout sink and stream-join attribution. */
object SketchQueries {

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

  /** The whole-corpus quantile sketch replay — shared by
    * q_quantile_sketch and q_sketch_serve. */
  private val quantileSketchOracle: String =
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
         FROM c GROUP BY 1"""

  val specs: Seq[QuerySpec] = Seq(
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
    QuerySpec("q_approx_distinct", (s, dir) =>
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
          col("__p99s").between(col("__p97"), col("__vmax")).as("p99_ok")),
      // the sketch estimates are engine-specific; the hashable contract is
      // exact values + within-tolerance booleans (see the query comment for
      // the measured margins behind each window)
      """SELECT event_type,
                count(DISTINCT user_id) AS n_users_exact,
                TRUE AS approx_ok, TRUE AS p50_ok, TRUE AS p99_ok
         FROM events GROUP BY 1"""),

    // ── Incremental aggregate maintenance: the first 15 days build the
    //    state table, the rest folds in as a batch (ONE aggregate + ONE
    //    full-outer merge — never a history rescan); the oracle
    //    recomputes from scratch, proving merge ≡ recompute
    //    (ops.IncrementalAgg).
    QuerySpec("q_incr_agg", (s, dir) => {
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
    },
      // ONE from-scratch aggregate — the incremental path must be
      // indistinguishable from it (the algebraic-merge identity)
      """SELECT event_type, count(value) AS cnt,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
                min(value) AS min_v, max(value) AS max_v,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  / count(value) AS avg_v
         FROM events GROUP BY 1"""),

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
    QuerySpec("q_hll_daily", (s, dir) => {
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
    },
      """SELECT event_type,
                count(DISTINCT user_id) AS n_users_exact,
                TRUE AS hll_ok
         FROM events GROUP BY 1"""),

    // ── Mergeable deterministic quantile sketch (ext.Quantiles):
    //    per-day sketches over events.value, merge-ONLY rollup per
    //    type, p50/p95 bucket midpoints ×200 as BIGINT. Integer-exact
    //    DDSketch-style buckets (two leading centi-digits) make the
    //    estimate a pure function of the data — same answer in any
    //    engine, any partition order — unlike randomized KLL/t-digest.
    QuerySpec("q_quantile_sketch", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      val daily = graft.ext.Quantiles.sketch(
        ev, Seq("event_type", "day"), "value")
      val merged = graft.ext.Quantiles.rollup(daily, Seq("event_type"))
      graft.ext.Quantiles.estimate(merged, Seq("event_type"),
        Seq(("p50_x200", 1, 2), ("p95_x200", 19, 20)))
    },
      // the bucket scheme is pure integer/string arithmetic, so the oracle
      // replays the WHOLE sketch exactly (no tolerance booleans needed);
      // the daily build stage is elided — bucket counts add, so
      // rollup-of-daily == direct grouping. Window sums are HUGEINT in
      // DuckDB: only `n` escapes to output and is cast back to BIGINT.
      quantileSketchOracle),

    // ── Sketch SERVING over a stream-maintained store: per-batch bucket
    //    counts persisted under batch=<i> partitions (exactly what
    //    streaming/SketchStream.maintain writes per micro-batch), then
    //    the read path — SketchStream.quantiles: scan kilobytes of
    //    counts, merge-only rollup, estimate walk. Merge-is-exact makes
    //    the answer independent of how events were batched, so the same
    //    whole-corpus oracle as q_quantile_sketch hash-gates it; the
    //    foreachBatch twin is spec-gated (SketchStreamSpec).
    QuerySpec("q_sketch_serve", (s, dir) => {
      val ev = Tables.events(s, dir)
      val path = tempIndexDir("sketch", dir)
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
    },
      // serving read of the stream-maintained sketch store: merge-is-exact
      // makes the result batching-independent, so the whole-corpus sketch
      // oracle (q_quantile_sketch's SQL) gates it unchanged
      quantileSketchOracle),

    // ── Click→purchase attribution: the BATCH face of the stream-stream
    //    event-time interval join (streaming/StreamJoin.attribution —
    //    IDENTICAL transform both modes; StreamJoinSpec proves
    //    batch≡stream). Same-user purchases within 1 h after a click.
    //    Scale: equi-join shuffled on the user key; the time-range
    //    predicate bounds streaming state to O(rate × window).
    QuerySpec("q_attribution", (s, dir) => {
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
    },
      // plain interval join — both engines do exact µs timestamp interval
      // arithmetic, so the window edges agree bit-for-bit
      """SELECT c.user_id,
                epoch_us(c.ts) AS click_us,
                epoch_us(p.ts) AS purchase_us,
                p.value AS purchase_value
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"""),

    // ── S1/S2 text ingest faces: the reference's flow logs arrive as
    //    JSON/TSV lines, not parquet (SURVEY §1.2). Round-trip contract:
    //    serialize a deterministic events subset to the text format, read
    //    it back through the explicit-schema PERMISSIVE reader
    //    (sources/TextSources — quarantine, never die or drop), and
    //    aggregate; the oracle computes the same aggregate off the
    //    parquet table, so any parse loss (rows, ts instants, value
    //    precision, props bytes) hash-mismatches. n_bad pins the
    //    quarantine count at zero on clean data.
    QuerySpec("q_jsonl_scan", (s, dir) => {
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
    },
      // text-face round trips: the oracle reads the PARQUET table — equality
      // proves the serialize → PERMISSIVE-read cycle is lossless
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                epoch_us(max(ts)) AS max_ts_us,
                count(DISTINCT props) AS n_props,
                CAST(0 AS BIGINT) AS n_bad
         FROM events WHERE user_id % 100 = 0
         GROUP BY event_type"""),

    QuerySpec("q_tsv_scan", (s, dir) => {
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
    },
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                epoch_us(max(ts)) AS max_ts_us,
                count(DISTINCT props) AS n_props,
                CAST(0 AS BIGINT) AS n_bad
         FROM events WHERE user_id % 100 = 1
         GROUP BY event_type"""),

    // ── Sink face: the curated-corpus layout writer round-tripped through
    //    its own partition-pruned slice read (sources/CorpusLayout — hive
    //    split/lang partitions, shard-ordered files, record caps; the
    //    physical-layout contracts are CorpusLayoutSpec's). The oracle
    //    recomputes the slice aggregate off the parquet table, so any row
    //    loss or partition misrouting in the write→prune→read cycle
    //    hash-mismatches.
    QuerySpec("q_corpus_export", (s, dir) => {
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
    },
      """SELECT lang, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents WHERE doc_id % 10 <> 0
         GROUP BY lang"""),

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
    QuerySpec("q_compaction", (s, dir) => {
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
    },
      // file counts are deterministic functions of the slice row count
      // (see the query comment); the slice aggregate proves the compacted
      // rewrite lost/duplicated nothing
      """WITH t AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
         f AS (SELECT CAST(ceil(count(*) / 40.0) AS BIGINT) AS n_files_before,
                      CAST(ceil(count(*) / 100000.0) AS BIGINT) AS n_files_after
               FROM t)
         SELECT lang, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars,
                min(doc_id) AS min_id, max(doc_id) AS max_id,
                n_files_before, n_files_after
         FROM t CROSS JOIN f
         GROUP BY lang, n_files_before, n_files_after"""),

    // ── Count-Min sketch (ext.CountMin): the d×w point-frequency
    //    summary with one-sided error — est ≥ true always, merge =
    //    cell-wise add. Buckets come from the engine-shared md5 coin
    //    (4 nibbles mod w), so the WHOLE sketch table hash-gates: no
    //    tolerance, no sampled audit. One corpus pass, ×d map-side
    //    blowup, partial-agg exchange ≤ d·w cells per executor.
    QuerySpec("q_countmin", (s, dir) =>
      graft.ext.CountMin.sketch(
        Tables.lineitem(s, dir).select(col("l_partkey")),
        "l_partkey", d = 4, w = 512),
      // Count-Min: the sketch table is md5-bucket exact; the estimate
      // row carries the one-sided-error contract as a pinned boolean
      countMinOracle(est = false)),

    // ── CM estimates vs exact truth, in one row: (key, est, true_cnt,
    //    over_ok) — the one-sided-error CONTRACT (est ≥ true) rides
    //    the row as a pinned-TRUE boolean at every SF (the tolerance-
    //    twin discipline), while est itself stays hash-exact because
    //    the md5 buckets replay in SQL.
    QuerySpec("q_countmin_est", (s, dir) => {
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
    },
      countMinOracle(est = true)),

    // ── CM SERVING over the batch-partitioned store (streaming face's
    //    batch twin): the corpus lands as 3 per-batch cell tables,
    //    estimates read the merged cells only — and because CM cells
    //    add exactly, the answer is bit-identical to the one-shot
    //    build: SAME oracle as q_countmin_est, batching invisible.
    QuerySpec("q_countmin_serve", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"))
      val path = tempIndexDir("cm", dir)
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
    },
      // merge-is-exact: the batch-partitioned store serves the identical
      // answer, so the serve row rides the SAME oracle
      countMinOracle(est = true)),

    // ── Sketch-guided EXACT heavy hitters over word bigrams
    //    (ext.FrequentItems + functions.MisraGriesAgg): one mergeable
    //    Misra–Gries pass finds a guaranteed-superset candidate set
    //    without shuffling the bigram domain, then a broadcast-semi-join
    //    re-count makes the surviving counts exact — so the row is
    //    hash-green against a plain exact GROUP BY oracle with NO
    //    tolerance. Threshold: ≥1/1000 of all bigrams (shareDen=1000 <
    //    capacity+1=4097 keeps the sketch guarantee).
    QuerySpec("q_heavy_hitters", (s, dir) => {
      val ws = graft.ext.TextAnalysis.words(col("text"))
      val bg = Tables.documents(s, dir)
        .select(ws.as("ws"))
        .select(explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1).as("l"),
          slice(col("ws"), lit(2), size(col("ws")) - 1).as("r"))).as("pr"))
        .select(concat_ws(" ", col("pr.l"), col("pr.r")).as("bigram"))
      graft.ext.FrequentItems.exactHeavyHitters(bg, "bigram",
        shareDen = 1000L, capacity = 4096)
    },
      // exact heavy hitters: the sketch only prunes the plan, never the
      // answer, so the oracle is the plain exact GROUP BY + HAVING (pure
      // integer threshold arithmetic on both sides)
      heavyHittersOracle),

    // ── The persisted-slice path to the SAME answer: per-lang MG
    //    summaries (the rows a real pipeline would persist per
    //    day/source), rolled up globally MERGE-ONLY (raw bigrams never
    //    rescanned for the rollup), then the exact re-count from the
    //    rolled-up candidates. Conservative one-shot merge bound keeps
    //    the guarantee: undercount ≤ 2N/(capacity+1) < N/1000. The
    //    oracle is the same plain GROUP BY — slice→rollup→exact must be
    //    indistinguishable from the direct path.
    QuerySpec("q_heavy_rollup", (s, dir) => {
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
    },
      // the persisted-slice rollup path must be indistinguishable from
      // the direct path — same oracle
      heavyHittersOracle)
  )
}
