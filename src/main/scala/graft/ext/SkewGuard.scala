package graft.ext

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Shared "no silent caps" plumbing for opt-in skew guards: whenever an
  * operator drops pathological rows (hot shingles, degenerate baskets),
  * the drop count rides the plan as an `observe` metric and is logged by
  * a QueryExecutionListener AFTER the action completes — construction
  * stays side-effect-free and the audit costs zero extra Spark jobs (a
  * synchronous pre-count would be a second pass over the corpus).
  *
  * The pair generators' two hot-key cap shapes live here too:
  * [[capKeyFrequency]] (exact document frequency) and [[dropListedKeys]]
  * (a precomputed, e.g. Count-Min-derived, hot-key list).
  */
object SkewGuard {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ext.SkewGuard")

  /** Unique observe-metric names (Spark requires per-plan uniqueness). */
  private val seq = new AtomicLong(0L)

  /** metric name → drop-count message renderer. */
  private val messages = new ConcurrentHashMap[String, Long => String]()

  /** Sessions that already carry the audit listener — weakly referenced
    * so a stopped/discarded session can be collected (the listener dies
    * with the session; only the dedup marker lives here).
    */
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Attach a drop-count audit to `df`: `dropCount` is summed over the
    * frame as an observed metric, and the FIRST action that runs the plan
    * logs `msg(count)` when the count is positive (the renderer is
    * dropped after rendering so the registry stays bounded; re-running
    * the same frame re-observes the metric but logs once — rebuild the
    * guarded plan to re-arm the audit). Returns the observed frame — the
    * caller filters/keeps rows itself; this only audits.
    */
  def observeDropCount(df: DataFrame, name: String, dropCount: Column,
      msg: Long => String): DataFrame = {
    ensureListener(df.sparkSession)
    val metric = s"skew_guard_${name}_${seq.incrementAndGet()}"
    messages.put(metric, msg)
    df.observe(metric, dropCount.as("n_dropped"))
  }

  /** Drop every posting of `df` whose `keys` occur in more than `cap`
    * postings, auditing the dropped count under `name`; no cap returns
    * `df` itself. `param` names the caller's cap parameter in the range
    * check. Returns `df`'s columns, in order. */
  def capKeyFrequency(df: DataFrame, keys: Seq[String], cap: Option[Long],
      param: String, name: String, msg: Long => String): DataFrame =
    cap.fold(df) { cap =>
      require(cap >= 2, s"$param must be >= 2")
      // key df via partial-aggregated count + join, NOT an unordered
      // window: Window.partitionBy(keys) colocates each key's postings in
      // one task — and a flood (the exact case this cap audits) is one
      // key with millions of rows. The hash aggregate combines map-side;
      // the join back is skew-splittable by AQE.
      val dfTbl = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__kdf"))
      // join key is NON-NULL BY CONSTRUCTION at every caller (derived via
      // explode/hash of generated values, which never yields a null key
      // row), so the non-null-safe equi-join keeps every row the replaced
      // Window.partitionBy kept — a future NULLABLE key would silently
      // drop its rows here (advice r16, low)
      val withDf = df.join(dfTbl, keys)
        .select(df.columns.map(col) :+ col("__kdf"): _*)
      observeDropCount(withDf, name, sum(when(col("__kdf") > cap, 1L)), msg)
        .filter(col("__kdf") <= cap)
        .drop("__kdf")
    }

  /** Drop every posting of `df` whose `key` is listed in `hot` (a
    * DISTINCT one-column frame), auditing the dropped count under
    * `name`; no list returns `df` itself. The list broadcasts: a hot
    * list derived with a frequency floor f holds at most postings/f
    * keys, so it is bounded by construction. The key column moves
    * first; other columns keep their order. */
  def dropListedKeys(df: DataFrame, key: String, hot: Option[DataFrame],
      name: String, msg: Long => String): DataFrame =
    hot.fold(df) { hot =>
      val flagged = df.join(
        broadcast(hot.toDF(key).withColumn("__hot", lit(true))),
        Seq(key), "left")
      observeDropCount(flagged, name, sum(when(col("__hot"), 1L)), msg)
        .filter(col("__hot").isNull)
        .drop("__hot")
    }

  private def ensureListener(spark: SparkSession): Unit =
    if (registered.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        // render-then-remove: a metric name is unique per plan
        // construction, so once its plan has executed (or failed) the
        // renderer is dead weight — dropping it keeps `messages` bounded
        // in long-lived sessions that build guarded plans repeatedly.
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            val render = messages.remove(name)
            if (render != null && !row.isNullAt(0)) {
              val dropped = row.getLong(0)
              if (dropped > 0) log.warn(render(dropped))
            }
          }
        // a FAILED action must not consume the audit: a retry of the
        // same guarded frame still renders its drop count ("no silent
        // caps"). A plan that fails and is never retried strands one
        // small entry — bounded, unlike the per-construction growth the
        // onSuccess removal prevents.
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })
    }
}
