package graft.model

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-local materialization for BOUNDED model-sized frames
  * (centroid/codebook tables — k·dim rows by construction, the
  * [[graft.ext.Gram]].fitPca / IvfIndex k-bounded-collect precedent;
  * never data-sized frames).
  *
  * Why (optimization guide §1/§2; measured in PERF.md, Round 18): the
  * ANN training loops checkpoint a tiny centroid frame every round and
  * then broadcast it into the next round's join. Under AQE each
  * localCheckpoint is one job and EVERY broadcast exchange reading the
  * checkpointed RDD is another — the IVF-PQ family ran 50–100 jobs per
  * query with ≥ 55 ms fixed cost each, dwarfing its actual task time.
  * Collecting the same rows once and rebuilding them as a
  * LocalRelation is bit-identical (same rows, same schema — only the
  * physical source changes), and a BroadcastExchange over a
  * LocalTableScan builds driver-side with NO job at all, so each
  * training round costs exactly one job (the update aggregate's
  * collect) and every downstream serve join broadcasts for free.
  *
  * At 100 TB the collect payload is unchanged — model tables scale
  * with k·dim, not with data — and the rows were headed for a
  * broadcast (driver + every executor) anyway; this moves WHERE the
  * bounded materialization happens, not how much is materialized.
  */
object LocalModel {
  /** Mechanical ceiling on the "never data-sized" contract (verdict
    * r18): model frames are k·dim / nLists·D rows — orders of magnitude
    * under this — while any corpus-sized frame mistakenly routed here
    * blows past it. 2²² rows of centroid-width data is already beyond
    * what a sane broadcast should carry. */
  private val MaxModelRows: Int = 1 << 22

  /** The rows of a model frame, fetching at most `MaxModelRows + 1` of
    * them: a data-sized frame is refused with the named message after a
    * bounded fetch instead of being collected whole first. One job, as
    * collect() runs: `limit` alone plans CollectLimit, whose incremental
    * take runs one job per scale-up step over a multi-partition input
    * (measured: +1 job per bounded collect on a 10-replica GateData
    * dir), so the limit reads the input as one coalesced partition — a
    * narrow merge, no exchange. A frame the optimizer bounds statically
    * (a local relation) is collected as is, driver-side with no job. */
  def boundedCollect(df: DataFrame): Array[Row] = {
    val rows =
      if (df.queryExecution.optimizedPlan.maxRows.exists(_ <= MaxModelRows))
        df.collect()
      else df.coalesce(1).limit(MaxModelRows + 1).collect()
    require(rows.length <= MaxModelRows,
      s"LocalModel got more than $MaxModelRows rows — this is for " +
        "k·dim-BOUNDED model frames (centroids/codebooks), never " +
        "data-sized ones")
    rows
  }

  def localized(df: DataFrame): DataFrame = localizedWithRows(df)._1

  /** [[localized]], also handing back the collected rows — for callers
    * that additionally need a driver-side scalar of the model frame
    * (e.g. the PQ subspace count), so deriving it costs no extra job
    * on top of the one bounded collect. */
  def localizedWithRows(df: DataFrame): (DataFrame, Array[Row]) = {
    val collected = boundedCollect(df)
    val rows = java.util.Arrays.asList(collected: _*)
    (df.sparkSession.createDataFrame(rows, df.schema), collected)
  }
}
