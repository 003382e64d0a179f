package graft.model

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism floor for CPU-DENSE one-pass funnels
  * (optimization guide §2.5, "input skew — one huge unsplittable file:
  * repartition immediately after the read").
  *
  * Parquet cannot split below a row group, so a single-row-group table
  * scans as ONE task — and Catalyst fuses everything up to the first
  * exchange into that scan stage. For a funnel whose per-row work is
  * heavy (shingle explode + md5 coins, dim² gram products, ×d sketch
  * rows), that serializes seconds of compute onto one core while the
  * rest of the cluster idles; a localCheckpoint downstream then
  * freezes the 1-partition layout for every later pass.
  *
  * The floor fires ONLY when the input under-splits relative to the
  * cluster (`partitions < spark.sparkContext.defaultParallelism`), so
  * on a production-shaped table (row groups ≥ cores) it is a no-op by
  * construction — it adapts to input shape rather than hard-coding a
  * local constant. It is deliberately NOT applied at the table loaders
  * or inside iterative loops: light relational queries would pay an
  * exchange they don't need (measured +0.1–0.4 s per query at sf0.1),
  * and per-round small frames would multiply task-scheduling overhead
  * (measured on k-means). Round-robin repartition keeps row→partition
  * assignment deterministic under retry (sortBeforeRepartition,
  * SPARK-23207); every gated query is row-order-insensitive, so
  * results are bit-identical (oracle-re-proven).
  *
  * `spark.graft.scan.minParallelism` overrides the floor; 0 disables.
  */
object Parallelism {
  def floor(df: DataFrame): DataFrame = {
    val want = minParallelism(df)
    if (want <= 0) return df
    // SCAN-ONLY precondition, enforced (advice r18): the floor exists
    // for under-split *scans*. On an exchange-bearing frame the
    // post-shuffle partition count is already cluster-adaptive (AQE),
    // so the floor has nothing to fix — and probing its partition
    // count via toRdd would eagerly execute the upstream query stages,
    // then re-execute them under the fresh repartition plan. No-op
    // there, structurally.
    val hasExchange = df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    if (hasExchange) return df
    // exchange-free plan: toRdd builds the (final) plan without running
    // any stage — for a scan this is exactly the split count
    if (df.queryExecution.toRdd.getNumPartitions < want) df.repartition(want)
    else df
  }

  /** PIN a compute-dense exchange's partition count (guide §2.5's
    * dual): `repartition(n, keys…)` with an EXPLICIT n plans a
    * REPARTITION_BY_NUM shuffle, which AQE's byte-based partition
    * coalescing leaves alone — where the keyed exchange a join or
    * aggregation would plan anyway gets coalesced down to
    * bytes/advisorySize partitions. For a stage whose cost is per-ROW
    * compute over few bytes (array_intersect verification, the wide
    * min-md5 signature aggregate), byte-based coalescing starves the
    * cluster: measured at sf0.1, the near-dup verify stage coalesced to
    * 4 tasks carrying 8.2 s of task time (max 2.8 s) while 32 cores
    * idled. The pin replaces an exchange the consumer pays regardless
    * (same key), so it adds no shuffle — it only removes AQE's freedom
    * to under-split it. Keyed on `defaultParallelism` (no local
    * constant); at production byte sizes AQE would not have coalesced
    * below that count, making the pin a no-op in effect. Same
    * `spark.graft.scan.minParallelism` override/disable contract as
    * [[floor]], with one difference: `pin` takes the value as the EXACT
    * partition count of its exchange (a value below the input's split
    * count still repartitions to that count), where [[floor]] takes it
    * as a lower bound. */
  def pin(df: DataFrame, keys: Column*): DataFrame = {
    val want = minParallelism(df)
    if (want <= 0) df else df.repartition(want, keys: _*)
  }

  /** `spark.graft.scan.minParallelism`, else `defaultParallelism`. */
  private def minParallelism(df: DataFrame): Int = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.scan.minParallelism") match {
      case Some(v) =>
        try v.trim.toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.scan.minParallelism must be an integer, got '$v'")
        }
      case None => s.sparkContext.defaultParallelism
    }
  }
}
