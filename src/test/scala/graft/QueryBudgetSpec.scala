package graft

import graft.tools.Profile

/** Job and shuffle-exchange budgets of one query per family, pinned
  * exactly at sf0.001.
  *
  * Wall time on a shared host drifts by ±10–20 %, which hides a job or
  * an exchange added to a plan; these counts are deterministic, so such
  * a change fails here and has to re-pin its budget on purpose. Jobs are
  * counted by [[JobCount]] (job group of this thread: none of these
  * queries submits through `ConcurrentJobs`) on a warm run. Exchanges
  * are [[Profile.planCounts]] over the final plan of the count that
  * Bench times, the same definition the profiling tool reports.
  */
class QueryBudgetSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  // query -> (jobs, shuffle exchanges)
  private val budgets = Seq(
    "q_topology" -> (10, 5),
    "q_anti_gc" -> (6, 2),
    "q_flow_pipeline" -> (5, 1),
    "q_minhash_lsh" -> (12, 3),
    "q_components_adaptive" -> (61, 1),
    "q_pq_codes" -> (21, 2))

  budgets.foreach { case (name, (jobs, exchanges)) =>
    test(s"$name: job and shuffle-exchange budget") {
      val build = SparkEntry.queries(name)
      build(spark, sfDir).count()
      val (_, ran) = JobCount(spark)(build(spark, sfDir).count())
      val counted = build(spark, sfDir).groupBy().count()
      counted.collect()
      val shuffles = Profile.planCounts(counted.queryExecution.executedPlan).exchanges
      assert((ran, shuffles) == ((jobs, exchanges)),
        s"$name: $ran jobs, $shuffles shuffle exchanges")
    }
  }
}
