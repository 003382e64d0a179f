package graft

import graft.queries.QueryRegistry
import graft.tools.Profile

/** Job and shuffle-exchange budgets of at least one query in every
  * registry family, pinned exactly at sf0.001.
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
    "q_pq_codes" -> (19, 2),
    "q_kmeans" -> (16, 2),
    "q_ann_ivf_dist" -> (5, 2),
    "q_bm25" -> (6, 2),
    "q_image_dedup" -> (6, 2),
    "q_contamination" -> (5, 3),
    "q_countmin" -> (7, 3))

  test("the pinned set covers every registry family") {
    val pinned = budgets.map(_._1).toSet
    val uncovered = QueryRegistry.families.collect {
      case (family, specs) if !specs.exists(q => pinned(q.name)) => family
    }
    assert(uncovered.isEmpty, s"families without a pinned budget: $uncovered")
  }

  budgets.foreach { case (name, (jobs, exchanges)) =>
    test(s"$name: job and shuffle-exchange budget") {
      val build = SparkEntry.queries(name)
      build(spark, sfDir).count()
      val (_, started) = JobCount.jobs(spark)(build(spark, sfDir).count())
      val counted = build(spark, sfDir).groupBy().count()
      counted.collect()
      val shuffles = Profile.planCounts(counted.queryExecution.executedPlan).exchanges
      assert((started.size, shuffles) == ((jobs, exchanges)),
        s"$name: ${started.size} jobs, $shuffles shuffle exchanges; " +
          s"jobs:\n${started.mkString("\n")}")
    }
  }

  // Queries that write a wave index while they build. Their save fans run
  // on pooled `ConcurrentJobs` threads, outside this thread's job group,
  // so they are counted with [[Profile.measure]], whose fences span every
  // thread: construction plus the count, after one warm-up.
  private val waveBudgets = Seq(
    "q_bm25_append" -> (33, 4),
    "q_ann_ivf_append" -> (16, 2),
    "q_ann_ivfpq_delete" -> (58, 7))

  waveBudgets.foreach { case (name, (jobs, exchanges)) =>
    test(s"$name: job and shuffle-exchange budget (all threads)") {
      val run = Profile.measure(spark, name, SparkEntry.queries(name)(_, sfDir),
        warmups = 1)
      assert(run.ok, s"$name failed: ${run.error}")
      val ran = (run.jobs.size, run.planCounts.map(_.exchanges).getOrElse(-1))
      assert(ran == ((jobs, exchanges)),
        s"$name: ${ran._1} jobs, ${ran._2} shuffle exchanges")
    }
  }
}
