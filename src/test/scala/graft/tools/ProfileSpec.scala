package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, udf}

import graft.{JobCount, SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def profile(name: String) =
    Profile.measure(spark, name, SparkEntry.queries(name)(_, sfDir), warmups = 1)

  /** The profile listeners on the bus, read through Spark's internal
    * accessors (public in bytecode, package-private in Scala). */
  private def recorders(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val ls = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]]
    (0 until ls.size).count(i =>
      ls.get(i).getClass.getName == "graft.tools.Profile$Recorder")
  }

  test("job count equals JobCount's; one stage entry per completed stage") {
    Seq("q_topology", "q_anti_gc").foreach { name =>
      val build = SparkEntry.queries(name)
      val rows = build(spark, sfDir).count()
      val (_, jobs) = JobCount(spark)(build(spark, sfDir).count())
      // an independent listener sees every job start and stage completion
      val stageJob = mutable.Map.empty[Int, Int]
      val completed = mutable.ArrayBuffer.empty[Int]
      val watch = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          completed += e.stageInfo.stageId
      }
      spark.sparkContext.addSparkListener(watch)
      val run = try profile(name) finally {
        JobCount(spark)(()) // its fence drains the queue both listeners share
        spark.sparkContext.removeSparkListener(watch)
      }
      assert(run.ok, s"$name: ${run.error}")
      assert(run.jobs.size == jobs, s"$name: profile ${run.jobs.size}, JobCount $jobs")
      assert(run.rows.contains(rows), s"$name: profile ${run.rows}, count() $rows")
      val ids = run.jobs.map(_.id).toSet
      // a stage whose job started before the watch (a job another suite
      // left running) belongs to no profiled job
      assert(run.stages.map(_.id).sorted ==
        completed.filter(s => stageJob.get(s).exists(ids)).sorted)
      assert(run.stages.forall(s => ids(s.job) && s.maxTaskMs >= s.medianTaskMs))
      assert(run.stages.map(_.tasks).sum == run.tasks && run.tasks > 0)
    }
  }

  test("plan counts equal a direct count over the same executed plan") {
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children
      }
      p +: (kids ++ p.subqueries).flatMap(nodes)
    }
    val totals = Seq("q_topology", "q_anti_gc", "q_minhash_lsh").map { name =>
      val run = profile(name)
      val plan = run.plan.getOrElse(fail(s"$name: ${run.error}"))
      val names = nodes(plan).map(_.getClass.getSimpleName)
      def n(cls: String*) = names.count(cls.contains)
      val direct = Profile.PlanCounts(n("ShuffleExchangeExec"),
        n("BroadcastExchangeExec"), n("ReusedExchangeExec"),
        n("FileSourceScanExec", "BatchScanExec"), n("GenerateExec"),
        n("AQEShuffleReadExec"))
      assert(run.planCounts.contains(direct), name)
      direct
    }
    assert(totals.map(_.exchanges).sum > 0 && totals.map(_.scans).sum > 0 &&
      totals.map(_.generates).sum > 0)
  }

  test("bad warm-up counts and unknown query names name the bad value") {
    assert(Profile.warmups(None) == 1)
    assert(Profile.warmups(Some("0")) == 0 && Profile.warmups(Some(" 3 ")) == 3)
    Seq("x", "-1", "1.5", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Profile.warmups(Some(v)))
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
    val known = SparkEntry.queries.keySet
    assert(Profile.queryNames(None, known) == known.toSeq.sorted)
    assert(Profile.queryNames(Some("q_topology, q_anti_gc"), known) ==
      Seq("q_topology", "q_anti_gc"))
    val e = intercept[IllegalArgumentException](
      Profile.queryNames(Some("q_topology,q_nope"), known))
    assert(e.getMessage.contains("q_nope"))
  }

  test("a failed query is reported, not thrown; the listener is removed") {
    assert(recorders() == 0)
    assert(profile("q_anti_gc").ok && recorders() == 0)
    val built = Profile.measure(spark, "no_build",
      _ => throw new IllegalStateException("boom"), warmups = 0)
    assert(built.error.contains("java.lang.IllegalStateException") && built.plan.isEmpty)
    val boom = udf((x: Long) => { if (x >= 0) sys.error("boom"); x })
    val ran = Profile.measure(spark, "no_run",
      s => s.range(3).toDF().filter(boom(col("id")) > 0), warmups = 1)
    assert(!ran.ok && ran.plan.isEmpty && ran.jobs.nonEmpty)
    assert(ran.json.contains("\"ok\":false"))
    assert(recorders() == 0)
  }
}
