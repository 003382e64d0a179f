package graft.tools

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Per-query execution profile, one JSON line per query on stdout:
  * {{{
  * SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Profile [q_a,q_b] [--plan]"
  * }}}
  * Each query runs SPARK_GRAFT_PROBE_WARMUPS untimed passes (default 1;
  * 3 reaches the JIT steady state of Bench's min-of-3), then one timed
  * pass of construction plus the `count()` Bench times, executed as
  * `groupBy().count()` (the plan `Dataset.count()` runs) so that the
  * final AQE plan of that run can be counted, and printed with `--plan`;
  * the count itself is reported as `rows`.
  * A listener folds every job and stage between two fence jobs: all
  * jobs, not one job group, because pooled `ConcurrentJobs` threads keep
  * the job group of the thread that created them. `idle_share` near 1
  * with many jobs means job-chain-bound; near 0, compute-bound.
  */
object Profile {
  final case class JobStat(id: Int, callSite: String, ms: Long)
  final case class StageStat(id: Int, job: Int, tasks: Int, maxTaskMs: Long,
      medianTaskMs: Long)
  final case class PlanCounts(exchanges: Int, broadcasts: Int, reused: Int,
      scans: Int, generates: Int, aqeShuffleReads: Int)

  final case class Run(query: String, error: Option[String], wallS: Double,
      rows: Option[Long], cores: Int, jobs: Seq[JobStat], stages: Seq[StageStat],
      tasks: Int, taskMs: Long, gcMs: Long, shuffleReadBytes: Long,
      shuffleReadRecords: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillBytes: Long, plan: Option[SparkPlan]) {
    def ok: Boolean = error.isEmpty
    def idleShare: Double = 1.0 - taskMs / 1e3 / (wallS * cores)
    def planCounts: Option[PlanCounts] = plan.map(Profile.planCounts)
    /** The executed plan without AQE's "Initial Plan" section. */
    def finalPlan: String = plan.fold("")(_.toString
      .split("== Initial Plan ==").head.stripTrailing.stripSuffix("+-").stripTrailing)

    def json: String = {
      def num(d: Double) = (math.round(d * 1e4) / 1e4).toString
      def obj(kv: (String, Any)*) =
        kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
      obj("query" -> str(query), "ok" -> ok, "error" -> error.fold("null")(str),
        "wall_s" -> num(wallS), "rows" -> rows.fold("null")(_.toString),
        "jobs" -> jobs.size, "stages" -> stages.size,
        "tasks" -> tasks, "task_s" -> num(taskMs / 1e3), "gc_s" -> num(gcMs / 1e3),
        "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_read_records" -> shuffleReadRecords,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "shuffle_write_records" -> shuffleWriteRecords,
        "spill_bytes" -> spillBytes, "idle_share" -> num(idleShare),
        "plan" -> planCounts.fold("null")(c => obj("exchanges" -> c.exchanges,
          "broadcasts" -> c.broadcasts, "reused" -> c.reused, "scans" -> c.scans,
          "generates" -> c.generates, "aqe_shuffle_reads" -> c.aqeShuffleReads)),
        "job_list" -> arr(jobs.map(j =>
          obj("id" -> j.id, "call_site" -> str(j.callSite), "ms" -> j.ms))),
        "stage_list" -> arr(stages.map(t => obj("id" -> t.id, "job" -> t.job,
          "tasks" -> t.tasks, "max_task_ms" -> t.maxTaskMs,
          "median_task_ms" -> t.medianTaskMs))))
    }
  }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** SPARK_GRAFT_PROBE_WARMUPS: absent means 1. */
  def warmups(raw: Option[String]): Int = raw.fold(1) { v =>
    v.trim.toIntOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_PROBE_WARMUPS must be a non-negative integer, got '$v'"))
  }

  /** A comma-separated query list, checked against `known`; absent means
    * every query. */
  def queryNames(list: Option[String], known: collection.Set[String]): Seq[String] =
    list.fold(known.toSeq.sorted) { l =>
      val names = l.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      names.find(n => !known(n)).foreach(n =>
        throw new IllegalArgumentException(s"unknown query '$n'"))
      names
    }

  private object Walk extends AdaptiveSparkPlanHelper

  /** Node counts over an executed plan, through AQE query stages and
    * subqueries. A reused exchange counts once as `reused`, not again as
    * the exchange it points to. */
  def planCounts(plan: SparkPlan): PlanCounts = {
    val nodes = Walk.collectWithSubqueries(plan) { case n => n }
    def n(p: PartialFunction[SparkPlan, Unit]) = nodes.count(p.isDefinedAt)
    PlanCounts(
      exchanges = n { case _: ShuffleExchangeLike => },
      broadcasts = n { case _: BroadcastExchangeLike => },
      reused = n { case _: ReusedExchangeExec => },
      scans = n { case _: DataSourceScanExec | _: DataSourceV2ScanExecBase => },
      generates = n { case _: GenerateExec => },
      aqeShuffleReads = n { case _: AQEShuffleReadExec => })
  }

  private val FenceKey = "graft.profile.fence"

  /** Folds the events between the fence job that opens a run and the one
    * that closes it. Listener events arrive in order on one thread; the
    * reader waits on `closed`, which orders every fold before the read. */
  private final class Recorder(fence: String) extends SparkListener {
    private var opener = -1
    private var recording = false
    val closed = new CountDownLatch(1)
    val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
    private val jobStart = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val taskRuns = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    val stages = mutable.ArrayBuffer.empty[StageStat]
    var tasks = 0
    var taskMs, gcMs, readBytes, readRecords, writeBytes, writeRecords,
      spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(FenceKey) == fence)) {
        if (opener < 0) opener = e.jobId
        else { recording = false; closed.countDown() }
      } else if (recording) {
        val site = Option(e.properties).flatMap(p =>
          Option(p.getProperty("callSite.short"))).filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?")
        jobs(e.jobId) = JobStat(e.jobId, site.takeWhile(_ != '\n'), -1L)
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == opener) recording = true
      else if (recording) jobStart.remove(e.jobId).foreach(t0 =>
        jobs(e.jobId) = jobs(e.jobId).copy(ms = e.time - t0))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording) {
        tasks += 1
        Option(e.taskMetrics).foreach(m => taskRuns.getOrElseUpdate(
          (e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += m.executorRunTime)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) {
        val i = e.stageInfo
        val runs = taskRuns.remove((i.stageId, i.attemptNumber()))
          .fold(IndexedSeq.empty[Long])(_.sorted.toIndexedSeq)
        stages += StageStat(i.stageId, stageJob.getOrElse(i.stageId, -1),
          i.numTasks, runs.lastOption.getOrElse(0L),
          if (runs.isEmpty) 0L else runs((runs.size - 1) / 2))
        Option(i.taskMetrics).foreach { m =>
          taskMs += m.executorRunTime; gcMs += m.jvmGCTime
          readBytes += m.shuffleReadMetrics.totalBytesRead
          readRecords += m.shuffleReadMetrics.recordsRead
          writeBytes += m.shuffleWriteMetrics.bytesWritten
          writeRecords += m.shuffleWriteMetrics.recordsWritten
          spill += m.diskBytesSpilled
        }
      }
  }

  /** Profiles one query: `warmups` untimed passes, then the timed pass
    * between fences. A failure is reported in the run, never thrown. */
  def measure(spark: SparkSession, name: String, build: SparkSession => DataFrame,
      warmups: Int): Run = {
    val sc = spark.sparkContext
    val fence = s"$name-${UUID.randomUUID()}"
    def runFence(): Unit = {
      sc.setLocalProperty(FenceKey, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
    }
    (1 to warmups).foreach { _ =>
      try build(spark).count() catch { case _: Throwable => () }
    }
    val rec = new Recorder(fence)
    sc.addSparkListener(rec)
    try {
      runFence()
      val t0 = System.nanoTime()
      val counted =
        try {
          val c = build(spark).groupBy().count()
          Right((c, c.collect().head.getLong(0)))
        } catch { case e: Throwable => Left(e.getClass.getName) }
      val wall = (System.nanoTime() - t0) / 1e9
      runFence()
      if (!rec.closed.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener never saw the closing fence job")
      Run(name, counted.left.toOption, wall, counted.toOption.map(_._2),
        sc.defaultParallelism,
        rec.jobs.values.toSeq, rec.stages.toSeq, rec.tasks, rec.taskMs, rec.gcMs,
        rec.readBytes, rec.readRecords, rec.writeBytes, rec.writeRecords, rec.spill,
        counted.toOption.map(_._1.queryExecution.executedPlan))
    } finally sc.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    val (planFlag, lists) = args.toSeq.partition(_ == "--plan")
    require(lists.size <= 1, "usage: Profile [q_a,q_b] [--plan]")
    val queries = graft.SparkEntry.queries
    val names = queryNames(lists.headOption, queries.keySet)
    val nWarm = warmups(sys.env.get("SPARK_GRAFT_PROBE_WARMUPS"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { n =>
      val run = measure(spark, n, queries(n)(_, sfDir), nWarm)
      println(run.json)
      if (planFlag.nonEmpty) println(run.finalPlan)
    } finally spark.stop()
  }
}
