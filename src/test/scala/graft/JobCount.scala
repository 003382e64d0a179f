package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs, with a SparkListener.
  *
  * The block runs under its own job group, so jobs of other threads do
  * not count. Listener events arrive asynchronously and in order: after
  * the block, one fence job runs under a second group, and the count is
  * read once the listener has seen the fence start, so every job the
  * block started has been delivered by then.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (result, started) = jobs(spark)(body)
    (result, started.size)
  }

  /** The jobs a block runs, in start order, each as
    * "job <id>: <call site> | <description>" — what a budget failure
    * prints so that an extra job names itself. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${UUID.randomUUID()}"
    val fenceGroup = s"$group-fence"
    val jobs = new ConcurrentLinkedQueue[String]
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val g = p.getProperty("spark.jobGroup.id")
          if (g == group) jobs.add(s"job ${e.jobId}: " +
            s"${p.getProperty("callSite.short")} | " +
            p.getProperty("spark.job.description"))
          else if (g == fenceGroup) fenced.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(fenceGroup, "job-count fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(fenced.await(60, TimeUnit.SECONDS),
        "listener never saw the fence job")
      (result, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
