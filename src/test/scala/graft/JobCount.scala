package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

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
    val sc = spark.sparkContext
    val group = s"jobcount-${UUID.randomUUID()}"
    val fenceGroup = s"$group-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) jobs.incrementAndGet()
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
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
