package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans the benchmark records around its own calls into the library's
  * public functions. A span carries the op it belongs to (-1 for set-up
  * and output checks), so per-op counters leave the checks out.
  *
  * The innermost open span's id travels to Spark as a local property on
  * the calling thread; [[JobListener]] reads it back from each job.
  * Disabled (untraced runs), a span is just its body. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private final case class Span(id: Int, parent: Int, name: String,
      op: Int, t0: Long, ms0: Long) {
    var t1 = 0L
    var ms1 = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[Int]
  @volatile var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (s, outer) = synchronized {
        val s = Span(spans.size, open.lastOption.getOrElse(-1), name, op,
          System.nanoTime(), System.currentTimeMillis())
        spans += s
        open += s.id
        (s, sc.getLocalProperty(Key))
      }
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally synchronized {
        s.t1 = System.nanoTime()
        s.ms1 = System.currentTimeMillis()
        open -= s.id
        sc.setLocalProperty(Key, outer)
      }
    }

  /** The innermost span open at epoch-millisecond `ms`: the attribution
    * for a job whose thread carried no span, or a stale one (a pooled
    * thread keeps the properties of the thread that created it). */
  private def innermostAt(ms: Long): Int =
    spans.filter(s => s.ms0 <= ms && ms <= s.ms1)
      .maxByOption(_.t0).map(_.id).getOrElse(-1)

  /** The span a job belongs to: its property if that span was open when
    * the job started, else the innermost span open at that time. */
  def attribute(prop: Option[String], ms: Long): Int = synchronized {
    prop.flatMap(_.toIntOption).filter { id =>
      id >= 0 && id < spans.size &&
        spans(id).ms0 <= ms && (spans(id).ms1 == 0L || ms <= spans(id).ms1)
    }.getOrElse(innermostAt(ms))
  }

  def toJson(f: JsonNodeFactory, t0: Long): ArrayNode = synchronized {
    val a = f.arrayNode()
    spans.foreach { s =>
      a.addObject().put("id", s.id).put("parent", s.parent)
        .put("name", s.name).put("op", s.op)
        .put("t0", (s.t0 - t0) / 1e9).put("t1", (s.t1 - t0) / 1e9)
    }
    a
  }
}

object Trace {
  val Key = "perfbench.span"
}

/** Per-job Spark counters, grouped by the job that first submitted each
  * stage: stages actually run, task time, shuffle-write, scan and write
  * bytes, spill and failed tasks. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val ms: Long, val prop: Option[String]) {
    var stages = 0
    var failedTasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var input = 0L
    var output = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time,
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key))))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def toJson(f: JsonNodeFactory, trace: Trace): ArrayNode = synchronized {
    val a = f.arrayNode()
    jobs.values.foreach { j =>
      a.addObject().put("id", j.id).put("span", trace.attribute(j.prop, j.ms))
        .put("stages", j.stages).put("failed_tasks", j.failedTasks)
        .put("task_ms", j.taskMs).put("shuffle_write", j.shuffleWrite)
        .put("input", j.input)
        .put("output", j.output).put("spill", j.spill)
    }
    a
  }
}
