package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.SparkSession

/** One operation of a workload's closed loop. `run` is what the latency
  * covers; `check` compares its output with the generator's truth and
  * returns what was wrong, if anything. `rows` counts generated input
  * rows the op consumes. */
final case class Op(kind: String, name: String, rows: Long,
    run: () => Unit, check: () => Option[String])

/** A workload over one state directory: set-up builds the state from the
  * generated inputs; `rounds` then yields the closed loop's ops in rounds,
  * each round the same sequence of op kinds, so every run of a workload
  * has the same mix however many rounds it measures. */
trait Workload {
  def setup(): Unit
  def rounds: Iterator[Seq[Op]]
  /** Useful/attempt ratios the workload measured, by metric name. */
  def ratios: Map[String, Double] = Map.empty
  /** Input and store sizes worth recording, in bytes or rows. */
  def sizes: Map[String, Long] = Map.empty
}

final class Env(val spark: SparkSession, val trace: Trace,
    val input: String, val state: String, val truth: JsonNode) {
  def path(p: String): String = new File(input, p).getPath
}

/** The benchmark's single process: one Spark session on local[cores],
  * one closed-loop client on this thread that issues the next op only
  * after the previous one returned.
  *
  * Usage: Harness <workload> <input dir> <work dir> <warm-up rounds>
  *   <timed rounds> <trace 0|1> <set-ups> <result.json>
  *
  * The state build runs `set-ups` times on fresh state; the last one's
  * state then runs the untimed warm-up rounds and the timed ones.
  * Results go to the JSON file; the caller turns them into metrics. */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, warm, rounds, traced, setups, out) = args
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    val trace = new Trace(spark.sparkContext, traced == "1")
    if (trace.enabled) spark.sparkContext.addSparkListener(listener)
    val sessionReady = System.currentTimeMillis() / 1e3
    val truth = new ObjectMapper().readTree(new File(input, "truth.json"))

    def make(rep: Int): Workload = {
      val env = new Env(spark, trace, input, s"$work/state$rep", truth)
      workload match {
        case "etl_cycle" => new EtlCycle(env)
        case "index_waves" => new IndexWaves(env)
        case "dedup_batch" => new DedupBatch(env)
      }
    }
    var w: Workload = null
    val setupS = (0 until setups.toInt).map { rep =>
      if (w != null) deleteTree(new File(s"$work/state${rep - 1}"))
      val s0 = System.nanoTime()
      w = make(rep)
      w.setup()
      (System.nanoTime() - s0) / 1e9
    }
    val sizes = w.sizes.map { case (k, v) => s"$k@setup" -> v }
    val it = w.rounds
    val setupErrors = scala.collection.mutable.ArrayBuffer.empty[String]
    val warm0 = System.nanoTime()
    for (_ <- 0 until warm.toInt; op <- it.next()) {
      op.run()
      op.check().foreach(e => setupErrors += s"warm-up ${op.name}: $e")
    }
    val warmS = (System.nanoTime() - warm0) / 1e9

    val f = JsonNodeFactory.instance
    val opsJson = f.arrayNode()
    val gc0 = gcMs()
    val loop0 = System.nanoTime()
    var i = 0
    for (_ <- 0 until rounds.toInt; op <- it.next()) {
      trace.op = i
      val a = System.nanoTime()
      val err = try { trace(s"op.${op.kind}.${op.name}")(op.run()); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val b = System.nanoTime()
      trace.op = -1
      val bad = err.orElse(
        try trace("check")(op.check())
        catch { case NonFatal(e) => Some(s"check threw ${e.getMessage}") })
      val o = opsJson.addObject().put("kind", op.kind).put("name", op.name)
        .put("t0", (a - t0) / 1e9).put("t1", (b - t0) / 1e9)
        .put("lat", (b - a) / 1e9).put("ok", bad.isEmpty).put("rows", op.rows)
      bad.foreach { e => o.put("err", e); System.err.println(s"op $i ${op.name}: $e") }
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    if (trace.enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val res = f.objectNode()
    res.put("workload", workload).put("cores", cores)
      .put("session_ready", sessionReady).put("loop_s", loopS).put("gc_s", gcS)
      .put("warmup_s", warmS)
      .put("peak_rss_mb", peakRssKb() / 1024.0)
    val su = res.putArray("setup_s")
    setupS.foreach(su.add(_))
    val se = res.putArray("setup_errors")
    setupErrors.foreach(se.add(_))
    res.set("ops", opsJson)
    val ra = res.putObject("ratios")
    w.ratios.foreach { case (k, v) => ra.put(k, v) }
    val sz = res.putObject("sizes")
    (sizes ++ w.sizes.map { case (k, v) => s"$k@end" -> v })
      .foreach { case (k, v) => sz.put(k, v) }
    if (trace.enabled) {
      res.set("spans", trace.toJson(f, t0))
      res.set("jobs", listener.toJson(f, trace))
    }
    Files.write(Paths.get(out), new ObjectMapper().writeValueAsBytes(res))
    spark.stop()
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** The process's high-water resident set (VmHWM), in KiB. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Total bytes of the regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val f = new File(dir)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
    else f.length()
  }
}
