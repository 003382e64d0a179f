package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{GraphStorage, GraphStore}
import graft.pipelines.Pipelines
import graft.sources.TextSources
import graft.streaming.FlowStream

/** Repeated ETL cycles over one versioned graph store — the paper's own
  * surface. A write op is one cycle: the cycle's flow-log file streams
  * through the JSONL ingest face, the windowed rollup and an AvailableNow
  * foreachBatch sink that merges into the edge store; the topology
  * pipeline merges the cycle's snapshot and alarms into the vertex store;
  * the declared-dependency pipeline merges its edges (every cycle, so
  * every round does the same work);
  * retention then expires old versions. A read op is a point lookup,
  * a degree profile or an anchored two-hop over the latest versions. */
final class EtlCycle(env: Env) extends Workload {
  import env.{spark, trace}

  private val edgeRoot = s"${env.state}/edges"
  private val vertexRoot = s"${env.state}/vertices"
  private val streamIn = s"${env.state}/flows_in"
  private val checkpoint = s"${env.state}/flows_ckpt"
  private val cycles = env.truth.get("cycles")
  private val metricCols = Seq("calls", "avg_value", "err_count", "last_seen")

  private var lines = 0L
  private var quarantined = 0L
  private var changed = 0L
  private var written = 0L
  /** Edge-store versions committed by the running cycle, with the merge
    * batch each came from. */
  private val commits = scala.collection.mutable.ArrayBuffer.empty[(Long, DataFrame)]

  def setup(): Unit = {
    Files.createDirectories(Paths.get(streamIn))
    GraphStorage.commitSnapshot(
      spark.read.parquet(env.path("base_edges.parquet")), edgeRoot)
    GraphStorage.commitSnapshot(
      spark.read.schema("label string, name string")
        .csv(env.path("base_vertices.csv"))
        .select(col("label"), col("name"), lit("healthy").as("health_status"),
          lit(0L).as("last_updated"), lit(0L).as("first_seen")),
      vertexRoot)
  }

  override def sizes: Map[String, Long] = Map(
    "edge_store_bytes" -> latestBytes(edgeRoot),
    "vertex_store_bytes" -> latestBytes(vertexRoot))

  private def latestBytes(root: String): Long =
    GraphStorage.latestVersion(spark, root).map(v => Harness.bytesUnder(s"$root/v=$v"))
      .getOrElse(0L)

  override def ratios: Map[String, Double] = Map(
    "sources.TextSources.quarantine_share" -> quarantined.toDouble / lines.max(1L),
    "model.GraphStorage.commitSnapshot.changed_per_written" ->
      changed.toDouble / written.max(1L))

  /** A round is one cycle followed by its reads. */
  def rounds: Iterator[Seq[Op]] = Iterator.range(0, cycles.size).map { c =>
    val t = cycles.get(c)
    val reads = t.get("reads")
    cycleOp(c, t) +: (0 until reads.size).map(r => readOp(reads.get(r)))
  }

  private def csv(p: String) = spark.read.schema("label string, name string").csv(p)

  private def cycleOp(c: Int, t: com.fasterxml.jackson.databind.JsonNode): Op = {
    val dir = env.path(f"c$c%03d")
    var ingest = (0L, 0L)
    var vertexVersion = -1L
    def run(): Unit = {
      // the cycle's log file lands in the watched directory
      Files.copy(Paths.get(dir, "flows.jsonl"), Paths.get(streamIn, f"c$c%03d.jsonl"))
      ingest = flows()
      declared(dir)
      vertexVersion = topology(dir, runStamp = c + 1L)
      trace("model.GraphStorage.expireSnapshots") {
        GraphStorage.expireSnapshots(spark, edgeRoot, keepLast = 2)
        GraphStorage.expireSnapshots(spark, vertexRoot, keepLast = 2)
      }
    }
    def check(): Option[String] = {
      val (nLines, nBad) = ingest
      lines += nLines
      quarantined += nBad
      val next = GraphStorage.readSnapshot(spark, vertexRoot, Some(vertexVersion))
      val v = next
        .agg(count(lit(1)), sum(when(col("first_seen") === c + 1L, 1L).otherwise(0L)),
          sum(when(col("health_status") === "degraded", 1L).otherwise(0L)))
        .head()
      // the cycle commits one vertex version and retention keeps the one
      // before it: the vertices that one had and the new one lacks are
      // the ones this cycle garbage-collected
      val gc = GraphStorage.readSnapshot(spark, vertexRoot, Some(vertexVersion - 1))
        .join(next, Seq("label", "name"), "left_anti").count()
      val edges = GraphStorage.readSnapshot(spark, edgeRoot).count()
      commits.foreach { case (version, batch) =>
        changed += batch.count()
        written += GraphStorage.readSnapshot(spark, edgeRoot, Some(version)).count()
      }
      commits.clear()
      val got = Seq("lines" -> nLines, "malformed" -> nBad,
        "vertices" -> v.getLong(0), "created" -> v.getLong(1),
        "degraded" -> v.getLong(2), "gc" -> gc,
        "edges" -> edges)
      got.collectFirst { case (k, n) if n != t.get(k).asLong =>
        s"cycle $c: $k = $n, expected ${t.get(k).asLong}" }
    }
    Op("write", "etl_cycle", t.get("input_rows").asLong, () => run(), () => check())
  }

  /** Stream the newly landed log file into the edge store; returns the
    * lines read and the lines quarantined, observed in the same job. */
  private def flows(): (Long, Long) = {
    val raw = trace("sources.TextSources.eventsJsonlStream") {
      TextSources.eventsJsonlStream(spark, streamIn)
    }.observe("ingest", count(lit(1)).as("lines"),
      count(when(col(TextSources.QuarantineCol).isNotNull, 1)).as("bad"))
    val rolled = trace("streaming.FlowStream.windowedRollup") {
      FlowStream.windowedRollup(raw, "user_id", "event_type", "value",
        errPredicate = col("value") >= 30.0)
    }
    trace("streaming.FlowStream.sink") {
      val q = FlowStream.sink(rolled, (batch, _) => mergeFlows(batch))
        .option("checkpointLocation", checkpoint).start()
      q.awaitTermination()
      q.recentProgress.flatMap(p => Option(p.observedMetrics.get("ingest")))
        .foldLeft((0L, 0L))((acc, r) => (acc._1 + r.getLong(0), acc._2 + r.getLong(1)))
    }
  }

  /** One micro-batch: windows collapse to one edge per call pair (several
    * windows of a pair can close together), then merge and commit. */
  private def mergeFlows(batch: DataFrame): Unit = {
    val edges = batch.groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("calls")).as("calls"),
        round(sum(col("avg_value") * col("calls")) / sum(col("calls")), 2).as("avg_value"),
        sum(col("err_count")).as("err_count"),
        max(col("last_seen")).cast("long").as("last_seen"))
      .select(lit("Service").as("src_label"),
        format_string("arn:aws:ecs:us-east-1:123456789012:service/prod/svc-%05d",
          col("user_id")).as("src_name"),
        lit("Calls").as("edge_label"), lit("Service").as("dst_label"),
        col("event_type").as("dst_name"), col("calls"), col("avg_value"),
        col("err_count"), col("last_seen"))
      .localCheckpoint()
    if (!edges.isEmpty) mergeCommit(edges)
  }

  private def mergeCommit(batch: DataFrame): Unit = {
    val store = trace("model.GraphStorage.readSnapshot") {
      GraphStorage.readSnapshot(spark, edgeRoot)
    }
    val merged = trace("model.GraphStore.mergeEdges") {
      GraphStore.mergeEdges(store, batch, metricCols)
    }
    val version = trace("model.GraphStorage.commitSnapshot") {
      GraphStorage.commitSnapshot(merged, edgeRoot)
    }
    commits += version -> batch
  }

  private def declared(dir: String): Unit = {
    val templates = spark.read
      .schema("stack_name string, src_logical string, template_json string")
      .json(s"$dir/templates.jsonl")
    val physical = spark.read.schema("logical_id string, physical_id string")
      .csv(s"$dir/physical.csv")
    // one edge per key (a dependency can be declared by several stacks),
    // forced here so the merge batch is computed once
    val edges = trace("pipelines.Pipelines.declaredDeps") {
      Pipelines.declaredDeps(templates, physical)
        .select(lit("Resource").as("src_label"), col("src").as("src_name"),
          col("edge_label"), lit("Resource").as("dst_label"), col("dst").as("dst_name"))
        .distinct()
        .select(col("*") +: metricCols.map(c =>
          lit(null).cast(if (c == "avg_value") "double" else "long").as(c)): _*)
        .localCheckpoint()
    }
    mergeCommit(edges)
  }

  private def topology(dir: String, runStamp: Long): Long = {
    val store = trace("model.GraphStorage.readSnapshot") {
      GraphStorage.readSnapshot(spark, vertexRoot)
    }
    val next = trace("pipelines.Pipelines.topology") {
      Pipelines.topology(store, csv(s"$dir/snapshot.csv"), csv(s"$dir/alarms.csv"),
        runStamp)
    }
    trace("model.GraphStorage.commitSnapshot") {
      GraphStorage.commitSnapshot(next, vertexRoot)
    }
  }

  private def readOp(r: com.fasterxml.jackson.databind.JsonNode): Op = {
    val kind = r.get("kind").asText
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    def run(): Unit = {
      val (v, e) = trace("model.GraphStorage.readSnapshot") {
        (GraphStorage.readSnapshot(spark, vertexRoot),
          GraphStorage.readSnapshot(spark, edgeRoot))
      }
      rows = kind match {
        case "pointLookup" => trace("model.GraphStore.pointLookup") {
          GraphStore.pointLookup(v, r.get("label").asText, r.get("name").asText).collect()
        }
        case "degrees" => trace("model.GraphStore.degrees") {
          GraphStore.degrees(v, e, r.get("label").asText).collect()
        }
        case "twoHop" => trace("model.GraphStore.twoHop") {
          GraphStore.twoHop(broadcast(e.filter(col("src_name") === r.get("name").asText)),
            e, "RunsOn", "InSubnet").collect()
        }
      }
    }
    def check(): Option[String] = {
      val want = r.get("rows").asInt
      if (rows.length != want) Some(s"$kind: ${rows.length} rows, expected $want")
      else kind match {
        case "pointLookup" if want == 1 =>
          val degraded = rows(0).getAs[String]("health_status") == "degraded"
          if (degraded != (r.get("degraded").asInt == 1))
            Some(s"pointLookup: health ${rows(0).getAs[String]("health_status")}")
          else None
        case "degrees" =>
          val in = rows.map(_.getAs[Long]("in_degree")).sum
          if (in != env.truth.get("instances").asLong) Some(s"degrees: in-degree sum $in")
          else None
        case _ => None
      }
    }
    Op("read", kind, 1L, () => run(), () => check())
  }
}
