package perfbench

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.functions._

import graft.ext.{IvfPq, PostingIndex}

/** IVF-PQ and BM25 wave-store maintenance — job-chain bound. Set-up trains
  * the IVF-PQ model and saves the encoded corpus, and builds the posting
  * index. The write ops are an IVF-PQ append (encoded against the loaded
  * model), an IVF-PQ tombstone delete, a posting-index append and a
  * compaction of both indexes; the reads are a reload plus pruned ANN
  * serve and a BM25 query. */
final class IndexWaves(env: Env) extends Workload {
  import env.{spark, trace}
  import IndexWaves._

  private val ivf = s"${env.state}/ivfpq"
  private val bm25 = s"${env.state}/bm25"
  private val ops0 = env.truth.get("ops")
  private val deleted = mutable.HashSet.empty[Long]
  private var deletedSinceCompact = 0L
  private var live = 0L
  private var rewritten = 0L
  private var model: IvfPq.IvfPqModel = _

  def setup(): Unit = {
    val (m, codes) = IvfPq.trainEncode(spark.read.parquet(env.path("vectors0.parquet")),
      "vec_id", "embedding", nLists = IvfLists, coarseRounds = 2, m = Subspaces,
      k = Codes, pqRounds = 2)
    IvfPq.save(m, codes, ivf)
    PostingIndex.build(spark.read.parquet(env.path("docs0.parquet")), "doc_id", "text",
      bm25, termBuckets = TermBuckets)
    model = IvfPq.load(spark, ivf).model
  }

  override def sizes: Map[String, Long] = Map(
    "code_table_bytes" -> Harness.bytesUnder(s"$ivf/codes"),
    "model_rows" -> (IvfLists + Codes) * env.truth.get("dim").asLong)

  override def ratios: Map[String, Double] = Map(
    "ext.IvfPq.compact.live_per_rewritten" -> live.toDouble / rewritten.max(1L))

  /** A round is an IVF-PQ append, an IVF-PQ delete, a posting-index
    * append and a compaction of both, then one ANN and one BM25 serve. */
  def rounds: Iterator[Seq[Op]] = Iterator.range(0, ops0.size).map { r =>
    val t = ops0.get(r)
    val writes = t.get("writes")
    (0 until writes.size).map(w => writeOp(t.get("dir").asText, writes.get(w))) ++
      Seq(annOp(t), bm25Op(t))
  }

  private def writeOp(round: String, t: com.fasterxml.jackson.databind.JsonNode): Op = {
    val dir = env.path(round)
    val kind = t.get("kind").asText
    kind match {
      case "appendSave" =>
        val (lo, hi, n) = (t.get("lo").asLong, t.get("hi").asLong, t.get("n").asLong)
        Op("write", kind, n, () => {
          val enc = trace("ext.IvfPq.encode") {
            IvfPq.encode(spark.read.parquet(s"$dir/vectors.parquet"), "vec_id",
              "embedding", model)
          }
          trace("ext.IvfPq.appendSave") { IvfPq.appendSave(ivf, enc, t.get("wave").asLong) }
        }, () => {
          val got = IvfPq.load(spark, ivf).codes
            .filter(col("vid").between(lo, hi)).select(col("vid")).distinct().count()
          if (got != n) Some(s"appendSave: $got of $n appended ids served") else None
        })
      case "deleteSave" =>
        val ids = Source.fromFile(s"$dir/delete.csv").getLines().map(_.toLong).toSeq
        Op("write", kind, ids.size.toLong, () => {
          trace("ext.IvfPq.deleteSave") {
            IvfPq.deleteSave(ivf, spark.read.schema("vid long").csv(s"$dir/delete.csv"),
              "vid", t.get("wave").asLong)
          }
        }, () => {
          deleted ++= ids
          deletedSinceCompact += ids.size
          None
        })
      case "postingAppend" =>
        Op("write", kind, t.get("n").asLong, () => {
          trace("ext.PostingIndex.append") {
            PostingIndex.append(spark.read.parquet(s"$dir/docs.parquet"), "doc_id", "text",
              bm25, t.get("wave").asLong, termBuckets = TermBuckets)
          }
        }, () => None)
      case "compact" =>
        Op("write", kind, 0L, () => {
          trace("ext.IvfPq.compact") { IvfPq.compact(spark, ivf) }
          trace("ext.PostingIndex.compact") { PostingIndex.compact(spark, bm25) }
        }, () => {
          val want = t.get("live").asLong
          live += want
          rewritten += want + deletedSinceCompact
          deletedSinceCompact = 0L
          val r = IvfPq.load(spark, ivf).codes.select(col("vid")).distinct()
            .agg(count(lit(1)), sum(col("vid"))).head()
          if (r.getLong(0) != want || r.getLong(1) != t.get("live_sum").asLong)
            Some(s"compact: ${r.getLong(0)} live ids, expected $want")
          else None
        })
    }
  }

  private def annOp(t: com.fasterxml.jackson.databind.JsonNode): Op = {
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val nq = t.get("queries").size
    Op("read", "ann", nq.toLong, () => {
      val disk = trace("ext.IvfPq.load") { IvfPq.load(spark, ivf) }
      rows = trace("ext.IvfPq.searchPruned") {
        IvfPq.searchPruned(disk,
          spark.read.parquet(env.path(t.get("dir").asText + "/queries.parquet")),
          "vec_id", "embedding", k = TopK, nProbe = Probes).collect()
      }
    }, () => {
      val served = rows.map(_.getAs[Long]("neighbor_id"))
      if (rows.length != nq * TopK) Some(s"ann: ${rows.length} rows, expected ${nq * TopK}")
      else served.find(deleted).map(id => s"ann: tombstoned id $id served")
    })
  }

  private def bm25Op(t: com.fasterxml.jackson.databind.JsonNode): Op = {
    var n = -1L
    val terms = (0 until t.get("terms").size).map(i => t.get("terms").get(i).asText)
    Op("read", "bm25", terms.size.toLong, () => {
      n = trace("ext.PostingIndex.scoreQuery") {
        PostingIndex.scoreQuery(spark, bm25, terms, termBuckets = TermBuckets).collect()
      }.length
    }, () => {
      val want = t.get("matches").asLong
      if (n != want) Some(s"bm25: $n docs matched, expected $want") else None
    })
  }
}

object IndexWaves {
  private val IvfLists = 8
  private val Subspaces = 4
  private val Codes = 8
  private val TermBuckets = 16
  private val TopK = 10
  private val Probes = 2
}
