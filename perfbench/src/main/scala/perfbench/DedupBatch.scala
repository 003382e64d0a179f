package perfbench

import org.apache.spark.sql.functions._

import graft.ext.{Components, Dedup}
import graft.sources.CorpusLayout

/** Corpus curation passes — compute- and exchange-bound. Set-up lays the
  * seeded corpus out by slice. A write op curates one slice: read it,
  * drop exact duplicates, find near-duplicate pairs with MinHash-LSH,
  * cluster them, keep one document per cluster and write the kept set.
  * A read op probes an eval batch against a slice for n-gram
  * contamination. */
final class DedupBatch(env: Env) extends Workload {
  import env.{spark, trace}

  private val corpus = s"${env.state}/corpus"
  private val slices = env.truth.get("slices")
  private val evals = env.truth.get("evals")
  private var injected = 0L
  private var found = 0L

  def setup(): Unit =
    CorpusLayout.write(spark.read.parquet(env.path("corpus.parquet")), corpus,
      partitionCols = Seq("slice"), sortCols = Seq("doc_id"))

  override def sizes: Map[String, Long] = Map(
    "corpus_bytes" -> Harness.bytesUnder(corpus))

  override def ratios: Map[String, Double] = Map(
    "ext.Dedup.minhashLshPairs.injected_recall" -> found.toDouble / injected.max(1L))

  /** A round curates one slice and probes one eval batch. */
  def rounds: Iterator[Seq[Op]] = Iterator.range(0, evals.size).map { i =>
    Seq(curate(i), probe(i))
  }

  private def ids(n: com.fasterxml.jackson.databind.JsonNode): Set[Long] =
    (0 until n.size).map(n.get(_).asLong).toSet

  private def curate(i: Int): Op = {
    val t = slices.get(i % slices.size)
    val slice = t.get("slice").asText
    val out = s"${env.state}/curated/p$i"
    var near: org.apache.spark.sql.DataFrame = null
    Op("write", "curate", t.get("ids").size.toLong, () => {
      // the slice feeds two consumers: materialize it once, in its own span
      val docs = trace("sources.CorpusLayout.readSlice") {
        CorpusLayout.readSlice(spark, corpus, "slice" -> slice).localCheckpoint()
      }
      val keepers = trace("ext.Dedup.exact") {
        Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
          .localCheckpoint()
      }
      val unique = docs.join(keepers, Seq("doc_id"), "left_semi")
      near = trace("ext.Dedup.minhashLshPairs") {
        Dedup.minhashLshPairs(unique, "doc_id", "text", shingleN = 3, numHashes = 12,
          bandSize = 4, threshold = 0.7).localCheckpoint()
      }
      val comp = trace("ext.Components.connectedAdaptive") {
        Components.connectedAdaptive(near, "doc_a", "doc_b").localCheckpoint()
      }
      val kept = unique.join(comp.filter(col("component") =!= col("node"))
        .select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
      trace("sources.CorpusLayout.write") {
        CorpusLayout.write(kept, out, partitionCols = Seq("slice"), sortCols = Seq("doc_id"))
      }
    }, () => {
      val pairs = near.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val kept = spark.read.parquet(out).select(col("doc_id")).collect().map(_.getLong(0))
      val input = ids(t.get("ids"))
      val dups = ids(t.get("exact_dups"))
      val np = t.get("near_pairs")
      injected += np.size
      found += (0 until np.size).count { j =>
        val (a, b) = (np.get(j).get(0).asLong, np.get(j).get(1).asLong)
        pairs((a, b)) || pairs((b, a))
      }
      if (kept.isEmpty) Some(s"curate $slice: nothing kept")
      else kept.find(!input(_)).map(id => s"curate $slice: kept $id not in the input")
        .orElse(kept.find(dups).map(id => s"curate $slice: exact duplicate $id kept"))
    })
  }

  private def probe(i: Int): Op = {
    val t = evals.get(i)
    var flagged = Set.empty[Long]
    Op("read", "contamination", t.get("docs").asLong, () => {
      val docs = trace("sources.CorpusLayout.readSlice") {
        CorpusLayout.readSlice(spark, corpus, "slice" -> t.get("slice").asText)
          .localCheckpoint()
      }
      flagged = trace("ext.Dedup.ngramContainment") {
        Dedup.ngramContainment(docs, spark.read.parquet(env.path(f"eval$i%03d.parquet")),
          "doc_id", "text", n = 8).filter(col("containment") >= 0.8).collect()
      }.map(_.getLong(0)).toSet
    }, () =>
      ids(t.get("contaminated")).find(!flagged(_))
        .map(id => s"contamination: eval doc $id not flagged"))
  }
}
