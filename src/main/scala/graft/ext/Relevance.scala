package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-relevance scoring for retrieval-style curation: BM25 of every
  * document against a bag of query terms, and its plain TF-IDF sibling.
  *
  * Shape for 100 TB: per-document term frequencies and length are pure
  * codegen `Column` arithmetic over the token array (no explode, no
  * shuffle); the corpus-level statistics (N, Σdl, per-term document
  * frequency) collapse to ONE single-row aggregate that is broadcast
  * back over the corpus — so the whole operator is one scan + one
  * map-side-combined aggregate + one broadcast join, embarrassingly
  * parallel in the document dimension. The query-term list is a handful
  * of literals; df/idf per term ride the same single stats row.
  *
  * Determinism: `ln` is the one transcendental — both engines evaluate
  * it on bit-identical double inputs (the idf argument is built from
  * exact integer counts with the same association order), and the final
  * `round(score, 4)` collapses sub-ulp libm differences; divergence
  * would need the score's shortest decimal representation to terminate
  * exactly at the 5th decimal, which transcendental outputs do not.
  * Verified hash-identical vs the DuckDB oracle at three scale factors.
  */
object Relevance {

  /** Okapi BM25 with the Lucene-style `ln(1 + (N - df + 0.5)/(df + 0.5))`
    * idf (always positive). Emits (id, dl, tf_i..., bm25); `bm25` is
    * rounded to 4 dp. k1/b defaults are the standard 1.2/0.75.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val ws = TextAnalysis.words(col(textCol))
    val tfCols = terms.indices.map { i =>
      // words() lower-cases tokens; match the terms case-insensitively
      // too, or a capitalized query term would silently score 0 corpus-wide
      // Locale.ROOT: Spark's lower() (used by words()) is locale-invariant;
      // a default-locale fold would break under e.g. tr_TR ('I' -> 'ı')
      size(filter(ws, w => w === lit(terms(i).toLowerCase(java.util.Locale.ROOT))))
        .cast("long").as(s"tf_$i")
    }
    // materialize the narrow (id, dl, tf...) frame once: it feeds both
    // the stats aggregate and the probe side, and without the checkpoint
    // the scan + tokenization would run twice (no AQE sibling-stage reuse)
    val base = docs.select(
      col(idCol) +: size(ws).cast("long").as("dl") +: tfCols: _*)
      .localCheckpoint()

    val statAggs =
      count(lit(1)).cast("double").as("n_docs") +:
        sum(col("dl")).cast("double").as("sum_dl") +:
        terms.indices.map(i =>
          count(when(col(s"tf_$i") > 0, 1)).cast("double").as(s"df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)

    base.crossJoin(broadcast(stats))
      .select(bm25Columns(idCol, terms.size, k1, b): _*)
  }

  /** (id, dl, tf_i.., bm25) over (dl, tf_i, df_i, n_docs, sum_dl): the
    * ONE score of [[bm25]] and [[PostingIndex.scoreQuery]] (parity by
    * construction). score_t = idf_t · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)); association order mirrored verbatim in the oracle */
  private[ext] def bm25Columns(idCol: String, nTerms: Int, k1: Double,
      b: Double): Seq[Column] = {
    val dlNorm = col("dl").cast("double") / (col("sum_dl") / col("n_docs"))
    val termScore: Int => Column = { i =>
      val tf = col(s"tf_$i").cast("double")
      val df = col(s"df_$i")
      val idf = log((col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dlNorm))
    }
    val score = (0 until nTerms).map(termScore).reduce(_ + _)
    (col(idCol) +: col("dl") +: (0 until nTerms).map(i => col(s"tf_$i"))) :+
      round(score, 4).as("bm25")
  }

  /** Top-k TF-IDF keywords per document — the classic "what is this doc
    * about" signal a curation pipeline uses for topic tagging and
    * per-topic mixing. Emits (id, word, tf, tfidf, rk), rk ≤ k.
    *
    * score(d, w) = tf(d, w) · ln(N / df(w)), rounded to 4 dp; ranking
    * uses the ROUNDED score (+ word as the total-order tie-break) so an
    * oracle ranking over the same rounded values selects identical rows.
    *
    * Shape for 100 TB: one explode + one (doc, word) aggregate — the
    * token histogram — materialized ONCE (it feeds both the document
    * frequency aggregate and the scoring join; AQE does not reuse
    * sibling stages). df joins back on the word key (vocabulary-sized,
    * so a shuffle join, NOT a broadcast); the per-doc top-k is a
    * rank-limit window (WindowGroupLimit pushes the k cut before the
    * final sort). Nothing pairs up; cost is O(tokens).
    */
  def tfidfKeywords(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, "tfidfKeywords needs k >= 1")
    val n = docs.count() // corpus constant, one action
    val tf = docs
      .select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("word"))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(lit(n.toDouble) / col("df").cast("double")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("word"), col("tf"), col("tfidf"), col("rk"))
  }
}
