package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion — merging ranked candidate lists from
  * heterogeneous retrievers (BM25 posting lists, dense ANN, recency,
  * …) into one ranking: rrf(d) = Σ_lists 1/(k + rank_list(d)). The
  * hybrid-retrieval step every modern corpus-search / RAG curation
  * stack runs after its per-retriever top-k cuts; score scales never
  * need calibrating because only RANKS enter the sum (Cormack &
  * Clarke's RRF, k=60 standard).
  *
  * Determinism: each contribution is quantized to integer micro-units
  * (⌊10¹²/(k+rank) + ½⌋, BIGINT) BEFORE the per-document sum — integer
  * addition is order-independent, so the fused ranking cannot drift
  * with shuffle order the way a float Σ1/(k+r) could.
  *
  * Scale contract: fusion operates on PRE-CUT lists (each retriever's
  * top-n, bounded hundreds–thousands of rows) — that is what makes the
  * per-list ranking window and the final top-N safe. The expensive,
  * corpus-sized work (posting-list scoring, ANN probing) belongs to
  * the retrievers upstream ([[Relevance.bm25]], [[Similarity]],
  * [[IvfIndex]]); [[rankList]]'s global cut is a
  * TakeOrderedAndProject, never a full sort.
  */
object Fusion {

  /** Top-n cut of a scored frame, with explicit dense 1-based ranks —
    * ordered by (score desc, id asc); callers pass an already-ROUNDED
    * score column when the score's last digits are not cross-engine
    * reproducible (the q_keywords discipline). The cut plans as
    * TakeOrderedAndProject (limit pushed into the sort); the ranking
    * window then touches only the n survivors. */
  def rankList(scored: DataFrame, idCol: String, scoreCol: String,
               n: Int): DataFrame =
    scored.select(col(idCol), col(scoreCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .limit(n)
      // single-partition window over at most n rows (the limit above)
      .withColumn("rank", row_number().over(
        Window.orderBy(col(scoreCol).desc, col(idCol).asc)))
      .select(col(idCol), col("rank"))

  /** Fuse ranked lists: each input carries (idCol, rankCol) with dense
    * 1-based ranks. Returns the fused top-N as (idCol, n_lists,
    * rrf_micro, rank) — rrf_micro the integer-µ RRF sum, rank the
    * fused 1-based position under (rrf_micro desc, id asc). */
  def rrfFused(lists: Seq[(DataFrame, String)], idCol: String,
               k: Int = 60, topN: Int = 20): DataFrame = {
    require(lists.nonEmpty, "rrfFused needs at least one list")
    require(k >= 1, s"rrf k must be >= 1: $k")
    val contribs = lists.map { case (df, rankCol) =>
      df.select(col(idCol),
        floor(lit(1e12) / (lit(k) + col(rankCol)) + lit(0.5))
          .cast("long").as("contrib"))
    }.reduce(_ unionByName _)
    contribs
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_lists"),
        sum(col("contrib")).as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col(idCol).asc)
      .limit(topN)
      // single-partition window over at most topN rows (the limit above)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_micro").desc, col(idCol).asc)))
  }
}
