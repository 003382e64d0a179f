package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact lexical cosine similarity join — the sparse-vector complement
  * to [[Dedup.embeddingCosinePairs]]: documents as integer term-
  * frequency vectors over a df-FILTERED vocabulary, paired through an
  * inverted index, thresholded by integer cross-multiplication. The
  * lexical near-dup face MinHash approximates, here computed exactly.
  *
  * The df filter (`maxTermDF`) is part of the SEMANTICS, not a lossy
  * cap: terms appearing in more than `maxTermDF` documents are removed
  * from the vector space itself (numerators AND norms — the vectors
  * stay consistent), which is the classic stop-term projection: "the"
  * carries no similarity signal but would pair every document with
  * every other (C(df, 2) posting pairs — the quadratic bomb). Both the
  * operator and the SQL oracle apply the identical projection, so the
  * result is hash-exact, unlike an observe-audited candidate cap.
  *
  * All arithmetic is BIGINT-exact: tf counts are integers, the
  * numerator is Σ tf_a·tf_b over shared terms, norms are Σ tf², and
  * the threshold τ = tauNum/tauDen is decided WITHOUT floats by
  *   num ≥ 0  ∧  num² ≥ ⌈tauNum²·‖a‖²·‖b‖² / tauDen²⌉
  * (integers on both sides — exact ⟺ num/(‖a‖‖b‖) ≥ τ). Overflow
  * bounds: num², tauNum²·na·nb ≲ 2⁶³ — with tf ≤ 10³ and ≤ 10³ kept
  * terms per doc, na ≤ 10⁹ and any τ with tauNum ≤ 3 fits; beyond
  * that, rescale or shard (the [[TextAnalysis]] quantized-sum
  * contract). The reported cos4 rounds num/√(na·nb) computed in
  * IEEE double from exact integers — engine-identical.
  *
  * Shape for 100 TB: one tokenize+count aggregate, a partial-aggregated
  * df count joined back on the term key, the posting self-join shuffles on term
  * (bucket-local pairs, bounded C(maxTermDF, 2) per term), one pair
  * aggregate, two norm joins. No all-pairs stage anywhere.
  *
  * Emits (doc_a, doc_b, num, norm_a, norm_b, cos4) for pairs at
  * cos ≥ τ with at least one shared kept term.
  */
object LexCosine {

  def tfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      tauNum: Long, tauDen: Long, maxTermDF: Long): DataFrame = {
    require(tauNum >= 0 && tauDen > 0 && tauNum <= tauDen,
      "tau must be a rational in [0, 1]")
    require(maxTermDF >= 1, "maxTermDF must be >= 1")

    val tok = docs
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.words(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // stop-term projection: df via partial-aggregated count + join,
    // not an unordered window — a stop-term flood is ONE term key with
    // the whole corpus colocated (SkewGuard.capKeyFrequency); the
    // df table is one row per distinct term, combined map-side
    val dfTbl = tok.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // join key is NON-NULL BY CONSTRUCTION, as in
    // SkewGuard.capKeyFrequency's count + join
    val kept = tok.join(dfTbl, Seq("term"))
      .where(col("df") <= maxTermDF)
      .select(col("doc"), col("term"), col("tf"))
      .localCheckpoint() // feeds norms AND both posting sides

    val norms = kept.groupBy(col("doc"))
      .agg(sum(col("tf") * col("tf")).as("nn"))
    val a = kept.select(col("doc").as("doc_a"), col("term"), col("tf").as("tf_a"))
    val b = kept.select(col("doc").as("doc_b"), col("term"), col("tf").as("tf_b"))
    val num = a.join(b, Seq("term"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("tf_a") * col("tf_b")).as("num"))

    val thresholded = num
      .join(norms.select(col("doc").as("doc_a"), col("nn").as("norm_a")), "doc_a")
      .join(norms.select(col("doc").as("doc_b"), col("nn").as("norm_b")), "doc_b")
      // ceil division via INTEGRAL `div` (positive operands → floor):
      // Column.divide would route through double and lose exactness
      // past 2⁵³
      .withColumn("rhs",
        lit(tauNum * tauNum) * col("norm_a") * col("norm_b")
          + lit(tauDen * tauDen - 1))
      .where(col("num") * col("num") >=
        expr(s"rhs div ${tauDen * tauDen}"))
    thresholded.select(col("doc_a"), col("doc_b"), col("num"),
      col("norm_a"), col("norm_b"),
      round(col("num") /
        sqrt(col("norm_a").cast("double") * col("norm_b").cast("double")), 4)
        .as("cos4"))
  }
}
