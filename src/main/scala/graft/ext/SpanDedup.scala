package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-SPAN detection — the substring-level dedup family
  * (boilerplate headers, license blocks, templated paragraphs shared
  * verbatim across otherwise-different documents), complementing the
  * whole-document families in [[Dedup]]: MinHash/SimHash score whole
  * docs, this finds documents that share one exact run of ≥ `spanTokens`
  * consecutive tokens.
  *
  * The naive index (every token position fingerprinted and joined) is
  * |corpus tokens| rows — at 100 TB that multiplies the corpus by the
  * mean document length. This operator uses WINNOWING (the MOSS
  * fingerprint-selection scheme): fingerprint every `spanTokens`-gram,
  * then within every window of `winnowWindow` consecutive positions keep
  * only the minimum fingerprint value. Selection guarantee: any span of
  * at least `spanTokens + winnowWindow − 1` tokens shared verbatim by
  * two documents contains a full selection window on both sides, whose
  * minimum fingerprint is the same VALUE in both — so both documents
  * select it and the pair joins. Density: selected positions thin to
  * ~2/(winnowWindow+1) of all positions, and the guarantee is one-sided
  * (never a false negative above the guarantee length; spans in
  * [spanTokens, spanTokens+winnowWindow−2] may or may not be caught).
  *
  * Fingerprints are md5 over the exact span text, so a fingerprint match
  * IS an exact span match (no sketch verification step — unlike MinHash,
  * the hash is cryptographic over the content it attests). The join is
  * the posting-list expansion on the fingerprint key, never a doc×doc
  * product; a hot fingerprint (site-wide boilerplate shared by 10⁶ docs)
  * is still quadratic in ITS posting list, so `maxFingerprintDF` caps it
  * with the [[SkewGuard]] observe audit — same contract as
  * [[Dedup.ngramJaccardPairs]]'s `maxShingleDF`.
  */
object SpanDedup {

  /** Per-document winnowed span fingerprints: (idCol, fp) distinct.
    * Exposed for incremental pipelines that persist the fingerprint
    * table and join new batches against it. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, winnowWindow: Int): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be >= 2")
    require(winnowWindow >= 1, "winnowWindow must be >= 1")
    val toks = df
      .select(col(idCol),
        filter(split(trim(lower(col(textCol))), "\\s+"),
          t => t =!= "").as("w"))
      .filter(size(col("w")) >= spanTokens)
    // every position's spanTokens-gram md5, then the window-min selection;
    // both steps are doc-local (in-row transform + one ordered window on
    // the doc key), so the corpus shuffles once
    val spans = toks.select(col(idCol),
      posexplode(expr(
        s"transform(sequence(1, size(w) - ${spanTokens - 1}), " +
          s"i -> md5(concat_ws(' ', slice(w, i, $spanTokens))))"))
        .as(Seq("pos", "fp")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, winnowWindow - 1)
    spans
      .select(col(idCol), min(col("fp")).over(w).as("fp"))
      .distinct()
  }

  /** Document pairs sharing at least one winnowed exact-span fingerprint:
    * (doc_a, doc_b, n_shared) with doc_a < doc_b, n_shared = count of
    * shared selected fingerprints (a coarse overlap-mass signal — long
    * shared runs select many fingerprints). */
  def sharedSpanPairs(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8, winnowWindow: Int = 4,
      maxFingerprintDF: Option[Long] = None): DataFrame = {
    val sel0 = fingerprints(df, idCol, textCol, spanTokens, winnowWindow)
    val sel = SkewGuard.capKeyFrequency(sel0, Seq("fp"), maxFingerprintDF,
      "maxFingerprintDF", "span",
      dropped => s"sharedSpanPairs: skew guard dropped $dropped " +
        s"(doc, fingerprint) posting(s) whose document frequency " +
        "exceeds the cap from pair generation (a fingerprint shared " +
        "by n docs expands to C(n,2) pairs)")
    // posting-list pair expansion: sorted per-fingerprint doc list, in-row
    // ordered pairs — bounded by each fingerprint's own posting size (the
    // cap above), never a corpus self-join
    sel
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col(idCol))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(ds, (x, j) ->
          |  transform(slice(ds, j + 2, size(ds)), y -> struct(x AS a, y AS b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
