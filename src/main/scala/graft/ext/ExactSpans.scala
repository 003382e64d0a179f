package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact repeated-substring discovery — every maximal shared token span
  * of length ≥ `minTokens` between two documents, with exact
  * boundaries: the TWO-SIDED guarantee [[SpanDedup]]'s winnowing
  * deliberately trades away (MOSS selection is one-sided — every
  * sufficiently long overlap is *detected*, but not all of it is
  * *reported*). This is the operator behind the "deduplicating training
  * data makes language models better" line of work (suffix-array span
  * removal): its output is the byte-precise cut list.
  *
  * Algorithm (the distributed equivalent of suffix-array/LCP span
  * discovery, as sorted k-gram tables): every length-`minTokens` token
  * window keys a join; a shared span of length S ≥ minTokens between
  * two docs contains exactly S − minTokens + 1 shared windows at ONE
  * diagonal (pos_a − pos_b), all consecutive — so grouping matches by
  * (doc_a, doc_b, diagonal) and splitting consecutive-position islands
  * (gaps-and-islands: pos − row_number) reconstructs every maximal
  * span exactly once, with exact start offsets and length. COMPLETE by
  * the pigeonhole in reverse: any ≥ minTokens overlap contains at
  * least one shared window, and maximality follows because an island
  * extends while windows keep matching (spec: every planted overlap
  * found with exact boundaries, none invented).
  *
  * Scale shape: one shuffle keys the window join (windows ride as md5
  * digests — fixed 16-byte keys instead of L-token strings; md5
  * equality is the repo's engine-shared exactness coin, minhash band
  * precedent), one shuffle partitions (doc_a, doc_b, diag) for the
  * island window, one aggregate emits spans. Nothing is quadratic in
  * the corpus — only in genuinely duplicated text, which is exactly
  * the quantity being measured; `maxGramDF` (opt-in, audited via
  * [[SkewGuard]]) caps ubiquitous-window floods (boilerplate headers)
  * the way every pair generator in this repo does.
  */
object ExactSpans {

  /** All maximal cross-document repeated spans of ≥ `minTokens` tokens:
    * (doc_a, doc_b, start_a, start_b, len_tokens) with doc_a < doc_b
    * and 0-based token offsets into [[TextAnalysis.words]]' view of
    * each document. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int, maxGramDF: Option[Long] = None): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2: $minTokens")
    // parallelism floor below the tokenizer (Parallelism doc): the
    // per-position window md5 is the densest per-row work in this
    // operator and otherwise serializes into a single-task scan stage
    val toks = graft.model.Parallelism
      .floor(df.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), TextAnalysis.words(col(textCol)).as("ws"))
    // one row per window start: pos = 0-based offset, g = md5 of the
    // space-joined window (the docs-shorter-than-minTokens filter also
    // keeps sequence() from producing a DESCENDING range).
    // Materialized ONCE: both sides of the pair self-join below (and
    // the df-cap's count+join pass) read these blocks — AQE does not
    // reuse identical sibling stages, so without the checkpoint the
    // window-md5 explode evaluated twice (measured ~2 s of task time
    // over 5 single-task stages at sf0.1; OPTIMIZATION_r18.md)
    val grams0 = toks.filter(size(col("ws")) >= minTokens)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $minTokens), " +
          s"i -> md5(array_join(slice(ws, i + 1, $minTokens), ' ')))")))
      .toDF("doc_id", "pos", "g")
      .localCheckpoint()
    val grams = SkewGuard.capKeyFrequency(grams0, Seq("g"), maxGramDF,
      "maxGramDF", "exact_span_gram",
      dropped => s"repeatedSpans: skew guard dropped $dropped " +
        "window posting(s) whose document frequency exceeds the cap " +
        "(boilerplate floods; spans crossing only capped windows " +
        "are truncated or lost — the audited trade)")
    val a = grams.select(col("doc_id").as("doc_a"),
      col("pos").as("pos_a"), col("g"))
    val b = grams.select(col("doc_id").as("doc_b"),
      col("pos").as("pos_b"), col("g"))
    val m = a.join(b, Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    // gaps-and-islands on pos_a within one diagonal: consecutive
    // matching windows share (pos_a − row_number)
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    m.withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).cast("long").as("start_a"),
        min(col("pos_b")).cast("long").as("start_b"),
        (count(lit(1)) + lit(minTokens - 1)).cast("long").as("len_tokens"))
      .select(col("doc_a"), col("doc_b"), col("start_a"),
        col("start_b"), col("len_tokens"))
  }

  /** The per-document CUT LIST a span-removal pass consumes: for every
    * document, the union of its repeated-span token ranges (both sides
    * of each pair), merged into maximal disjoint intervals — feed to a
    * slicing rewrite to excise duplicated text. (start, end) are
    * 0-based, end exclusive. */
  def cutList(spans: DataFrame): DataFrame = {
    val sides = spans.select(col("doc_a").as("doc_id"),
        col("start_a").as("s"), (col("start_a") + col("len_tokens")).as("e"))
      .unionByName(spans.select(col("doc_b").as("doc_id"),
        col("start_b").as("s"), (col("start_b") + col("len_tokens")).as("e")))
    // interval merge: an interval starts a new island when it begins
    // past the running max end of everything before it
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("s"), col("e"))
    val runMax: Column = max(col("e")).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    sides
      .withColumn("newIsl",
        when(runMax.isNull || col("s") > runMax, 1L).otherwise(0L))
      .withColumn("isl", sum(col("newIsl")).over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).cast("long").as("start"),
        max(col("e")).cast("long").as("end"))
      .select(col("doc_id"), col("start"), col("end"))
  }
}
