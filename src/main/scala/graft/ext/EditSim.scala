package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact edit-distance-1 similarity join via deletion neighborhoods
  * (FastSS, Bocek et al. 2007) — near-identical identifier/name pairs
  * (typos, off-by-one serials, OCR slips) without an O(n²) comparison.
  *
  * Candidate completeness is a theorem, not a heuristic: for
  * levenshtein(a, b) ≤ 1, the deletion neighborhoods
  * U(s) = {s} ∪ {s minus one character} of a and b intersect —
  * substitution at i makes a∖i = b∖i, insertion makes a ∈ U(b), and
  * equality shares s itself. The converse does NOT hold (e.g. "ba" and
  * "ab" share "a" but sit at distance 2), so candidates are verified
  * with an exact `levenshtein` filter — the SQL oracle is the plain
  * brute-force quadratic join, which proves the blocking lost nothing.
  *
  * Shape for 100 TB: each string of length L expands to L+1 variants
  * (in-row `transform` over a `sequence`, whole-stage codegen — no UDF),
  * the self-join shuffles BOTH sides on the variant key (posting-list
  * locality: a pair is produced only inside its shared-variant bucket),
  * and the verify filter runs pre-shuffle-out on the joined rows. Pair
  * multiplicity across shared variants is deduped on (id_a, id_b)
  * BEFORE verification so `levenshtein` runs once per candidate pair.
  * Degenerate hot variants (e.g. the empty string shared by every
  * 1-char key, or a common serial stem) are the skew risk — the opt-in
  * `maxVariantDF` cap drops over-shared variants from candidate
  * generation with the standard [[SkewGuard]] observe-audit, identical
  * contract to [[Dedup.ngramJaccardPairs]]'s shingle cap — and the same
  * honesty: a substitution pair's ONLY shared variant can be the capped
  * one, so the cap trades exact completeness for bounded buckets, and
  * the audit reports every dropped posting (uncapped, completeness is
  * the theorem above).
  *
  * Emits (id_a, id_b, dist INT), id_a < id_b, dist ∈ {0, 1}.
  */
object EditSim {

  def dist1Pairs(df: DataFrame, idCol: String, strCol: String,
      maxVariantDF: Option[Long] = None): DataFrame = {
    val s = col(strCol)
    // {s} ∪ deletions: position i removed = prefix(i) + suffix from i+2
    val variants: Column = concat(
      transform(sequence(lit(0), length(s) - 1),
        i => concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s)))),
      array(s))
    val exploded = df
      .select(col(idCol).as("id"), s.as("str"),
        explode(variants).as("variant"))
      .distinct() // a char repeated adjacently yields duplicate variants

    // an identical-string flood shares every deletion variant
    val guarded = SkewGuard.capKeyFrequency(exploded, Seq("variant"),
      maxVariantDF, "maxVariantDF", "edit_variant",
      dropped => s"dist1Pairs: skew guard dropped $dropped " +
        "(id, variant) posting(s) whose variant document frequency " +
        "exceeds the cap from candidate generation (verification " +
        "stays exact levenshtein)")

    val a = guarded.select(col("id").as("id_a"), col("str").as("str_a"),
      col("variant"))
    val b = guarded.select(col("id").as("id_b"), col("str").as("str_b"),
      col("variant"))
    a.join(b, Seq("variant"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("str_a"), col("str_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("str_a"), col("str_b")))
      .where(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
