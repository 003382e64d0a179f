package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Query building blocks shared by more than one family file. */
package object queries {

  /** Exact order-independent sum of a double column (see [[QuerySpec]]). */
  private[queries] def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Shared ext/ configuration (markers kept tiny and explicit so the SQL
    * oracles can inline them verbatim). */
  private[queries] object ExtConfig {
    val stopwords = Seq("the", "a", "of", "and", "to")
    val langMarkers: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das", "und"),
      "en" -> Seq("the", "a", "of", "and"),
      "es" -> Seq("el", "los", "que"),
      "fr" -> Seq("le", "les", "une"),
      "zh" -> Seq("de", "shi", "le")
    )
  }

  /** Transitive-closure CTE block (expects a `pairs(doc_a, doc_b)` CTE in
    * scope; yields `comp(node, cluster_id)`) — shared by q_dedup_clusters
    * and q_dedup_keep. Interpolating callers must open WITH RECURSIVE. */
  private[queries] val closureOracle: String =
    """sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM sym
                         UNION
                         SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
                         WHERE s.b <> r.a),
         comp AS (SELECT a AS node, least(a, min(b)) AS cluster_id
                  FROM reach GROUP BY a)"""

  /** Quality-score building blocks (the integer-exact formula of
    * TextAnalysis.qualityScore) — shared by q_quality_score and
    * q_dedup_keep. `qualityTCte` yields `t(doc_id, w, c, p, m)`;
    * `qualityFormulaSql` is the half-up-rounded score over those. */
  private[queries] val qualityTCte: String =
    """t AS (SELECT doc_id,
                CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS w,
                CAST(strlen(text) AS BIGINT) AS c,
                CAST(strlen(text) - strlen(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS p,
                CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS m
              FROM documents)"""

  private[queries] val qualityFormulaSql: String =
    """CAST(floor((2*(4*least(w,50)*c*w + 150*(c-p)*w + 150*m*c)*10000
                            + 500*c*w)
                           / (2*500*c*w)) AS DOUBLE) / 10000"""

  /** Sign bucket of an embedding as DuckDB SQL: bit i-1 set iff
    * `embedding[i] > 0` over the first `bits` dims (the arithmetic of
    * `Similarity.signBucket`). Continuation lines carry the indent the
    * oracles inline it at. */
  private[queries] def signBucketSql(bits: Int): String =
    (1 to bits).map(i => s"(CASE WHEN embedding[$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END)")
      .mkString("\n           + ")
}
