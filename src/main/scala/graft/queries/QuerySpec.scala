package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark build over a testdata dir and the
  * DuckDB-equivalent ANSI SQL the driver hash-compares it against at
  * sf0.01. Every build re-expresses an operator from SURVEY.md §2
  * Spark-first over the driver testdata.
  *
  * Numeric-parity conventions (so Spark and DuckDB hash identically):
  * sums of doubles go through `decimal(18,2..4)` (exact, order-independent)
  * and are cast back to double; percentiles use Spark's exact `percentile`
  * (= DuckDB `quantile_cont`) rounded to 4 dp; every computed column is
  * aliased identically on both sides; LIMIT/row_number always carry a
  * unique total order.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {

  /** `f` of every spec keyed by its name. A name listed twice is an
    * `IllegalArgumentException` naming it — a `Map(...)` literal would
    * keep the last entry silently. */
  def byName[V](specs: Seq[QuerySpec])(f: QuerySpec => V): Map[String, V] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> f(q)).toMap
  }
}

/** The one query registry: every family file's specs, in family order. */
object QueryRegistry {

  val families: Seq[(String, Seq[QuerySpec])] = Seq(
    "relational" -> RelationalQueries.specs,
    "text" -> TextQueries.specs,
    "dedup" -> DedupQueries.specs,
    "graph" -> GraphQueries.specs,
    "vector" -> VectorQueries.specs,
    "media" -> MediaQueries.specs,
    "curation" -> CurationQueries.specs,
    "sketch" -> SketchQueries.specs)

  val specs: Seq[QuerySpec] = families.flatMap(_._2)
}
