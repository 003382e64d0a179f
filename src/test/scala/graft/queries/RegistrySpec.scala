package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.{SparkEntry, SparkSpec}

/** The query registry itself (not the queries): one spec list, two
  * derived views with equal key sets, and no silent duplicate names. */
class RegistrySpec extends SparkSpec {

  test("the registry holds 222 queries and both views share its key set") {
    assert(QueryRegistry.specs.size == 222)
    assert(SparkEntry.queries.size == 222)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == QueryRegistry.specs.map(_.name).toSet)
  }

  test("every family is non-empty and every oracle is non-blank") {
    QueryRegistry.families.foreach { case (family, specs) =>
      assert(specs.nonEmpty, s"family $family is empty")
    }
    val blank = QueryRegistry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("entry resolves to the flagship query's rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a spec list that repeats a name is rejected, naming it") {
    val build = (s: SparkSession, _: String) => s.range(1).select(lit(1).as("x"))
    val specs = Seq(
      QuerySpec("q_a", build, "SELECT 1 AS x"),
      QuerySpec("q_b", build, "SELECT 1 AS x"),
      QuerySpec("q_a", build, "SELECT 2 AS x"))
    val e = intercept[IllegalArgumentException](QuerySpec.byName(specs)(_.oracle))
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b"))
    assert(QuerySpec.byName(specs.take(2))(_.oracle).keySet == Set("q_a", "q_b"))
  }
}
