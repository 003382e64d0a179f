package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EditSimSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(rows: Seq[(Long, String)],
      cap: Option[Long] = None): Set[(Long, Long, Int)] =
    EditSim.dist1Pairs(rows.toDF("id", "s"), "id", "s", cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("finds substitution, insertion, deletion, and equality pairs") {
    val rows = Seq(1L -> "serial-100", 2L -> "serial-101", // substitution
      3L -> "serial-1001", // one insertion away from BOTH 1 and 2
      4L -> "serial-100") // equal to 1
    assert(pairs(rows) === Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 0),
      (2L, 3L, 1), (2L, 4L, 1), (3L, 4L, 1)))
  }

  test("distance-2 candidates sharing a variant are verified away") {
    // "ba" and "ab" share deletion variant "a" but sit at distance 2
    assert(pairs(Seq(1L -> "ba", 2L -> "ab")) === Set.empty)
  }

  test("matches the brute-force quadratic join exactly") {
    val rows = (0L until 60L).map(i => i -> f"Key#${i % 20}%03d-${i / 20}")
    val df = rows.toDF("id", "s")
    val brute = df.as("a").join(df.as("b"), $"a.id" < $"b.id")
      .where(levenshtein($"a.s", $"b.s") <= 1)
      .select($"a.id", $"b.id", levenshtein($"a.s", $"b.s").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(rows) === brute)
    assert(brute.nonEmpty) // the fixture actually exercises matches
  }

  test("adjacent repeated characters do not duplicate pairs") {
    // "aab" deletions: "ab" (twice), "aa" — dedup keeps one posting
    val out = EditSim.dist1Pairs(
      Seq(1L -> "aab", 2L -> "ab").toDF("id", "s"), "id", "s")
    assert(out.count() === 1)
  }

  test("variant-DF cap bounds hot buckets and is honest about loss") {
    // 30 ids share the stem "s0"… each pair at distance ≤1 through a
    // very hot shared variant; cap 2 drops the hot routes
    val rows = (1L to 9L).map(i => i -> s"x$i") // "x1".."x9": all subst pairs
    val un = pairs(rows)
    val capped = pairs(rows, cap = Some(2L))
    assert(un.size === 36) // C(9,2) all at distance 1 via shared variant "x"
    assert(capped.subsetOf(un) && capped.size < un.size)
  }

  test("variant-DF cap drops an identical-string flood and keeps the " +
      "legitimate pair") {
    // 30 copies of one string share every deletion variant (df 30);
    // "apple"/"apples" meet only on variant "apple" (df 2)
    val flood = (1L to 30L).map(_ -> "boilerplate")
    val rows = flood ++ Seq(100L -> "apple", 101L -> "apples")
    val legit = (100L, 101L, 1)
    val un = pairs(rows)
    assert(un.contains(legit))
    assert(un.count(_._1 <= 30L) === 30 * 29 / 2) // every flood pair
    assert(pairs(rows, cap = Some(2L)) === Set(legit))
  }
}
