package graft.ext

import graft.SparkSpec
import scala.util.Random

/** The two-sided guarantee: EVERY maximal shared token span of length
  * ≥ L is reported, with exact boundaries, exactly once — verified
  * against an independent brute-force longest-common-extension
  * reference on randomized corpora, plus hand-planted overlaps. */
class ExactSpansSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: for each doc pair and each start pair
    * (i, j), extend while tokens match; keep maximal runs ≥ L (cannot
    * extend left). O(n³) per pair — fine for tiny fixtures, and a
    * genuinely different computation than the operator's
    * gram-join/diagonal-islands shape. */
  private def bruteSpans(docs: Seq[(Long, String)],
      L: Int): Set[(Long, Long, Long, Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toVector }.toMap
    (for {
      (ia, ib) <- toks.keys.toSeq.combinations(2).map(s =>
        (s.min, s.max)).toSeq
      wa = toks(ia); wb = toks(ib)
      i <- wa.indices; j <- wb.indices
      if wa(i) == wb(j)
      if i == 0 || j == 0 || wa(i - 1) != wb(j - 1) // left-maximal
    } yield {
      var k = 0
      while (i + k < wa.length && j + k < wb.length &&
        wa(i + k) == wb(j + k)) k += 1
      (ia, ib, i.toLong, j.toLong, k.toLong)
    }).filter(_._5 >= L).toSet
  }

  private def run(docs: Seq[(Long, String)],
      L: Int): Set[(Long, Long, Long, Long, Long)] =
    ExactSpans.repeatedSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", minTokens = L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("planted overlap reported with exact boundaries, exactly once") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"intro words here $shared tail one"),
      (2L, s"$shared different ending entirely"),
      (3L, "nothing in common with anything at all"))
    val out = run(docs, L = 4)
    // doc1 tokens: intro(0) words(1) here(2) alpha(3).. zeta(8);
    // doc2: alpha(0).. zeta(5)
    assert(out == Set((1L, 2L, 3L, 0L, 6L)))
  }

  test("two overlaps at different diagonals are separate maximal spans") {
    val a = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, a),
      // prefix of a (5 tokens), junk, then a 4-token interior run
      (2L, "one two three four five junk1 junk2 four five six seven"))
    val out = run(docs, L = 3)
    assert(out == bruteSpans(docs, 3))
    assert(out.contains((1L, 2L, 0L, 0L, 5L)))
    assert(out.contains((1L, 2L, 3L, 7L, 4L)))
  }

  test("completeness on randomized small-vocab corpora: operator ≡ " +
      "brute-force LCE reference") {
    val rnd = new Random(71)
    val vocab = Vector("a", "b", "c", "d")
    (1 to 5).foreach { trial =>
      val docs = (1L to 6L).map { id =>
        id -> Vector.fill(14)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val L = 3
      assert(run(docs, L) == bruteSpans(docs, L),
        s"trial $trial diverged from the reference")
    }
  }

  test("repeats WITHIN one doc pair (a window matching twice) land on " +
      "their own diagonals, never merged") {
    val docs = Seq(
      (1L, "x y z p q r"),
      (2L, "x y z other x y z"))
    val out = run(docs, L = 3)
    assert(out == bruteSpans(docs, 3))
    assert(out == Set((1L, 2L, 0L, 0L, 3L), (1L, 2L, 0L, 4L, 3L)))
  }

  test("cutList merges both sides' ranges into disjoint intervals") {
    val spans = Seq(
      (1L, 2L, 0L, 0L, 5L), // doc1 [0,5), doc2 [0,5)
      (1L, 3L, 3L, 2L, 4L), // doc1 [3,7) overlaps → merge to [0,7)
      (1L, 4L, 9L, 0L, 3L)) // doc1 [9,12) separate
      .toDF("doc_a", "doc_b", "start_a", "start_b", "len_tokens")
    val cuts = ExactSpans.cutList(spans)
      .as[(Long, Long, Long)].collect().toSet
    assert(cuts == Set((1L, 0L, 7L), (1L, 9L, 12L),
      (2L, 0L, 5L), (3L, 2L, 6L), (4L, 0L, 3L)))
  }

  test("gram-DF cap drops a boilerplate flood and keeps the legitimate " +
      "span") {
    // 20 byte-identical documents: every window has df 20; the planted
    // pair's windows have df 2
    val flood = (1L to 20L).map(_ -> "cookie banner accept all terms now")
    val docs = flood ++ Seq(
      (100L, "intro alpha beta gamma delta epsilon end"),
      (101L, "alpha beta gamma delta epsilon other words"))
    val legit = (100L, 101L, 1L, 0L, 5L)
    def capped(cap: Option[Long]) =
      ExactSpans.repeatedSpans(docs.toDF("doc_id", "text"), "doc_id",
        "text", minTokens = 4, maxGramDF = cap)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val un = capped(None)
    assert(un.contains(legit))
    assert(un.contains((1L, 2L, 0L, 0L, 6L)))
    assert(un.count(_._2 <= 20L) === 20 * 19 / 2) // every flood pair
    assert(capped(Some(2L)) === Set(legit))
  }

  test("docs shorter than minTokens never key a window (and sequence() " +
      "cannot run descending)") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d e"))
    assert(run(docs, L = 3).isEmpty)
    val withHit = docs :+ (4L, "c d e tail tail2")
    assert(run(withHit, 3) == Set((3L, 4L, 2L, 0L, 3L)))
  }
}
