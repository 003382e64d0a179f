package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeSearchSpec extends SparkSpec {
  import spark.implicits._

  private def df(vecs: Seq[(Long, Seq[Double])]) = vecs.toDF("id", "vec")

  private def pairs(out: org.apache.spark.sql.DataFrame) =
    out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq

  test("hand-checked: grid sqdist values, inclusive boundary, self " +
      "exclusion") {
    // distances from q=1 at 0.0: to 2 = (0.1e6)² = 1e10, to 3 = (0.3e6)²
    // = 9e10, to 4 = (1e6)² = 1e12
    val d = df(Seq(1L -> Seq(0.0), 2L -> Seq(0.1), 3L -> Seq(0.3),
      4L -> Seq(1.0)))
    val q = df(Seq(1L -> Seq(0.0)))
    // r2 exactly at the 9e10 pair: the boundary is INCLUSIVE
    val out = pairs(RangeSearch.exact(d, q, "id", "vec",
      r2 = 90000000000L))
    assert(out === Seq((1L, 2L, 10000000000L), (1L, 3L, 90000000000L)))
    // below the boundary by one: the 9e10 pair drops
    val tight = pairs(RangeSearch.exact(d, q, "id", "vec",
      r2 = 89999999999L))
    assert(tight === Seq((1L, 2L, 10000000000L)))
  }

  test("matches a plain-Scala replay on random vectors, multi-query") {
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 60L).map(i => i -> Seq.fill(5)(rnd.nextDouble() * 2 - 1))
    val qs = vecs.filter(_._1 <= 4)
    def quant(x: Double) = math.round(x * 1000000L)
    val r2 = 800000000000L
    val want = (for {
      (qid, qv) <- qs; (cid, cv) <- vecs if cid != qid
      d = qv.zip(cv).map { case (a, b) =>
        val x = quant(a) - quant(b); x * x }.sum
      if d <= r2
    } yield (qid, cid, d)).sortBy(p => (p._1, p._2))
    val got = pairs(RangeSearch.exact(df(vecs), df(qs), "id", "vec", r2))
    assert(got === want)
    assert(want.nonEmpty) // the fixture must actually exercise the cut
  }

  test("probed at nProbe = nLists reproduces exact row-for-row") {
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 80L).map(i => i -> Seq.fill(4)(rnd.nextDouble()))
    val qs = vecs.filter(_._1 <= 3)
    val model = IvfIndex.build(df(vecs), "id", "vec", nLists = 5)
    val r2 = 300000000000L
    val exact = pairs(RangeSearch.exact(df(vecs), df(qs), "id", "vec", r2))
    val full = pairs(RangeSearch.probed(model, df(qs), "id", "vec", r2,
      nProbe = 5))
    assert(full === exact)
    assert(exact.nonEmpty)
  }

  test("pruned probe returns a subset of exact, never a wrong distance") {
    val rnd = new scala.util.Random(13)
    val vecs = (1L to 80L).map(i => i -> Seq.fill(4)(rnd.nextDouble()))
    val qs = vecs.filter(_._1 <= 3)
    val model = IvfIndex.build(df(vecs), "id", "vec", nLists = 5)
    val r2 = 300000000000L
    val exact = pairs(RangeSearch.exact(df(vecs), df(qs), "id", "vec", r2))
      .toSet
    val pruned = pairs(RangeSearch.probed(model, df(qs), "id", "vec", r2,
      nProbe = 1))
    assert(pruned.toSet.subsetOf(exact), s"pruned invented pairs: " +
      s"${pruned.toSet -- exact}")
  }

  test("partition invariance") {
    val rnd = new scala.util.Random(17)
    val vecs = (1L to 60L).map(i => i -> Seq.fill(4)(rnd.nextDouble()))
    val qs = vecs.filter(_._1 <= 3)
    val a = pairs(RangeSearch.exact(df(vecs), df(qs), "id", "vec",
      400000000000L))
    val b = pairs(RangeSearch.exact(df(vecs).repartition(7), df(qs),
      "id", "vec", 400000000000L))
    assert(a === b)
  }

  test("empty query batch and loud ragged/null guards") {
    val vecs = df(Seq(1L -> Seq(0.0), 2L -> Seq(0.5)))
    assert(RangeSearch.exact(vecs, vecs.filter(col("id") < 0), "id",
      "vec", 1L).count() === 0)
    val ragged = df(Seq(1L -> Seq(0.0), 2L -> Seq(0.5, 0.5)))
    val e = intercept[IllegalArgumentException] {
      RangeSearch.exact(ragged, vecs, "id", "vec", 1L)
    }
    assert(e.getMessage.contains("ragged"))
    val withNull = Seq((1L, Seq(0.0)), (2L, null)).toDF("id", "vec")
    val e2 = intercept[IllegalArgumentException] {
      RangeSearch.exact(withNull, vecs.filter(col("id") === 1), "id",
        "vec", 1L)
    }
    assert(e2.getMessage.contains("NULL"))
    val e3 = intercept[IllegalArgumentException] {
      RangeSearch.exact(vecs, vecs, "id", "vec", -1L)
    }
    assert(e3.getMessage.contains("r2"))
    // EVERY vector null must raise too — a min(size)-null early return
    // would wave this frame through and the null rows would silently
    // drop from the pair results (review r13, low)
    val allNull = Seq((1L, null: Seq[Double]), (2L, null: Seq[Double]))
      .toDF("id", "vec")
    val e4 = intercept[IllegalArgumentException] {
      RangeSearch.exact(allNull, vecs, "id", "vec", 1L)
    }
    assert(e4.getMessage.contains("NULL"))
  }

  test("distributed probe selection matches the driver-side rule list " +
      "for list (pruned face, every nProbe)") {
    // the reference implementation of the nearest-list rule: replay the
    // former driver loop of IvfIndex.search in the test (Σ(c−q)² fold,
    // ties to the lower list id) and demand that every IVF face picks
    // the SAME lists at every probe width — the pruned range face (its
    // result equals exact-restricted-to-those-lists), both searches
    // (with k above the corpus size, their neighbors are exactly the
    // probed lists' rows), and assignTo (the rule's first list)
    val rnd = new scala.util.Random(23)
    val vecs = (1L to 90L).map(i => i -> Seq.fill(4)(rnd.nextDouble()))
    val qs = vecs.filter(_._1 <= 4)
    val model = IvfIndex.build(df(vecs), "id", "vec", nLists = 5)
    val r2 = 300000000000L
    val exact = pairs(RangeSearch.exact(df(vecs), df(qs), "id", "vec", r2))
    val listOf = model.assigned.select(col("neighbor_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def replay(qv: Seq[Double], nProbe: Int): Seq[Int] =
      model.centroids.map { case (lid, c) =>
        val d = c.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum
        (lid, d)
      }.sortBy(_._2).take(nProbe).map(_._1).toSeq
    def neighbors(out: org.apache.spark.sql.DataFrame) =
      out.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val assigned = IvfIndex.assignTo(model, df(vecs), "id", "vec")
      .select("neighbor_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned === vecs.map { case (id, v) => id -> replay(v, 1).head }
      .toMap)
    for (nProbe <- 1 to 5) {
      val wantLists = qs.map { case (qid, qv) =>
        qid -> replay(qv, nProbe).toSet }.toMap
      val want = exact.filter { case (qid, nid, _) =>
        wantLists(qid).contains(listOf(nid)) }
      val got = pairs(RangeSearch.probed(model, df(qs), "id", "vec", r2,
        nProbe))
      assert(got === want, s"nProbe=$nProbe")
      val wantNeighbors = (for {
        (qid, _) <- qs; (nid, _) <- vecs
        if nid != qid && wantLists(qid).contains(listOf(nid))
      } yield (qid, nid)).toSet
      assert(neighbors(IvfIndex.search(model, df(qs), "id", "vec",
        k = vecs.size, nProbe)) === wantNeighbors, s"search nProbe=$nProbe")
      assert(neighbors(IvfIndex.searchDistributed(model, df(qs), "id",
        "vec", k = vecs.size, nProbe)) === wantNeighbors,
        s"searchDistributed nProbe=$nProbe")
    }
  }

  test("probed without probe broadcast (huge-offline-batch posture) " +
      "returns the identical pair set") {
    val rnd = new scala.util.Random(29)
    val vecs = (1L to 70L).map(i => i -> Seq.fill(4)(rnd.nextDouble()))
    val qs = vecs.filter(_._1 <= 3)
    val model = IvfIndex.build(df(vecs), "id", "vec", nLists = 4)
    val r2 = 300000000000L
    val a = pairs(RangeSearch.probed(model, df(qs), "id", "vec", r2,
      nProbe = 2))
    val b = pairs(RangeSearch.probed(model, df(qs), "id", "vec", r2,
      nProbe = 2, broadcastProbes = false))
    assert(a === b)
  }

  test("plan: corpus side joins by broadcast NLJ, no shuffle exchange " +
      "on the corpus scan") {
    val rnd = new scala.util.Random(19)
    val vecs = (1L to 40L).map(i => i -> Seq.fill(3)(rnd.nextDouble()))
    val out = RangeSearch.exact(df(vecs), df(vecs.take(2)), "id", "vec",
      500000000000L)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(400))
  }
}
