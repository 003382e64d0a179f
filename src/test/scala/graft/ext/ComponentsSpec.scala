package graft.ext

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("labels chains, cliques, and isolated pairs by their min member") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("doc_a", "doc_b")
    val out = Components.connected(edges, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long path converges (diameter rounds) and respects maxIter") {
    // path 0-1-2-...-9: diameter 9, min label must reach the far end
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Components.connected(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(0L))
    // an insufficient round budget fails LOUDLY by default (unconverged
    // labels are silently-wrong clusters) and terminates either way
    intercept[IllegalStateException] {
      Components.connected(edges, "a", "b", maxIter = 2)
    }
    val bestEffort = Components.connected(edges, "a", "b", maxIter = 2,
      strict = false)
    assert(bestEffort.count() == 10)
  }

  test("self-loops and duplicate edges are harmless") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("a", "b")
    val out = Components.connected(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L))
  }

  test("property: equals brute-force union-find on random graphs") {
    // reference implementation: path-compressed union-find on the driver
    def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      // min-label canonicalization: root chosen by union order is already
      // the min because we always parent the larger root under the smaller
      nodes.map(n => n -> find(n)).toMap
    }
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 30 + trial * 10
      val es = Seq.fill(n) {
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)
      }.filter(e => e._1 != e._2)
      val expected = unionFind(es)
      val got = Components.connected(es.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: $got != $expected")
      // the star-contraction variant must agree on the same graphs
      val star = Components.connectedStar(es.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(star == expected, s"trial $trial (star): $star != $expected")
      // adaptive at its default budget, and at one min-label round so
      // the contraction, pointer doubling and star fallback all run
      Seq(8, 1).foreach { rounds =>
        val adaptive = Components.connectedAdaptive(es.toDF("a", "b"), "a",
          "b", minLabelRounds = rounds).as[(Long, Long)].collect().toMap
        assert(adaptive == expected,
          s"trial $trial (adaptive, $rounds rounds): $adaptive != $expected")
      }
    }
  }

  test("connectedStar labels chains, cliques, isolated pairs, self-loops") {
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L), (30L, 30L) // self-loop-only node: own component
    ).toDF("doc_a", "doc_b")
    val out = Components.connectedStar(edges, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L))
  }

  test("high-diameter chain: min-label needs Θ(N) rounds, star needs O(log N)") {
    // path 0-1-2-...-64: diameter 64. Min-label propagation moves the
    // label one hop per round — a 10-round budget fails loudly...
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Components.connected(chain, "a", "b", maxIter = 10)
    }
    // ...while star contraction collapses the same chain within the
    // same 10-round budget (halves the chain per L/S round)
    val star = Components.connectedStar(chain, "a", "b", maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(star.size == 65 && star.values.toSet == Set(0L))
  }

  test("connectedAdaptive: min-label when shallow, star fallback when deep") {
    // shallow: converges inside the min-label budget, same labels
    val shallow = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val viaAdaptive = Components.connectedAdaptive(shallow, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(viaAdaptive == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L))
    // deep: a 64-hop chain blows a 3-round min-label budget; the star
    // fallback must still produce final labels instead of throwing
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val deep = Components.connectedAdaptive(chain, "a", "b",
      minLabelRounds = 3).as[(Long, Long)].collect().toMap
    assert(deep.size == 65 && deep.values.toSet == Set(0L))
  }

  test("connectedStar: empty edge set and strict maxIter behavior") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedStar(empty, "a", "b").count() == 0L)
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Components.connectedStar(chain, "a", "b", maxIter = 1)
    }
    // best-effort mode reports the partially contracted state
    assert(Components.connectedStar(chain, "a", "b", maxIter = 1,
      strict = false).count() == 33L)
  }

  test("connectedStar strict=false keeps ONE label per node when unconverged") {
    // after one L/S round node 4 still has two remaining parents (2 and
    // 3); the unconverged readout must not emit a row per parent
    val edges = Seq((2L, 5L), (4L, 5L), (4L, 6L), (3L, 6L)).toDF("a", "b")
    val out = Components.connectedStar(edges, "a", "b", maxIter = 1,
      strict = false).as[(Long, Long)].collect()
    assert(out.length == 5, s"expected 5 rows (one per node), got ${out.toSeq}")
    assert(out.map(_._1).distinct.length == 5)
  }
}
