package graft.ext

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The audit is the point of a skew guard ("no silent caps"): the
  * `skew_guard_*` metric an action observes must count exactly the
  * postings the cap removed. Each expectation is recomputed here in
  * plain Scala from the fixture, independent of the operator. Each
  * fixture keeps one legitimate pair: a capped result that is EMPTY
  * lets AQE replace the whole plan by an empty relation, and the
  * metric is never observed. */
class SkewGuardSpec extends SparkSpec {
  import spark.implicits._

  /** Run `action` and return the `n_dropped` of every observed metric
    * whose name starts with `skew_guard_<name>_`. */
  private def observedDrops(name: String)(action: => Unit): Seq[Long] = {
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.foreach { case (m, row) =>
          seen.add(m -> row.getAs[Long]("n_dropped"))
        }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      // the listener bus delivers asynchronously
      eventually(timeout(10.seconds)) {
        assert(seen.asScala.exists(_._1.startsWith(s"skew_guard_${name}_")))
      }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.collect {
      case (m, n) if m.startsWith(s"skew_guard_${name}_") => n
    }.toSeq
  }

  test("document-frequency cap: audit equals the dropped postings") {
    val rows = (1L to 12L).map(_ -> "flooded") ++
      Seq(20L -> "serial-100", 21L -> "serial-101", 22L -> "other")
    val cap = 3L
    // EditSim postings: distinct (id, variant), variant ∈ deletions ∪ {s}
    val postings = rows.flatMap { case (id, s) =>
      (s.indices.map(i => s.patch(i, "", 1)) :+ s).distinct.map(id -> _)
    }
    val df = postings.groupBy(_._2).map { case (v, ps) => v -> ps.size }
    val expected = postings.count(p => df(p._2) > cap).toLong
    assert(expected === 12L * "flooded".length) // the flood, nothing else
    val drops = observedDrops("edit_variant") {
      val out = EditSim.dist1Pairs(rows.toDF("id", "s"), "id", "s",
        Some(cap)).collect()
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((20L, 21L)))
    }
    assert(drops === Seq(expected))
  }

  test("listed-key cap: audit equals the dropped postings") {
    val rnd = new scala.util.Random(7)
    val fps = (1L to 12L).map(_ -> 0x123456789abcdefL) ++
      (13L to 40L).map(_ -> (rnd.nextLong() & Long.MaxValue)) ++
      Seq(41L -> 0x0fedcba98765432L, 42L -> 0x0fedcba98765433L)
    val minEst = 5L
    // hammingPairs63 postings: one (id, b, 16-bit chunk) per band b
    val postings = fps.flatMap { case (id, fp) =>
      (0 until 4).map(b => (id, b, (fp >>> (b * 16)) & 65535L))
    }
    val df = postings.groupBy(p => (p._2, p._3)).map { case (k, ps) =>
      k -> ps.size }
    // Count-Min over-estimates only: at w = 65536 and ~120 keys no
    // innocent key reaches the floor, so the hot list is the true one
    val expected = postings.count(p => df((p._2, p._3)) >= minEst).toLong
    assert(expected === 12L * 4)
    val drops = observedDrops("simhash_chunk_sketch") {
      val out = Dedup.hammingPairs63(fps.toDF("id", "fp"), "id", "fp",
        chunkHotMinEst = Some(minEst)).collect()
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((41L, 42L)))
    }
    assert(drops === Seq(expected))
  }
}
