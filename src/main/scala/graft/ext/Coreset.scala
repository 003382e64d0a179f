package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection — the diverse-subset primitive a
  * curation pipeline runs to pick REPRESENTATIVE exemplars (seed sets
  * for active learning, eval panels, dedup anchors): start from the
  * lowest id, repeatedly add the point FARTHEST from every chosen
  * center (the classic 2-approximation to the k-center objective,
  * Gonzalez 1985), emitting each pick's max-min radius — the coverage
  * guarantee drops monotonically and the final radius bounds every
  * remaining point's distance to its nearest exemplar.
  *
  * Deterministic and integer-exact on the shared 10⁻⁶ grid: distances
  * are exact BIGINT Σ(q−q')², the farthest-point argmax ties to the
  * LOWEST id, so selection order and radii replay in SQL
  * (q_coreset — unrolled rounds, the k-means oracle discipline). If k
  * exceeds the number of distinct points the tail picks are
  * zero-radius duplicates in id order — still deterministic.
  *
  * Scale shape: the component frame materializes once; per round ONE
  * broadcast join against the newly chosen center's D components +
  * one partial-aggregated distance sum folded into the running
  * min-distance frame (localCheckpoint — it feeds every later round),
  * and one TakeOrdered(1) argmax. Driver state is the k chosen ids —
  * the bounded-collect budget. Total work k corpus passes; k is the
  * coreset size, inherently small.
  */
object Coreset {

  /** (vec_id, rk, radius): the selection order and each pick's
    * max-min distance at the moment it was chosen (rk 0 = the seed,
    * radius 0 by convention). */
  def kCenter(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = vecs.sparkSession
    import spark.implicits._
    // r19 shape (guide §2.4 — remove shuffles outright): the running
    // min-distance frame CARRIES each point's quantized component
    // array, so every round is ONE narrow projection — the new
    // center's D components come back with the argmax row itself and
    // the distance unrolls in-row against them as literals. The former
    // shape paid, per round, a full comp scan to extract the center's
    // components, a broadcast build, a pos-join + per-vid aggregate
    // exchange, and a vid-join back into dmin. Same exact BIGINT
    // Σ(q−q')² on the shared 10⁻⁶ grid, same lowest-id ties — picks
    // and radii are bit-identical (oracle-re-proven).
    val (rows, dim) = PqIndex.vectorShape(vecs, vecCol, "Coreset")
    require(rows > 0, "Coreset needs a non-empty vector frame")
    // (vid, qs): the 10⁻⁶-grid quantization, one array per point; the
    // parallelism floor keeps the per-round arithmetic off a single
    // under-split scan task (no-op at production row-group counts)
    val base = graft.model.Parallelism.floor(
      vecs.select(col(idCol).cast("long").as("vid"),
        transform(col(vecCol),
          x => round(x.cast("double") * lit(1000000L)).cast("long"))
          .as("qs")))
    def sqDistTo(center: Seq[Long]): org.apache.spark.sql.Column =
      (1 to dim).map { i =>
        val diff = element_at(col("qs"), i) - lit(center(i - 1))
        diff * diff
      }.reduce(_ + _)
    // seed = lowest id; its components ride the same TakeOrdered row
    val seedRow = base.orderBy(col("vid")).limit(1).head()
    val seed = seedRow.getLong(0)
    val seedQs = seedRow.getSeq[Long](1)
    // LAZY checkpoints: each round's argmax TakeOrdered scans every
    // partition, so it materializes the round's blocks and reads them
    // in one job (the starEdges discipline)
    var dmin = base
      .select(col("vid"), col("qs"), sqDistTo(seedQs).as("dmin"))
      .localCheckpoint(false)
    val picks = scala.collection.mutable.ArrayBuffer((seed, 0, 0L))
    (1 until k).foreach { r =>
      val far = dmin.orderBy(col("dmin").desc, col("vid")).limit(1)
        .head()
      picks += ((far.getLong(0), r, far.getLong(2)))
      if (r < k - 1)
        dmin = dmin
          .select(col("vid"), col("qs"),
            least(col("dmin"), sqDistTo(far.getSeq[Long](1))).as("dmin"))
          .localCheckpoint(false)
    }
    picks.toSeq.toDF(idCol, "rk", "radius")
  }

  /** Assign every point to its nearest chosen exemplar — the coverage
    * map that makes a coreset actionable (strata for sampling, routing
    * keys, per-exemplar quotas): (vec_id, exemplar_id, sqdist), ties
    * to the lowest exemplar id. Rides [[PqIndex.pivotArgmin]] (r19):
    * the k exemplars' D components pivot to one row per pos (a k·D-row
    * bounded collect — the rows the former broadcast build scanned
    * anyway, and the collect doubles as the loud empty-coverage check),
    * all k distance sums run in one hash aggregate, and the argmin is
    * in-row — one exchange of N rows instead of N·k plus a second min
    * pass. Same exact BIGINT sums, same lowest-exemplar-id ties. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
      exemplarIds: Seq[Long]): DataFrame = {
    require(exemplarIds.nonEmpty, "at least one exemplar id")
    val comp = PqIndex.comps(vecs, idCol, vecCol, m = 1)
      .select(col("vid"), col("pos"), col("q"))
    val cents = comp
      .filter(col("vid").isin(exemplarIds.map(Long.box): _*))
      .select(col("vid").as("cid"), col("pos"), col("q").as("cq"))
    PqIndex.pivotArgmin(comp, cents, Seq("vid"),
        // a silently empty coverage map (no exemplar id present in the
        // frame) would read as "nothing to assign" — raise instead
        emptyMsg = "none of the exemplar ids exist in the vector frame")
      .select(col("vid").as(idCol), col("cid").as("exemplar_id"),
        col("d").as("sqdist"))
  }
}
