package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (radius) search over an embedding column: every (query,
  * neighbor) pair whose squared distance on the shared 10⁻⁶ grid is
  * ≤ `r2` — the FAISS `range_search` face of the ANN family, and the
  * primitive a dedup pipeline uses when the contract is "drop anything
  * within distance r of a probe", not "the k nearest" (top-k silently
  * truncates dense regions and pads sparse ones; a radius keeps the
  * guarantee symmetric).
  *
  * Integer-exact and engine-replayable: components quantize to the
  * engine-wide 10⁻⁶ grid (BIGINT, the [[PqIndex.comps]] convention) and
  * sqdist = Σ(q−q')² expands to qq − 2·qc + cc over three
  * [[Similarity.dot]] decimal folds. Every term is an integer: grid
  * values ≤ 10⁶ in magnitude, element products ≤ 10¹², and for
  * d ≤ 10³-dim vectors each fold ≤ 4·10¹⁵ < 2⁵³ — the doubles carrying
  * them are exact, so the BIGINT cast and the ≤ r2 cut replay
  * bit-for-bit in SQL (q_ann_radius).
  *
  * Scale shape ([[exact]]): the query batch is SMALL and broadcasts with
  * its grid vectors and pre-folded norms; the corpus is scanned ONCE
  * through a BroadcastNestedLoopJoin with all three dot products inside
  * whole-stage codegen, and no window, no shuffle, no per-component row
  * blowup (the [[Coreset.assign]] posexplode shape would multiply the
  * pair frame by the dimension). [[probed]] is the disk/100 TB path:
  * the same cut over only the `nProbe` IVF lists nearest each query —
  * probing rides [[IvfIndex]]'s static list pruning, so a persisted
  * index reads exactly the probed partitions.
  */
object RangeSearch {

  /** Quantize a float/double vector onto the 10⁻⁶ grid, kept as
    * array<double> (exact for |q| < 2⁵³) so [[Similarity.dot]] applies. */
  private def grid(v: Column): Column =
    transform(v, x =>
      round(x.cast("double") * lit(1000000.0)).cast("double"))

  /** All (query_id, neighbor_id, sqdist) with sqdist ≤ r2 on the 10⁻⁶
    * grid, self-pairs excluded, sqdist exact BIGINT. One corpus pass;
    * `queries` must be a small probe batch (it broadcasts). */
  def exact(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, r2: Long): DataFrame = {
    require(r2 >= 0L, s"r2 must be >= 0: $r2")
    // ragged or null vectors would silently null out distances and
    // drop pairs; an empty side just yields no pairs
    PqIndex.vectorShape(corpus, vecCol, "RangeSearch corpus")
    PqIndex.vectorShape(queries, vecCol, "RangeSearch query")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        grid(col(vecCol)).as("gq"))
      .withColumn("qq", Similarity.dot(col("gq"), col("gq")))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        grid(col(vecCol)).as("gc"))
      .withColumn("cc", Similarity.dot(col("gc"), col("gc")))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sqdist",
        (col("qq") - lit(2.0) * Similarity.dot(col("gq"), col("gc")) +
          col("cc")).cast("long"))
      .filter(col("sqdist") <= r2)
      .select(col("query_id"), col("neighbor_id"), col("sqdist"))
  }

  /** [[exact]] restricted to the `nProbe` IVF lists nearest each query —
    * the persisted/100 TB serve: an on-disk [[IvfIndex]] layout prunes to
    * exactly the probed `list_id=` partitions (static isin, the
    * [[IvfIndex.search]] contract). Approximate for nProbe < nLists
    * (recall = the probed lists' share of true neighbors, spec-bounded
    * as a subset of [[exact]]); nProbe ≥ nLists reproduces [[exact]]
    * row-for-row — the exhaustive-probe identity the driver row gates.
    *
    * Probe selection is DISTRIBUTED — each query row explodes the
    * first `nProbe` lists of [[IvfIndex.IvfModel.nearestLists]], the
    * rule every IVF face applies, in-row: an offline batch of any size
    * works, nothing query-sized ever reaches the driver. The only
    * collect is the DISTINCT probed-list set (≤ nLists ints — the
    * bounded payload static partition pruning needs). With
    * `broadcastProbes` (default) the (queries × nProbe)-row probe frame
    * broadcasts into the corpus join — pass false for huge offline
    * batches; both sides then shuffle on `list_id`. */
  def probed(model: IvfIndex.IvfModel, queries: DataFrame,
      idCol: String, vecCol: String, r2: Long, nProbe: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    require(r2 >= 0L, s"r2 must be >= 0: $r2")
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    PqIndex.vectorShape(queries, vecCol, "RangeSearch query")
    // a narrow projection of the query batch: the distinct-list collect
    // and the join each recompute it rather than pay a checkpoint job
    val probes0 = queries.select(col(idCol).cast("long").as("query_id"),
        explode(model.nearestLists(col(vecCol), nProbe)).as("list_id"),
        grid(col(vecCol)).as("gq"))
      .withColumn("qq", Similarity.dot(col("gq"), col("gq")))
    val probes = if (broadcastProbes) broadcast(probes0) else probes0
    val probedLists = probes0.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    model.assigned
      .filter(col("list_id").isin(probedLists.map(Int.box): _*))
      .select(col("neighbor_id"), grid(col("cv")).as("gc"), col("list_id"))
      .withColumn("cc", Similarity.dot(col("gc"), col("gc")))
      .join(probes, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sqdist",
        (col("qq") - lit(2.0) * Similarity.dot(col("gq"), col("gc")) +
          col("cc")).cast("long"))
      .filter(col("sqdist") <= r2)
      .select(col("query_id"), col("neighbor_id"), col("sqdist"))
  }
}
