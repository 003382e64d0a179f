package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact distributed Lloyd k-means over an embedding column —
  * the clustering primitive a curation pipeline runs ahead of
  * cluster-balanced sampling, per-cluster quality thresholds, or
  * SemDeDup-style per-cluster dedup (Abbas et al. 2023 cluster first,
  * then dedup WITHIN clusters; [[SemDedup]] currently groups by cosine
  * components — this supplies the k-means flavor).
  *
  * Every quantity is exact BIGINT arithmetic on a 10⁻⁶-quantized grid,
  * so the result is bit-reproducible across engines and partitionings —
  * a float Lloyd's (e.g. MLlib's) is neither (sum order varies per
  * shuffle) and cannot be oracle-checked. Contract: q = round(x·10⁶)
  * half-away-from-zero, exact Σ(q−cq)² distances, half-up integer
  * centroid means, init = the k lowest-id vectors, assignment ties to
  * the lowest cluster id, a cluster that loses every member vanishes
  * (k shrinks). `rounds` = number of ASSIGNMENT passes (centroids
  * update between passes, not after the last) — fixed rounds keep the
  * operator oracle-expressible (unrolled CTEs). This is PQ training
  * with one subspace: the loop is [[PqIndex.codebooksFromComps]] and
  * the final pass [[PqIndex.pivotArgmin]]. Raises on an empty frame
  * and on NULL or ragged vectors.
  *
  * Emits (vec_id BIGINT, cluster_id INT, sqdist BIGINT): the final
  * assignment with its exact quantized squared distance.
  */
object KMeans {

  def assignments(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int): DataFrame = {
    val comp = PqIndex.partitionedComps(vecs, idCol, vecCol, m = 1)
    val cent = PqIndex.codebooksFromComps(comp, k, rounds)
    PqIndex.pivotArgmin(comp, cent, Seq("vid"))
      .select(col("vid").as("vec_id"), col("cid").as("cluster_id"),
        col("d").as("sqdist"))
  }
}
