package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence with lift — the item↔item association
  * signal behind "bought together" recommenders and feature-pair
  * mining:
  *
  *   lift(a, b) = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)
  *
  * over baskets (N = basket count, n_x = baskets containing x, n_ab =
  * baskets containing both). Lift > 1 ⇒ positive association.
  *
  * Determinism: all four counts are exact BIGINTs; the lift emits via
  * the exact half-up integer division ([[TextAnalysis.halfUp4]]), whose
  * own exactness bound governs: the double division needs
  * 2·n_ab·N·10⁴ < 2⁵³, i.e. n_ab·N ≲ 4.5·10¹¹ — e.g. 10⁶ baskets with
  * pair supports to 4·10⁵. Beyond that the floor can round across the
  * boundary (and differently per engine); shard or rescale first.
  *
  * Shape for 100 TB: the fact table is aggregated ONCE into per-basket
  * sorted item sets (one shuffle on the basket key, `collect_set`
  * dedups in the same pass) and that frame is materialized — pair
  * expansion, item supports, and the basket count N all derive from the
  * materialized blocks, so the corpus is scanned and shuffled exactly
  * once (an earlier three-branch formulation re-scanned it for each).
  * Pair expansion is in-row, bounded by each basket's own size — never
  * a self-join of the fact table. The bound is only as good as the
  * data: one 10⁵-item hot basket still materializes C(10⁵,2) ≈ 5·10⁹
  * pairs in ONE row, so both entry points take an opt-in `maxBasket`
  * cap that drops whole oversized baskets — LOSSY (their pairs are
  * never emitted, and in [[pairLift]] they leave N and the supports
  * too, keeping the lift arithmetic self-consistent), so it is off by
  * default, and the drop count rides the plan as a [[SkewGuard]]
  * `observe` audit — no silent caps, no extra Spark job.
  */
object Basket {

  /** Per-basket deduped sorted item sets: ONE shuffle on the basket key,
    * with the optional oversized-basket guard applied (and audited)
    * before any pair expansion can touch the set. */
  private def itemSets(df: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Option[Int], caller: String): DataFrame = {
    val sets = df.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .groupBy(col("b"))
      .agg(sort_array(collect_set(col("i"))).as("is"))
    maxBasket match {
      case Some(cap) =>
        require(cap >= 2, "maxBasket must be >= 2")
        SkewGuard.observeDropCount(sets, "basket",
          sum(when(size(col("is")) > cap, 1L)),
          dropped => s"$caller: basket guard dropped $dropped basket(s) " +
            s"with more than $cap distinct items before pair expansion " +
            "(a hot basket contributes quadratic pairs and near-zero " +
            "association signal)")
          .filter(size(col("is")) <= cap)
      case None => sets
    }
  }

  /** In-row pair expansion of the per-basket sets: each set emits its
    * C(|set|,2) ordered pairs (u < v — the sets are sorted), one narrow
    * output row per pair. Two chained generators (posexplode the set,
    * then explode each element's tail slice): both Generate nodes stay
    * in whole-stage codegen and STREAM the pairs, where the earlier
    * `flatten(transform(..., transform(slice)))` form ran interpreted
    * (HOFs never codegen) and materialized all C(k,2) pair structs per
    * basket row before exploding — measured ~20% faster on the sf0.1
    * co-purchase expansion (PERF.md, "Basket pair expansion"); BasketSpec
    * "coPairs matches…" pins the identical pair multiset. */
  private def expandPairs(sets: DataFrame): DataFrame =
    sets
      .select(col("is"), posexplode(col("is")))
      .select(col("col").as("u"),
        explode(slice(col("is"), col("pos") + lit(2),
          size(col("is")) - col("pos") - lit(1))).as("v"))

  /** Raw co-occurrence edge list (u, v), u < v, one row per pair per
    * basket — the edge generator behind the co-purchase graph queries
    * (triangles, k-core, label propagation). `maxBasket` drops (and
    * audits) degenerate hot baskets. */
  def coPairs(df: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Option[Int] = None): DataFrame =
    expandPairs(itemSets(df, basketCol, itemCol, maxBasket, "coPairs"))

  /** @return (item_a, item_b, n_ab, n_a, n_b, lift) for pairs with
    *         `n_ab ≥ minSupport`, item_a < item_b. `maxBasket` drops
    *         (and audits) oversized baskets from the WHOLE computation —
    *         pairs, supports, and N — so lift stays self-consistent. */
  def pairLift(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 1L, maxBasket: Option[Int] = None): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    // ONE corpus shuffle: per-basket deduped sorted sets, materialized —
    // pairs, supports and N all read the checkpointed blocks (the guard
    // sits upstream of the checkpoint, so its audit logs when the
    // checkpoint materializes)
    val sets = itemSets(df, basketCol, itemCol, maxBasket, "pairLift")
      .localCheckpoint()
    val pairs = expandPairs(sets)
      .groupBy(col("u").as("item_a"), col("v").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val support = sets.select(explode(col("is")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n"))
    val total = sets.agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(broadcast(support.select(col("i").as("item_a"), col("n").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(support.select(col("i").as("item_b"), col("n").as("n_b"))),
        Seq("item_b"))
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        TextAnalysis.halfUp4(col("n_ab") * col("n_baskets"),
          col("n_a") * col("n_b")).as("lift"))
  }
}
