package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — the memory-bound billion-scale ANN path
  * (Jégou, Douze, Schmid 2011, "Product Quantization for Nearest
  * Neighbor Search"): split each D-dim vector into `m` contiguous
  * subvectors, learn a tiny per-subspace codebook by Lloyd's, store
  * each vector as `m` small codes, and answer queries by asymmetric
  * distance computation (ADC) — per-subspace distance tables summed
  * over the code columns, never touching the original floats. At
  * 100 TB this is THE reason PQ exists: a 64-dim float corpus is
  * 256 B/vector; m=8 byte codes are 8 B/vector — the whole index fits
  * where the raw vectors never could, and the serve-side join is
  * against an m·k-row broadcast table, not the corpus floats.
  *
  * Integer-exact discipline ([[KMeans]] verbatim — this operator is
  * per-subspace Lloyd's and shares its grid): components quantized to
  * q = round(x·10⁶) half-away-from-zero, exact BIGINT Σ(q−cq)²
  * distances, half-up integer centroid means floor((2Σq+n)/(2n)),
  * init = the k lowest vector ids' subvectors (every subspace seeds
  * from the SAME ids — deterministic, no RNG), assignment ties to the
  * lowest code. `rounds` = assignment passes; centroids update between
  * passes, not after the last. Every face is therefore
  * SQL-replayable: the oracle unrolls the per-round CTEs with a `sub`
  * key exactly like the k-means oracle (q_ann_pq / q_pq_codes).
  *
  * Scale shape: all `m` subspaces train in ONE join/aggregate pipeline
  * — `sub` is just another key column, never a driver-side loop. The
  * quantized component frame is materialized once (localCheckpoint,
  * re-joined every round — the [[KMeans]]/[[Components]] contract);
  * per round one broadcast join comp⋈centroids on the GLOBAL pos key
  * (pos determines sub, so the join key stays one column; centroids
  * are m·k·subDim rows — broadcastable for any sane m·k·D), one
  * partial-aggregated (vid, sub, cid) distance sum (map-side combine
  * keeps the exchange at N·m·k), one min(struct) argmin per (vid,
  * sub), one (cid, pos) update aggregate. ADC: the distance table is
  * queries×m×k rows (broadcast), codes join it on (sub, code), and
  * the per-(query, vid) sum partial-aggregates map-side — the corpus
  * is touched once, as codes, with no floats and no explode beyond m
  * rows per vector.
  */
object PqIndex {

  private val GRID = 1000000L

  /** Quantized components with their subspace: (vid, sub, pos, q).
    * `pos` stays GLOBAL (0-based over the full vector) so downstream
    * joins key on one column; `sub = pos / (D/m)`. Fails loudly on
    * ragged/null vectors and on D % m != 0 (the silent alternative
    * would train a codebook for a subspace that doesn't exist). */
  private[ext] def comps(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1: $m")
    // aggregate-validated like EmbedEval.truncationRecall: head() on a
    // first row would let a mixed-dimension corpus through, and a null
    // vector would turn the min() into an opaque NPE
    val stats = vecs.select(size(col(vecCol)).as("d"))
      .agg(min(col("d")).as("mn"), max(col("d")).as("mx"),
        count(lit(1)).as("n"),
        count(when(col("d").isNull || col("d") < 0, 1)).as("n_null"))
      .head()
    require(stats.getLong(2) > 0, "PqIndex needs a non-empty vector frame")
    require(stats.getLong(3) == 0L,
      s"PqIndex: ${stats.getLong(3)} row(s) carry a NULL $vecCol")
    val dim = stats.getInt(0)
    require(dim == stats.getInt(1),
      s"PqIndex: ragged vectors (dims $dim..${stats.getInt(1)}) — " +
        "subspace boundaries would differ per row")
    require(dim % m == 0,
      s"PqIndex: dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    vecs.select(col(idCol).cast("long").as("vid"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("vid"),
        (col("pos") / lit(subDim)).cast("int").as("sub"), col("pos"),
        round(col("x").cast("double") * lit(GRID)).cast("long").as("q"))
  }

  /** Train the per-subspace codebooks: (sub, cid, pos, cq) — the FINAL
    * centroids after `rounds` assignment passes (updates happen
    * between passes, so these are the centroids [[encode]] assigns
    * against, and encode∘codebooks ≡ the last training assignment). */
  def codebooks(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, rounds: Int): DataFrame =
    codebooksFromComps(partitionedComps(vecs, idCol, vecCol, m),
      k, rounds)

  /** The component frame every training/encode pass re-joins,
    * materialized ONCE and hash-partitioned by `vid` first (guide
    * §2.4 — share one exchange): hash(vid) satisfies the clustering
    * of every downstream grouping — (vid, sub, cid), (vid, sub),
    * (vid, list_id, sub, …) — and of every vid-keyed join, so the
    * whole train → residual → encode chain runs exchange-free off
    * these blocks (each round's only shuffle is the m·k·subDim-row
    * update aggregate). The repartition doubles as the under-split
    * scan's parallelism floor ([[graft.model.Parallelism]]). */
  private[ext] def partitionedComps(vecs: DataFrame, idCol: String,
      vecCol: String, m: Int): DataFrame =
    // repartition BELOW the checkpoint: the explode materializes in
    // parallel and the blocks land hash(vid)-placed. A checkpointed
    // RDD reports UnknownPartitioning under AQE, so downstream
    // aggregates still plan an exchange — RE-DECLARING the
    // partitioning above the checkpoint was tried and REJECTED: the
    // declared exchange re-executes per consuming query and measured
    // +12…+28% across the whole PQ/IVF-PQ family (interleaved A/B,
    // r18), while the post-shuffle aggregates it replaced are over
    // AQE-coalesced tiny partitions and near-free
    comps(vecs, idCol, vecCol, m)
      .repartition(col("vid")).localCheckpoint()

  /** The training loop over an already-built component frame (vid, sub,
    * pos, q) — the entry [[IvfPq]] uses to train codebooks on coarse
    * RESIDUALS rather than raw vectors (extra columns ride through
    * untouched). Caller materializes `comp`: it is re-joined every
    * round. */
  private[ext] def codebooksFromComps(comp: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    // init: code c of EVERY subspace = the (c+1)-th lowest vector id's
    // subvector (the KMeans init rule, applied per subspace with the
    // same ids — deterministic and oracle-replayable with one CTE)
    val initIds = comp.select(col("vid"))
      .distinct().orderBy(col("vid")).limit(k)
      // single-partition window over at most k rows (the limit above)
      .withColumn("cid", row_number().over(Window.orderBy(col("vid"))) - 1)
    // centroid frames are m·k·subDim rows by construction — localized
    // (driver-local relation, [[graft.model.LocalModel]]) instead of
    // checkpointed, so each round is ONE job and every later broadcast
    // of the codebooks (training, encode, ADC serve) builds job-free;
    // rows and schema are bit-identical to the checkpointed form
    var cent = graft.model.LocalModel.localized(
      comp.join(broadcast(initIds), "vid")
        .select(col("sub"), col("cid"), col("pos"), col("q").as("cq")))
    // rounds - 1 updates: the final assignment pass belongs to encode()
    (1 until rounds).foreach { _ =>
      val asg = assign(comp, cent)
      cent = graft.model.LocalModel.localized(
        asg.join(comp, Seq("vid", "sub"))
          .groupBy(col("sub"), col("cid"), col("pos"))
          .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
          .select(col("sub"), col("cid"), col("pos"),
            floor((lit(2.0) * col("s") + col("n")) / (lit(2.0) * col("n")))
              .cast("long").as("cq")))
    }
    cent
  }

  /** The centroid frame PIVOTED to one row per pos — (pos, cqs) with
    * cqs[i] = the i-th live cid's component at that pos, null when that
    * (sub, cid) cluster emptied out (a Lloyd's update emits no rows for
    * a memberless cluster, uniformly across the sub's positions).
    * Collected driver-side: centroid frames are k·dim-bounded
    * LocalRelations on every internal path, where collect() is
    * executeCollect — no job ([[Coreset.assign]]'s exemplar frame is
    * the one data-derived caller: its collect is one k·D-row scan job
    * that replaces the broadcast build the former shape paid anyway).
    * cid may be INT (PQ/k-means codes) or LONG (exemplar vector ids);
    * the pivot normalizes to Long internally and [[pivotArgmin]] emits
    * the source type back. Returns the pivot frame plus the sorted
    * live cid list the argmin unrolls over. */
  private def centPivot(cent: DataFrame, emptyMsg: String)
      : (DataFrame, Seq[Long]) = {
    val rows = cent.select(col("cid").cast("long").as("cid"), col("pos"),
      col("cq")).collect()
    require(rows.nonEmpty, emptyMsg)
    val cids = rows.map(_.getLong(0)).distinct.sorted.toSeq
    val data: Seq[org.apache.spark.sql.Row] =
      rows.groupBy(_.getInt(1)).toSeq.map { case (pos, rs) =>
        val byCid = rs.map(r => r.getLong(0) -> r.getLong(2)).toMap
        org.apache.spark.sql.Row(pos,
          cids.map(c => byCid.get(c).map(java.lang.Long.valueOf).orNull))
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cqs",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true),
        nullable = false)))
    (cent.sparkSession.createDataFrame(
      java.util.Arrays.asList(data: _*), schema), cids)
  }

  /** One assignment pass: (vid, sub, cid, d) — nearest code per
    * subspace under exact BIGINT squared distance, ties to the lowest
    * cid. pos determines sub, so the centroid join keys on pos alone.
    *
    * PIVOTED shape (r19, guide §2.3/§2.4): the former two-level argmin
    * — join cent (k rows per pos), partial-sum per (vid, sub, cid),
    * exchange N·m·k rows, then a second exchange for the per-(vid,
    * sub) min — now joins the pos-pivoted centroid row (ONE row per
    * pos), computes all k distance sums in one hash aggregate, and
    * takes the argmin IN-ROW with least() over (d, cid) structs: one
    * exchange of N·m rows, k× fewer shuffled rows, same exact BIGINT
    * sums and the same lowest-cid tie rule. An emptied cluster's d is
    * null (see [[centPivot]]) and its struct is nulled, which least()
    * skips — exactly the rows the old join never produced. */
  private[ext] def assign(comp: DataFrame, cent: DataFrame): DataFrame =
    pivotArgmin(comp, cent, Seq("vid", "sub"))

  /** The pivoted argmin over arbitrary grouping keys — [[assign]]'s
    * engine, shared with the IVF-PQ residual encode (keys + list_id),
    * the coarse full-vector routing (key = vid alone), [[KMeans]], and
    * [[Coreset.assign]] (long exemplar-id cids — the output cid keeps
    * the source frame's cid type, so int-coded callers' schemas are
    * untouched). Output: keys ++ (cid, d). */
  private[ext] def pivotArgmin(comp: DataFrame, cent: DataFrame,
      keys: Seq[String],
      emptyMsg: String = "PqIndex: empty centroid frame"): DataFrame = {
    val cidIsLong = cent.schema("cid").dataType ==
      org.apache.spark.sql.types.LongType
    val (pivot, cids) = centPivot(cent, emptyMsg)
    val dAggs = cids.indices.map { i =>
      val diff = col("q") - element_at(col("cqs"), i + 1)
      sum(diff * diff).as(s"__d$i")
    }
    val slots = cids.zipWithIndex.map { case (c, i) =>
      val cidLit = if (cidIsLong) lit(c) else lit(c.toInt)
      when(col(s"__d$i").isNotNull,
        struct(col(s"__d$i").as("d"), cidLit.as("cid")))
    }
    val best = if (slots.size == 1) slots.head else least(slots: _*)
    comp.join(broadcast(pivot), "pos")
      .groupBy(keys.map(col): _*)
      .agg(dAggs.head, dAggs.tail: _*)
      .select(keys.map(col) :+ best.as("a"): _*)
      .select(keys.map(col) :+ col("a.cid").as("cid")
        :+ col("a.d").as("d"): _*)
  }

  /** Encode a vector frame against trained codebooks: (vid, sub, code,
    * sqdist) — m rows per vector, `code` the subspace's nearest
    * centroid, `sqdist` the exact quantized residual (Σ over the
    * corpus = the standard PQ distortion diagnostic, free here). */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame): DataFrame = {
    val m = 1 + cb.agg(max(col("sub"))).head().getInt(0)
    // repartition WITHOUT a checkpoint (single pass): hash(vid) lets
    // both assign() aggregates run exchange-free on top of it, and the
    // explode no longer serializes into an under-split scan stage
    assign(comps(vecs, idCol, vecCol, m).repartition(col("vid")), cb)
      .select(col("vid"), col("sub"), col("cid").as("code"),
        col("d").as("sqdist"))
  }

  /** EXACT top-k on the shared integer grid — the ground truth the
    * ADC path approximates, exposed so recall is a first-class,
    * hash-gateable audit (q_pq_recall) rather than a hope: Σ(qa−qb)²
    * over quantized components, ties by (distance, id), self-matches
    * excluded — the same output contract as [[adcTopK]] so the two
    * rankings join row-for-row. Query comps broadcast into the corpus
    * scan; the per-(query, vid) sum partial-aggregates. Cost is one
    * corpus pass per query batch — the audit price, not the serving
    * path. */
  def exactTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val cc = comps(corpus, idCol, vecCol, m = 1)
    val qc = comps(queries, idCol, vecCol, m = 1)
      .select(col("vid").as("qid"), col("pos"), col("q").as("qq"))
    val diff = col("qq") - col("q")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("d"), col("vid"))
    cc.join(broadcast(qc), "pos")
      .groupBy(col("qid"), col("vid"))
      .agg(sum(diff * diff).as("d"))
      .filter(col("qid") =!= col("vid"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid").as("query_id"), col("vid").as("neighbor_id"),
        col("d").as("sqdist"), col("rk"))
  }

  /** ADC top-k: approximate nearest neighbors of each query under the
    * code representation — Σ_sub dtable[sub][code], the asymmetric
    * distance (exact query subvector vs corpus centroid). Output
    * (query_id, neighbor_id, adc_sqdist, rk), rk by (distance, id),
    * self-matches excluded like [[Similarity.bruteForceTopK]]. */
  def adcTopK(codes: DataFrame, cb: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val m = 1 + cb.agg(max(col("sub"))).head().getInt(0)
    val qcomp = comps(queries, idCol, vecCol, m)
      .select(col("vid").as("qid"), col("sub"), col("pos"), col("q"))
    // distance table: queries × m × k rows — tiny, broadcast; the
    // corpus side joins it BY CODE, never re-reading any float
    val diff = col("q") - col("cq")
    val dtable = qcomp
      .join(broadcast(cb.select(col("cid"), col("pos"), col("cq"))), "pos")
      .groupBy(col("qid"), col("sub"), col("cid"))
      .agg(sum(diff * diff).as("dt"))
    // rename the table's keys before joining: codes and dtable share
    // the codebook lineage, so codes("sub")/dtable("sub") are the SAME
    // attribute to the analyzer
    val scored = codes
      .join(broadcast(dtable.withColumnRenamed("sub", "dsub")
          .withColumnRenamed("cid", "dcid")),
        col("sub") === col("dsub") && col("code") === col("dcid"))
      .groupBy(col("qid"), col("vid"))
      .agg(sum(col("dt")).as("adc"))
      .filter(col("qid") =!= col("vid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("vid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid").as("query_id"), col("vid").as("neighbor_id"),
        col("adc").as("adc_sqdist"), col("rk"))
  }
}
