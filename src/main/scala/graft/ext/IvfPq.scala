package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the coarse-quantizer + residual-product-quantization
  * composition (Jégou, Douze, Schmid 2011 §V; the FAISS `IVFPQ`
  * structure) that is THE standard billion-scale ANN index: a coarse
  * k-means quantizer routes each vector to one of `nLists` inverted
  * lists, and what gets stored per vector is the PQ code of its
  * RESIDUAL from the list centroid — m small codes instead of D
  * floats. A query probes only its `nProbe` nearest lists, building
  * one per-(query, list) ADC distance table over the residual
  * codebooks; the corpus side of the serve is a join of CODES against
  * that broadcast table. At 100 TB this is the layout where both
  * memory (m bytes/vector) and work (nProbe/nLists of the corpus per
  * query) shrink together — [[IvfIndex]] prunes work but stores raw
  * floats, [[PqIndex]] shrinks storage but scans every code; this
  * composes the two.
  *
  * Everything runs on the shared integer grid ([[KMeans]]/[[PqIndex]]
  * verbatim): q = round(x·10⁶), exact BIGINT Σ(q−cq)² distances,
  * half-up integer centroid means, init = the k lowest vector ids
  * (coarse AND product stages — no RNG), ties to the lowest id.
  * Residuals are exact BIGINT differences q − cq on that grid, so the
  * whole train → encode → probe → ADC-serve path is SQL-replayable:
  * the oracle is the k-means unroll twice (full-vector coarse pass,
  * then per-subspace rounds over the residual frame) plus the probe
  * and distance-table CTEs (q_ivfpq_codes / q_ann_ivfpq).
  *
  * Scale shape: one broadcast-centroid join + partial-aggregated
  * argmin per training round ([[PqIndex.codebooksFromComps]] — the
  * residual frame is materialized once and re-joined); encode is one
  * pass. Serving: probe selection is a broadcast-centroid argmin join
  * over the query batch on the integer grid (queries never touch the
  * driver), the ADC table is queries × nProbe
  * × m × k rows (broadcast), and the per-(query, vid) sum
  * partial-aggregates map-side. Because a vector's codes live under
  * its `list_id`, a persisted code table in the [[IvfIndex]]
  * `list_id=<n>` partition layout turns the probe into a
  * partition-pruned scan of codes — nProbe lists of m-byte codes is
  * the least I/O any disk-resident ANN serve can do.
  */
object IvfPq {

  /** A trained IVF-PQ model: `coarse` = full-vector list centroids
    * (cid, pos, cq) — nLists·D rows, broadcastable; `pq` = residual
    * subspace codebooks (sub, cid, pos, cq) — m·k·(D/m) rows, SHARED
    * across lists (the standard IVFPQ choice: per-list codebooks
    * multiply training cost and table size by nLists for marginal
    * recall). `mOpt` carries the subspace count when the constructor
    * knows it (train passes its parameter, load derives it from the
    * rows it collects anyway) so the serve faces stop paying one
    * discovery aggregate job each ([[m]]); absent, [[m]] discovers it
    * once per model handle. */
  final case class IvfPqModel(coarse: DataFrame, pq: DataFrame,
      mOpt: Option[Int] = None) {
    /** Number of PQ subspaces — the value every encode/serve face
      * needs to split query vectors. */
    lazy val m: Int =
      mOpt.getOrElse(1 + pq.agg(max(col("sub"))).head().getInt(0))
  }

  /** Fit coarse centroids (full-vector Lloyd's = [[PqIndex.codebooks]]
    * with m = 1), then PQ codebooks over the exact residuals of the
    * final coarse assignment. `coarseRounds`/`pqRounds` = assignment
    * passes per stage (updates between passes, not after the last —
    * the codebooks returned are exactly what [[encode]] assigns
    * against). */
  def train(vecs: DataFrame, idCol: String, vecCol: String,
      nLists: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int): IvfPqModel =
    trainEncode(vecs, idCol, vecCol, nLists, coarseRounds, m, k,
      pqRounds)._1

  /** [[train]] + the training corpus's codes in ONE pass over the
    * residual frame: the codebook rounds and the final encode share
    * the SAME checkpointed residuals, so the build pipeline
    * (train → save codes) never re-explodes the corpus or re-runs the
    * coarse argmin a second time — a third of the work of calling
    * `train` then `encode` separately, bit-identical results (the
    * encode IS [[assignResiduals]] against the returned codebooks
    * either way). */
  def trainEncode(vecs: DataFrame, idCol: String, vecCol: String,
      nLists: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int): (IvfPqModel, DataFrame) = {
    require(nLists >= 1, s"nLists must be >= 1: $nLists")
    // ONE component explode feeds the coarse training, the residual
    // build, AND the PQ stage (it was three separate posexplode passes
    // + three validation scans before — guide §1.2 "don't compute
    // things twice"). Coarse training is codebooksFromComps over the
    // SAME frame with `sub` collapsed to 0: with one subspace the
    // (vid, sub) grouping degenerates to (vid), so the centroids are
    // bit-identical to the former codebooks(m = 1) call.
    val mcomp = PqIndex.partitionedComps(vecs, idCol, vecCol, m)
    val coarse = PqIndex
      .codebooksFromComps(
        mcomp.select(col("vid"), lit(0).as("sub"), col("pos"), col("q")),
        nLists, coarseRounds)
      .select(col("cid"), col("pos"), col("cq"))
    // materialized once for the PQ rounds and the final encode (no
    // partitioning re-declare — see the partitionedComps comment)
    val rcomp = residualFromComps(mcomp, coarse).localCheckpoint()
    val pq = PqIndex.codebooksFromComps(rcomp, k, pqRounds)
    (IvfPqModel(coarse, pq, Some(m)), assignResiduals(rcomp, pq))
  }

  /** (vid, list_id, sub, pos, qr): each vector's exact quantized
    * residual from its nearest coarse centroid — the frame the PQ
    * stage trains on and encodes. One broadcast-centroid argmin join
    * (the [[PqIndex.assign]] shape, full-vector because the coarse
    * table has no sub split) + one broadcast re-join for the
    * subtraction. */
  private def residualComps(vecs: DataFrame, idCol: String,
      vecCol: String, m: Int, coarse: DataFrame): DataFrame =
    // encode()-path entry: the comps frame feeds BOTH the argmin and
    // the re-join below, so materialize it once, vid-partitioned
    // (trainEncode hands in its own frame via residualFromComps)
    residualFromComps(
      PqIndex.partitionedComps(vecs, idCol, vecCol, m), coarse)

  /** [[residualComps]] body over an already-materialized component
    * frame. */
  private def residualFromComps(comp: DataFrame,
      coarse: DataFrame): DataFrame = {
    // pivoted full-vector argmin (PqIndex.pivotArgmin, r19): one
    // exchange of N rows instead of N·nLists + a second min pass
    val asg = PqIndex.pivotArgmin(comp, coarse, Seq("vid"))
      .select(col("vid"), col("cid").as("list_id"))
    comp.join(asg, "vid")
      .join(broadcast(coarse.withColumnRenamed("cid", "list_id")),
        Seq("list_id", "pos"))
      .select(col("vid"), col("list_id"), col("sub"), col("pos"),
        (col("q") - col("cq")).as("q"))
  }

  /** Encode a vector frame: (vid, list_id, sub, code, sqdist) — m rows
    * per vector; `code` = the residual subvector's nearest PQ
    * centroid, `sqdist` = the exact residual-of-residual (Σ over the
    * corpus = the IVF-PQ distortion diagnostic). `list_id` rides the
    * aggregation keys (functionally determined by vid — free) so the
    * output is directly writable in the [[IvfIndex]] list-partitioned
    * layout. */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
      model: IvfPqModel): DataFrame =
    assignResiduals(
      residualComps(vecs, idCol, vecCol, model.m, model.coarse), model.pq)

  /** The final PQ assignment over a residual frame — the single encode
    * rule [[encode]] and [[trainEncode]] share. */
  private def assignResiduals(rcomp: DataFrame, pq: DataFrame): DataFrame =
    // pivoted argmin with list_id riding the keys (it is functionally
    // determined by vid — free), one exchange of N·m rows
    PqIndex.pivotArgmin(rcomp, pq, Seq("vid", "list_id", "sub"))
      .select(col("vid"), col("list_id"), col("sub"),
        col("cid").as("code"), col("d").as("sqdist"))

  /** ADC top-k over probed lists: each query selects its `nProbe`
    * nearest coarse lists (broadcast-centroid argmin — distributed,
    * queries never touch the driver), forms the per-(query, list)
    * residual, builds the ADC table against the PQ codebooks, and the
    * probed codes sum it per neighbor. A vector in an unprobed list is
    * invisible — that approximation IS the operator, and the oracle
    * replays the same probe rule, so the answer is still hash-exact.
    * Output (query_id, neighbor_id, adc_sqdist, rk); rk by (distance,
    * id); self-matches excluded. */
  def adcTopK(codes: DataFrame, model: IvfPqModel, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be >= 1")
    val qcomp = PqIndex.comps(queries, idCol, vecCol, model.m)
      .select(col("vid").as("qid"), col("sub"), col("pos"), col("q"))
    adcTopKFrom(codes, model, qcomp,
      probeFrame(qcomp, model.coarse, nProbe), k)
  }

  /** [[adcTopK]] body over an already-built query component frame and
    * probe set — [[searchPruned]] shares its qcomp/probeFrame subtrees
    * with the pruning collect instead of re-validating and re-deriving
    * them (one comps validation aggregate, not two, per serve). */
  private def adcTopKFrom(codes: DataFrame, model: IvfPqModel,
      qcomp: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    // per-(query, probed list) residual, then the ADC table:
    // queries × nProbe × m × k rows — tiny, broadcast
    val qres = qcomp
      .join(broadcast(probes), "qid")
      .join(broadcast(model.coarse.withColumnRenamed("cid", "list_id")),
        Seq("list_id", "pos"))
      .select(col("qid"), col("list_id"), col("sub"), col("pos"),
        (col("q") - col("cq")).as("qr"))
    val tdiff = col("qr") - col("cq")
    val dtable = qres
      .join(broadcast(model.pq.select(col("cid"), col("pos"), col("cq"))),
        "pos")
      .groupBy(col("qid"), col("list_id"), col("sub"), col("cid"))
      .agg(sum(tdiff * tdiff).as("dt"))
    // rename the table's keys before joining: codes and dtable share
    // the codebook lineage through the model frames, so same-name
    // columns could resolve to the SAME attribute
    val scored = codes
      .join(broadcast(dtable
          .withColumnRenamed("list_id", "dlist")
          .withColumnRenamed("sub", "dsub")
          .withColumnRenamed("cid", "dcid")),
        col("list_id") === col("dlist") && col("sub") === col("dsub") &&
          col("code") === col("dcid"))
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

  /** Two-stage serve — the production refine pattern (FAISS
    * `IndexRefine`): ADC proposes `rerank` candidates per query from
    * the codes (cheap, approximate), then the EXACT quantized distance
    * re-ranks just those candidates against the raw vectors and cuts
    * to `k`. The corpus-wide scan stays code-only; the float-width
    * vectors are touched for queries × rerank rows — the knob that
    * buys back quantization recall at a bounded exact-compute price.
    * `corpus` supplies the raw vectors (the store-aside table a coded
    * index deployment keeps for exactly this). Output (query_id,
    * neighbor_id, sqdist, rk) — sqdist now the EXACT distance. */
  def adcRefineTopK(codes: DataFrame, model: IvfPqModel,
      queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val cand = adcTopK(codes, model, queries, idCol, vecCol,
      rerank, nProbe)
      .select(col("query_id").as("qid"), col("neighbor_id").as("vid"))
    val qc = PqIndex.comps(queries, idCol, vecCol, m = 1)
      .select(col("vid").as("qid"), col("pos"), col("q").as("qq"))
    val diff = col("qq") - col("q")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("d"), col("vid"))
    PqIndex.comps(corpus, idCol, vecCol, m = 1)
      .join(broadcast(cand), "vid")
      .join(broadcast(qc), Seq("qid", "pos"))
      .groupBy(col("qid"), col("vid"))
      .agg(sum(diff * diff).as("d"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid").as("query_id"), col("vid").as("neighbor_id"),
        col("d").as("sqdist"), col("rk"))
  }

  /** (qid, list_id): each query's `nProbe` minimum-distance coarse
    * lists — one broadcast-centroid join + window cut, the SINGLE
    * probe rule every face shares ([[adcTopK]]'s distributed serve and
    * [[searchPruned]]'s static partition pruning), so the two can
    * never probe different lists. Ties by (distance, list id). */
  private def probeFrame(qcomp: DataFrame, coarse: DataFrame,
      nProbe: Int): DataFrame = {
    val cdiff = col("q") - col("cq")
    qcomp
      .join(broadcast(coarse), "pos")
      .groupBy(col("qid"), col("cid"))
      .agg(sum(cdiff * cdiff).as("d"))
      .withColumn("prk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d"), col("cid"))))
      .filter(col("prk") <= nProbe)
      .select(col("qid"), col("cid").as("list_id"))
  }

  // ── Persisted face: the graft.model.WaveTable lifecycle shared with
  //    IvfIndex/PostingIndex/DedupState — codes land partitioned by
  //    (batch, list_id), serves resolve a manifest pin ONCE at load,
  //    appends are replay-idempotent dynamic wave overwrites, and
  //    compaction/retention ride the same watermark rules. This is the
  //    layout where IVF-PQ's promise lands on disk: a probe reads
  //    nProbe list partitions of m-byte codes — the least I/O a
  //    disk-resident ANN serve can do.

  /** A loaded on-disk index: the (tiny) model tables plus the
    * manifest-pinned code scan. */
  final case class IvfPqDisk(model: IvfPqModel, codes: DataFrame)

  /** Persist a trained model + encoded corpus: codes under
    * `codes/batch=0/list_id=<n>/` (STATIC overwrite — any previous
    * index at `path` is replaced), the two model tables beside them,
    * then a manifest commit pinning exactly {0} (a rebuild resets
    * compaction coverage). */
  def save(model: IvfPqModel, codes: DataFrame, path: String): Unit = {
    val t = table(path)
    // the three writes land on disjoint paths — overlap them (the
    // ConcurrentJobs wave-fan contract); the manifest commit still
    // strictly FOLLOWS all data, so the publish ordering is unchanged
    t.build(codes.sparkSession) {
      graft.model.ConcurrentJobs.awaitAll(
        () => t.write(codes, 0L, "codes", Seq("list_id"), dynamic = false),
        () => model.coarse.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/coarse"),
        () => model.pq.coalesce(1).write.mode("overwrite")
          .parquet(s"$path/pqcb"))
    }
  }

  /** The wave store under an index: `codes/` partitioned (batch,
    * list_id), tombstones keyed by `vid`. */
  private def table(path: String) = graft.model.WaveTable(path, Seq("codes"))

  /** Load as a PINNED SNAPSHOT: the manifest pointer resolves HERE
    * (driver-side, once) — waves appended after the load are invisible
    * to every serve against this handle, and probing n lists still
    * reads n list partitions of the pinned waves. Pinned TOMBSTONE
    * waves ([[deleteSave]]) mask their vids from the code scan with an
    * anti join — a handle pinned BEFORE a delete still serves the
    * deleted vectors (snapshot semantics, both directions). `version`
    * pins an older manifest (time travel); no manifest (legacy
    * layout) scans everything. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[Long] = None): IvfPqDisk = {
    // model tables are bounded by MODEL size (nLists·D and m·k·(D/m)
    // rows — never data-sized), so localize them once at load: every
    // serve-side broadcast then builds driver-side with no scan job,
    // instead of re-reading the parquet per join
    // ([[graft.model.LocalModel]], the trainEncode precedent), and the
    // subspace count m falls out of the rows already collected — the
    // per-serve discovery aggregates disappear
    val coarse = graft.model.LocalModel.localized(
      spark.read.parquet(s"$path/coarse"))
    val (pq, pqRows) = graft.model.LocalModel.localizedWithRows(
      spark.read.parquet(s"$path/pqcb"))
    require(pqRows.nonEmpty, s"empty PQ codebook table under $path/pqcb")
    val subIdx = pq.schema.fieldIndex("sub")
    val model = IvfPqModel(coarse, pq,
      Some(1 + pqRows.iterator.map(_.getInt(subIdx)).max))
    val snap = table(path).read(spark,
      version.map(v => graft.model.WaveManifest.wavesAt(spark, path, v)))
    IvfPqDisk(model, snap.live("codes", "vid"))
  }

  /** On-disk insert: land [[encode]]d rows as their own `batch=<wave>`
    * partition wave — re-running the SAME wave id dynamically
    * overwrites that wave's partitions (crash/replay-idempotent), the
    * manifest commit lands AFTER the data, and absorbed-by-compaction
    * ids are refused loudly: [[graft.model.WaveTable.append]] on the
    * code table. */
  def appendSave(path: String, encodedRows: DataFrame, wave: Long): Unit = {
    val t = table(path)
    t.append(encodedRows.sparkSession, wave) {
      t.write(encodedRows, wave, "codes", Seq("list_id"))
    }
  }

  /** Tombstone delete: land the vids to remove as their OWN wave under
    * `tombs/batch=<wave>` — the same manifest, guards, and replay
    * idempotence as [[appendSave]] (dynamic overwrite of the wave's
    * partition; commit after data). A pinned tombstone masks its vids
    * from every serve that pins it; a handle loaded BEFORE the delete
    * keeps serving them (snapshot semantics). The mask applies to ALL
    * pinned code waves, including ones appended later — re-inserting a
    * deleted vid needs a [[compact]] first (which physically removes
    * the masked codes and clears the tombstones); [[appendSave]] does
    * not check, the documented append-posture contract. */
  def deleteSave(path: String, ids: DataFrame, idCol: String,
      wave: Long): Unit =
    table(path).delete(ids, col(idCol).cast("long"), wave)

  /** Collapse the pinned wave set into ONE compaction-space wave and
    * re-pin — tombstoned codes are PHYSICALLY removed here (the
    * rewrite anti-joins the pinned tombstones), so post-compaction
    * serves are bit-identical to pre-compaction serves and the
    * tombstone mask resets to empty; data first, manifest after; old
    * waves stay for pinned readers until [[expire]].
    * @return the new wave id */
  def compact(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    table(path).compactRows(spark, "codes", Seq("list_id"), "vid")

  /** Retention: drop manifest versions below the newest `keepVersions`
    * and every `codes`/`tombs` wave dir no surviving version references.
    * @return the deleted wave ids */
  def expire(spark: org.apache.spark.sql.SparkSession, path: String,
      keepVersions: Int): Seq[Long] =
    table(path).expire(spark, keepVersions)

  /** [[adcTopK]] over a loaded index with STATIC partition pruning:
    * probe selection itself is DISTRIBUTED ([[probeFrame]] — the query
    * batch never touches the driver, any offline batch size works);
    * only the DISTINCT probed-list set is collected (≤ nLists ints —
    * the bounded payload static pruning needs) and pushed as an `isin`
    * literal, so the code scan prunes to exactly the probed `list_id=`
    * partitions at plan time. The probe rule is [[probeFrame]] — the
    * same one `adcTopK` re-applies inside, so the prefilter can never
    * drop a list the serve would score. */
  def searchPruned(disk: IvfPqDisk, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be >= 1")
    val qcomp = PqIndex.comps(queries, idCol, vecCol, disk.model.m)
      .select(col("vid").as("qid"), col("sub"), col("pos"), col("q"))
    val probes = probeFrame(qcomp, disk.model.coarse, nProbe)
    val probed = probes
      .select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    // the serve reuses the SAME qcomp/probes subtrees the pruning
    // collect just derived — the probe rule stays single-sourced
    // ([[probeFrame]]), and the serve no longer re-validates the query
    // frame or re-discovers m
    adcTopKFrom(
      disk.codes.filter(col("list_id").isin(probed.map(Int.box): _*)),
      disk.model, qcomp, probes, k)
  }
}
