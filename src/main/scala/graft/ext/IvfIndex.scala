package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the scale path when
  * sign-LSH buckets are too coarse: a coarse k-means quantizer assigns
  * every corpus vector to its nearest centroid list; a query probes only
  * the `nProbe` nearest lists.
  *
  * Index build and search are SEPARATE phases — `build` fits the
  * quantizer and assigns the corpus exactly once; `search` reuses the
  * resulting [[IvfModel]] for any number of probe batches. At 100 TB the
  * built index is persisted in the `lists/batch=<wave>/list_id=<n>/`
  * WAVE layout ([[IvfModel.save]] = wave 0, [[appendSave]]/[[graft
  * .streaming.VectorIndexStream]] = later waves via dynamic partition
  * overwrite — crash/replay-idempotent, the [[PostingIndex]]
  * discipline), making a probe a partition-pruned scan — exactly the
  * on-disk IVF layout of a vector DB. [[load]] pins a [[graft.model
  * .WaveManifest]] snapshot, so serving during ingest never mixes
  * waves. Refitting the quantizer at query time would be a full ML job
  * per probe batch; the API makes that impossible.
  *
  * Results are rows-only-checkable (k-means has no SQL oracle);
  * correctness is gated by the recall-vs-brute-force spec.
  */
object IvfIndex {

  /** A built IVF index: per-row list assignment (with precomputed L2
    * norms, ready to join) plus the centroid table (tiny — lives on the
    * driver, used to pick probe lists without touching the corpus). */
  final case class IvfModel(
      assigned: DataFrame, // columns: neighbor_id, cv (vector), cn (norm), list_id
      centroids: Array[(Int, Array[Double])]) {

    /** Persist the index in the partition-pruned wave layout: corpus
      * rows under `lists/batch=0/list_id=<n>/` (a STATIC overwrite —
      * any previous index at `path`, all waves, is replaced) + a tiny
      * centroids table, then a [[graft.model.WaveManifest]] commit
      * re-pinning the manifest to exactly {0}. A later `search`
      * against the loaded index scans only the probed lists of the
      * pinned waves. */
    def save(path: String): Unit = {
      val spark = assigned.sparkSession
      import spark.implicits._
      val t = table(path)
      // disjoint-path writes overlapped (ConcurrentJobs wave-fan);
      // the manifest commit still strictly FOLLOWS all data
      t.build(spark) {
        graft.model.ConcurrentJobs.awaitAll(
          () => t.write(assigned, 0L, "lists", Seq("list_id"),
            dynamic = false),
          () => centroids.toSeq.map { case (i, c) => (i, c) }
            .toDF("list_id", "centroid")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$path/centroids"))
      }
    }

    /** The nearest-list rule as a per-row column: the `n` lists nearest
      * the vector column `vec`, nearest first — the rule below
      * (`IvfIndex.nearestLists`) applied in-row on the executors over
      * the driver-resident centroid array.
      * Every face that picks lists (insert, both searches, range probe)
      * goes through here, so a row always lands in a list its own probe
      * scans. */
    def nearestLists(vec: Column, n: Int): Column = {
      // capture the array only: the model holds a DataFrame
      val cents = centroids
      udf((q: Seq[java.lang.Double]) => IvfIndex.nearestLists(cents, q, n))
        .apply(vec.cast("array<double>"))
    }
  }

  /** The one IVF list-distance rule: the `n` lists nearest `qv`.
    * d = Σ(c−q)² over the centroid's dims, folded left to right in
    * double; a longer vector is truncated to the centroid dims (the
    * sign quantizer's centroids cover only the leading `bits` dims). A
    * NaN component becomes 1e6: the SQL engines order NaN above every
    * number, which [[Similarity.signBucket]]'s `> 0` follows, and a
    * large-but-moderate stand-in keeps that — sign-pattern centroids
    * with the bit SET win, and k-means centroids order by their
    * component size. 1e6, not 1e30: the stand-in must dominate real
    * coordinates yet keep (c ± stand-in)² distinguishable in double.
    * Ties go to the lower list id. A NULL vector, a NULL component or a
    * vector shorter than the centroids has no defined distance and is
    * refused by name (a null distance would file it under an arbitrary
    * list that no probe for it scans). */
  private def nearestLists(cents: Array[(Int, Array[Double])],
      qv: Seq[java.lang.Double], n: Int): Seq[Int] = {
    require(qv != null, "IvfIndex: a NULL vector has no nearest list")
    require(!qv.contains(null),
      "IvfIndex: a vector with a NULL component has no nearest list")
    val q = qv.map(x => if (x.isNaN) 1e6 else x.doubleValue).toArray
    cents.map { case (lid, c) =>
      require(q.length >= c.length, s"IvfIndex: a ${q.length}-dim " +
        s"vector is shorter than the ${c.length}-dim centroids")
      (lid, c.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum)
    }.sortBy { case (lid, d) => (d, lid) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      .take(n).map(_._1).toSeq
  }

  /** The wave store under an index: `lists/` partitioned (batch,
    * list_id), tombstones keyed by `vid`. */
  private def table(path: String) = graft.model.WaveTable(path, Seq("lists"))

  /** Load a previously-saved index as a PINNED SNAPSHOT: the manifest
    * pointer is resolved HERE (driver-side, once), and `assigned`
    * filters its partitioned scan to the pinned wave set — so waves
    * appended after the load are invisible to every search against
    * this model (never a mixed read), and probing n lists still reads
    * n list partitions, never the full corpus. `version` pins an
    * older manifest (time travel); an index with no manifest (legacy
    * layout) scans everything, the quiesced-index posture. */
  def load(spark: SparkSession, path: String,
           version: Option[Long] = None): IvfModel = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("list_id").cast("int"), col("centroid"))
      .as[(Int, Array[Double])].collect()
    // pinned tombstone waves (deleteSave) mask their ids — a handle
    // pinned BEFORE a delete keeps serving them (snapshot semantics,
    // both directions; the IvfPq contract)
    val snap = table(path).read(spark,
      version.map(v => graft.model.WaveManifest.wavesAt(spark, path, v)))
    IvfModel(snap.live("lists", "neighbor_id"), cents)
  }

  /** Tombstone delete: the [[IvfPq.deleteSave]] contract on the dense
    * index — ids land as their own `tombs/batch=<wave>` wave (same
    * guards and replay idempotence as [[appendSave]]); pinned
    * tombstones mask every serve that pins them; [[compact]]
    * physically removes masked rows and clears the tombstones;
    * re-inserting a deleted id stays masked until that compaction. */
  def deleteSave(path: String, ids: DataFrame, idCol: String,
      wave: Long): Unit =
    table(path).delete(ids, col(idCol).cast("long"), wave)

  /** Build the index: fit the coarse quantizer ONCE over the corpus and
    * assign every row its nearest list. One KMeans job + one transform.
    *
    * Quantizer defaults are tuned for a COARSE quantizer, where cluster
    * quality only shifts list boundaries (recall is recovered by nProbe):
    * random init + 10 iterations, the standard IVF practice — k-means||
    * init alone costs more driver-coordinated passes than the whole
    * random-init fit (measured ~2× build time at sf0.1), for boundary
    * quality ANN doesn't need. Callers clustering for ANALYSIS (not
    * indexing) can raise `maxIter` / set `initMode = "k-means||"`. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, seed: Long = 42L, maxIter: Int = 10,
      initMode: String = "random"): IvfModel = {
    val vecs = corpus.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans().setK(nLists).setSeed(seed)
      .setMaxIter(maxIter).setInitMode(initMode)
      .setFeaturesCol("__features").setPredictionCol("__list")
      .fit(vecs)
    val assigned = model.transform(vecs)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("__list").as("list_id"))
      .withColumn("cn", sqrt(Similarity.dot(col("cv"), col("cv"))))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    IvfModel(assigned, centroids)
  }

  /** Deterministic sign-pattern coarse quantizer: list = the `bits`-bit
    * sign bucket of the vector's leading dims ([[Similarity.signBucket]]),
    * centroids = the matching ±1 sign patterns over those dims. All
    * 2^bits centroids share one L2 norm, so the centroid nearest to any
    * query (max dot = agree with every sign) is the query's OWN bucket —
    * `search` with nProbe = 1 is then exactly same-bucket brute force,
    * which IS SQL-expressible. That gives the partition-pruned on-disk
    * serving path (save → load → probe a strict subset of list
    * partitions) a hash-exact DuckDB oracle (`q_ann_ivf_pruned`), where
    * the k-means quantizer's pruned probe has no deterministic floor.
    * A dim equal to exactly 0 ties the two centroids differing in that
    * bit; the stable sort keeps the lower list id, which is the bucket
    * the `> 0` sign test assigns — the tie resolves consistently. */
  def buildSign(corpus: DataFrame, idCol: String, vecCol: String,
      bits: Int): IvfModel = {
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        Similarity.signBucket(col(vecCol), bits).cast("int").as("list_id"))
      .withColumn("cn", sqrt(Similarity.dot(col("cv"), col("cv"))))
    val centroids = Array.tabulate(1 << bits) { b =>
      (b, Array.tabulate(bits)(j => if (((b >> j) & 1) == 1) 1.0 else -1.0))
    }
    IvfModel(assigned, centroids)
  }

  /** Assign NEW vectors to an EXISTING model's lists WITHOUT refitting
    * the quantizer — the index INSERT path. Each new row keeps the first
    * list of the nearest-list rule ([[IvfModel.nearestLists]]), the
    * rule every probe applies, so an appended row lands in exactly the
    * list a probe for it will scan. For a [[buildSign]] model this
    * reproduces the sign bucket bit-for-bit (equal-norm centroids:
    * argmin distance = matching sign pattern; an exact-zero dim ties
    * toward the lower id, which is what the `> 0` test assigns). One
    * narrow projection: no join, no window. Returns the newly assigned
    * rows in the index layout (`neighbor_id, cv, cn, list_id`); persist
    * with [[appendSave]] or union into the in-memory model with
    * [[append]].
    */
  def assignTo(model: IvfModel, newRows: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    newRows
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        model.nearestLists(col(vecCol), 1).getItem(0).as("list_id"))
      .withColumn("cn", sqrt(Similarity.dot(col("cv"), col("cv"))))
      .select(col("neighbor_id"), col("cv"), col("cn"), col("list_id"))

  /** In-memory insert: the existing model plus newly assigned rows. */
  def append(model: IvfModel, newRows: DataFrame, idCol: String,
      vecCol: String): IvfModel =
    IvfModel(
      model.assigned.unionByName(
        assignTo(model, newRows, idCol, vecCol), allowMissingColumns = false),
      model.centroids)

  /** On-disk insert: land assigned rows (from [[assignTo]]) as their
    * own `batch=<wave>` partition wave in an existing saved layout —
    * the [[PostingIndex.append]] discipline, replacing the blind
    * mode-append this face shipped with (review r11: a crashed or
    * replayed append double-wrote rows, and duplicated neighbors
    * corrupt top-k). Re-running the SAME wave id dynamically
    * OVERWRITES that wave's partitions instead of doubling them —
    * crash/replay-idempotent; existing waves and the centroid table
    * are untouched. The manifest commit lands AFTER the data (and is
    * skipped when the wave is already pinned), so a model [[load]]ed
    * before the append keeps serving the pre-append snapshot. */
  def appendSave(path: String, assignedRows: DataFrame, wave: Long): Unit = {
    val t = table(path)
    t.append(assignedRows.sparkSession, wave) {
      t.write(assignedRows, wave, "lists", Seq("list_id"))
    }
  }

  /** Compact the PINNED wave set into ONE new wave and re-pin the
    * manifest — the [[PostingIndex.compact]] lifecycle for
    * the dense index: N micro-batch waves × list dirs of small files
    * collapse to one wave. A pure row rewrite (vector rows are disjoint
    * across waves — the append precondition), so search over the
    * compacted index is bit-identical (spec-pinned). Tombstoned rows are
    * PHYSICALLY removed here and the mask resets to empty. Old waves
    * remain for pinned readers until [[expire]]. Appends and other
    * compactions may race it ([[graft.model.WaveTable.compact]];
    * WaveRaceSpec).
    * @return the new wave id */
  def compact(spark: SparkSession, path: String): Long =
    table(path).compactRows(spark, "lists", Seq("list_id"), "neighbor_id")

  /** Retention: drop manifest versions below the newest `keepVersions`
    * and every `lists`/`tombs` wave dir no surviving version references.
    * @return the deleted wave ids */
  def expire(spark: SparkSession, path: String, keepVersions: Int): Seq[Long] =
    table(path).expire(spark, keepVersions)

  /** Assign each row its IVF list id (the build half, kept for callers
    * that only need the partitioning column). */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, seed: Long = 42L): DataFrame =
    build(corpus, idCol, vecCol, nLists, seed).assigned
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol),
        col("list_id"))

  /** Top-k cosine neighbors probing the `nProbe` nearest lists per query.
    * Reuses a prebuilt model — no quantizer fit here. `queries` must be
    * small (a probe batch): the nearest-list rule runs on the executors
    * and its (query_id, list_id) pairs are collected — the bounded
    * `.collect()` is queries × nProbe ints, never the corpus. */
  def search(model: IvfModel, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._

    val probePairs = queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(model.nearestLists(col(vecCol), nProbe)).as("list_id"))
      .as[(Long, Int)].collect().toSeq
    val queriesDf = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(Similarity.dot(col("qv"), col("qv"))))
    val probes = probePairs.toDF("query_id", "list_id")
      .join(queriesDf, Seq("query_id"))

    // The probed list set is already driver-resident (it came back with
    // the pairs above) — filter it STATICALLY so a partitioned on-disk
    // index prunes to exactly the probed partitions at plan time, with no
    // reliance on dynamic partition pruning kicking in through the join.
    val probedLists = probePairs.map(_._2).distinct.sorted
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    model.assigned
      .filter(col("list_id").isin(probedLists.map(Int.box): _*))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"), col("rk"))
  }

  /** [[search]] with DISTRIBUTED probe-list selection: the query batch
    * never touches the driver. Each query row explodes the first
    * `nProbe` lists of the nearest-list rule in-row, so this face,
    * `search` and [[assignTo]]'s insert path use one rule and probe
    * identical lists.
    *
    * Use this when the probe batch itself is large (bulk re-scoring, an
    * offline join of one corpus against another): `search`'s bounded
    * `.collect()` contract assumes a small serving batch, and this is
    * the only path that removes it. Partition pruning over a persisted
    * layout is DYNAMIC here (the probed list set is a runtime join
    * side, not a driver-resident literal) — for small interactive
    * batches `search`'s static `isin` pruning remains the tighter plan.
    *
    * With `broadcastProbes` (default) the probe frame (queries ×
    * nProbe rows) broadcasts into the corpus join — the corpus never
    * shuffles. Pass false when the query batch is too big to broadcast;
    * both sides then shuffle on `list_id`.
    */
  def searchDistributed(model: IvfModel, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    val probes0 = queries
      .select(explode(model.nearestLists(col(vecCol), nProbe)).as("list_id"),
        col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(Similarity.dot(col("qv"), col("qv"))))
    val probes = if (broadcastProbes) broadcast(probes0) else probes0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    model.assigned
      .join(probes, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"), col("rk"))
  }

  /** Convenience: build + search in one call (the quantizer still fits
    * exactly once). Prefer explicit `build`/`search` so one index serves
    * many probe batches. */
  def searchTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int, nProbe: Int,
      seed: Long = 42L): DataFrame = {
    val model = build(corpus, idCol, vecCol, nLists, seed)
    search(model, queries, idCol, vecCol, k, nProbe)
  }
}
