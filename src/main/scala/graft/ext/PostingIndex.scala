package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 posting index — the SPARSE-retrieval serving path,
  * and the text twin of [[IvfIndex]]'s persisted/pruned dense path:
  * [[Relevance.bm25]] recomputes corpus statistics per query (right
  * for one-off analytics, wrong for a serving loop over a 100 TB
  * corpus); this operator pays the corpus scan ONCE per ingested wave
  * and answers each query from partition-pruned posting reads.
  *
  * ONE layout for every write face (build, incremental append,
  * [[graft.streaming.IndexStream]] micro-batches): each wave of NEW
  * documents lands as its own `batch=<wave>` partition in all four
  * tables under `path` —
  *   - `postings/` (term, doc_id, tf), partitioned (batch, bucket)
  *     with bucket = hash(term) mod `termBuckets`: a k-term query
  *     reads ≤ k buckets across all waves — the pruning unit;
  *   - `doclens/`  (doc_id, dl), partitioned (batch);
  *   - `terms/`    one (term, df) DELTA row per wave;
  *   - `stats/`    one (n_docs, sum_dl) DELTA row per wave.
  * Waves hold disjoint doc sets (precondition — dedup upstream), so
  * serving sums df/stats across waves. Nothing merges in place,
  * nothing renames: [[build]] is a static overwrite of the whole
  * index (wave 0); [[append]] is a DYNAMIC overwrite of its own wave,
  * which makes a crashed or replayed append idempotent — re-run the
  * SAME wave id and it replaces whatever the dying run left (full
  * wave, partial wave, or garbage) instead of doubling postings.
  *
  * Score parity is a CONTRACT: [[scoreQuery]] and [[Relevance.bm25]]
  * build their score from the ONE expression tree
  * [[Relevance.bm25Columns]] (same idf form, same association order,
  * same 4-dp rounding), so
  * index-then-serve equals scan-scoring bit-for-bit on matching docs —
  * `q_bm25_indexed`/`q_bm25_append` hash-gate that against the SAME
  * SQL oracle as `q_bm25` restricted to docs with ≥ 1 hit.
  *
  * Snapshot isolation for serve-during-ingest: every write face also
  * commits a [[graft.model.WaveManifest]] version AFTER its data wave
  * lands, and [[scoreQuery]] resolves the pointer ONCE at plan time,
  * filtering all four table scans to the pinned wave set (partition-
  * pruned — `batch` is the leading partition column, so the filter is
  * free). A wave committing mid-serve is therefore invisible: the
  * serve answers as of its pinned manifest — never a mixed read.
  * Indexes without a manifest (legacy dirs) fall back to scanning
  * every wave, the quiesced-index posture. Residual window: an
  * at-least-once REPLAY of an already-committed wave rewrites that
  * wave's partitions with identical content; a serve catching the
  * file swap mid-flight is the one case the manifest cannot pin.
  */
object PostingIndex {

  /** Create/replace the index with its first wave (batch 0): a STATIC
    * overwrite — any previous index content at `path` is replaced, and
    * the manifest re-pins to exactly {0} (readers pinned to an expired
    * pre-rebuild version fail on their next read — the documented
    * retention trade, same as any table format's VACUUM). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            path: String, termBuckets: Int = 64): Unit =
    table(path).build(docs.sparkSession) {
      writeWave(docs, idCol, textCol, path, wave = 0L, termBuckets,
        dynamic = false)
    }

  /** Fold a wave of NEW documents in without re-reading the indexed
    * corpus. `wave` must be unique per batch of docs (re-using a wave
    * id REPLACES that wave — which is exactly the crash/replay
    * recovery story, and exactly wrong for fresh docs). The wave
    * becomes visible to pinned serves only once its manifest commit
    * lands — a crash in between leaves an invisible wave the replay
    * overwrites. */
  def append(newDocs: DataFrame, idCol: String, textCol: String,
             path: String, wave: Long, termBuckets: Int = 64): Unit =
    table(path).append(newDocs.sparkSession, wave) {
      writeWave(newDocs, idCol, textCol, path, wave, termBuckets,
        dynamic = true)
    }

  /** The wave store under an index: four data tables, tombstones keyed
    * by `doc_id`. */
  private def table(path: String) = graft.model.WaveTable(path,
    Seq("doclens", "postings", "terms", "stats"), tombKey = "doc_id")

  /** The single write path all faces share (build, append, streaming
    * micro-batches) — one tokenization feeding all four tables, so the
    * bucket layout and tf semantics CANNOT diverge between faces. */
  private[graft] def writeWave(docs: DataFrame, idCol: String,
      textCol: String, path: String, wave: Long, termBuckets: Int,
      dynamic: Boolean): Unit = {
    require(termBuckets >= 1, s"termBuckets must be >= 1: $termBuckets")
    // one tokenization plan feeds all four tables. BUILD face: pin it
    // with a checkpoint — scan the corpus once, the fan reads the
    // materialized blocks. STREAMING face (dynamic): skip the
    // checkpoint — it is a SEQUENTIAL job in front of the concurrent
    // fan, and a micro-batch (already persisted by the foreachBatch
    // caller) re-tokenizes for pennies inside each concurrent branch;
    // dropping it removes one whole scheduling latency from the
    // critical path (review r16 #3). Determinism holds either way:
    // every input below the fan is cached/checkpointed upstream.
    val toksPlan = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.words(col(textCol)).as("ws"))
    val toks = if (dynamic) toksPlan else toksPlan.localCheckpoint()
    def wv(df: DataFrame, name: String, parts: String*): Unit =
      table(path).write(df, wave, name, parts, dynamic)
    // the four table writes are INDEPENDENT actions over the shared
    // checkpointed token scan — submit them concurrently (review r16
    // #3: a streamed wave paid six sequential job-scheduling
    // latencies; the data is micro-batch-sized, the fan IS the cost).
    // Ordering stays wave-safe: everything lands before this returns,
    // and the manifest commit (the visibility event) is the caller's
    // NEXT step — a reader can never pin a wave whose fan is still
    // in flight, and a crashed half-landed fan is invisible until the
    // replay overwrites it.
    graft.model.ConcurrentJobs.awaitAll(
      () => wv(toks.select(col("doc_id"),
        size(col("ws")).cast("long").as("dl")), "doclens"),
      () => {
        val postingsPlan = toks
          .select(col("doc_id"), explode(col("ws")).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).cast("long").as("tf"))
          .withColumn("bucket",
            pmod(xxhash64(col("term"), lit(42)), lit(termBuckets)).cast("int"))
        // build face: checkpoint — the corpus-wide (term, doc) shuffle
        // must run once for the posting write AND the df rollup.
        // streaming face: the checkpoint is another sequential job in
        // front of two concurrent writes; let each write run the tiny
        // shuffle itself, concurrently
        val postings =
          if (dynamic) postingsPlan else postingsPlan.localCheckpoint()
        // STREAMING face (dynamic): cluster by bucket before writing —
        // the groupBy leaves every shuffle partition holding rows of
        // ~every bucket, so a micro-batch wave wrote up to
        // partitions×buckets tiny files (the small-files debt the
        // compactor exists to pay down); clustered, a wave writes at
        // most one file per bucket and the pruned serve reads one.
        // The BUILD face keeps the full write parallelism — a corpus
        // write wants all tasks, not termBuckets of them.
        val clustered =
          if (dynamic) postings.repartition(col("bucket")) else postings
        graft.model.ConcurrentJobs.awaitAll(
          () => wv(clustered, "postings", "bucket"),
          () => wv(postings.groupBy(col("term"))
            .agg(count(lit(1)).cast("double").as("df")), "terms"))
      },
      () => wv(toks.agg(count(lit(1)).cast("double").as("n_docs"),
        sum(size(col("ws"))).cast("double").as("sum_dl")), "stats"))
  }

  /** Tombstone delete — LUCENE SEMANTICS, the industry contract for
    * inverted-index deletes: doc ids land as their own
    * `tombs/batch=<wave>` wave (append-grade guards, replay
    * idempotence), and a pinned tombstone masks its docs from every
    * serve's RESULTS while the corpus statistics (df, N, avgdl) keep
    * reflecting the pinned waves — surviving docs' scores are
    * UNCHANGED until [[compact]] physically drops the masked rows and
    * RECOMPUTES the statistics from the survivors (the merge). Both
    * halves are spec-pinned: post-delete serve ≡ pre-delete serve
    * minus the masked docs row-for-row; post-compaction serve ≡ a
    * fresh build on the survivors score-for-score. */
  def deleteSave(path: String, docIds: DataFrame, idCol: String,
      wave: Long): Unit =
    table(path).delete(docIds, col(idCol), wave)

  /** BM25 scores for `terms` over the index — docs with ≥ 1 matching
    * term, columns (doc_id, dl, tf_0.., bm25) exactly as
    * [[Relevance.bm25]] emits them (score parity contract above).
    * The postings scan carries `batch IN (pinned waves)` + `bucket IN
    * (...)` (both partition pruning) and `term IN (...)` (row-group
    * pushdown); df and corpus stats are wave-summed aggregate rows
    * broadcast into the scoring join. The manifest pointer is resolved
    * ONCE, here at plan time — every scan in the plan then reads the
    * same wave set no matter what commits mid-execution (snapshot
    * serving). `pin` overrides the pointer for time travel (a wave set
    * from [[graft.model.WaveManifest.wavesAt]]). */
  def scoreQuery(spark: SparkSession, path: String, terms: Seq[String],
                 termBuckets: Int = 64, k1: Double = 1.2,
                 b: Double = 0.75,
                 pin: Option[Seq[Long]] = None): DataFrame = {
    require(terms.nonEmpty, "scoreQuery needs at least one term")
    // plan-time pin: explicit > manifest pointer > legacy scan-all,
    // read as explicit pinned dirs (graft.model.WaveTable.read)
    val snap = table(path).read(spark, pin)
    val lower = terms.map(_.toLowerCase(java.util.Locale.ROOT))
    val post = snap("postings")
      .filter(col("bucket").isin(bucketsOf(lower, termBuckets): _*) &&
        col("term").isin(lower: _*))
    // per-doc tf columns in TERM ORDER (the fold order is the parity)
    val byDoc = post.groupBy(col("doc_id"))
      .agg(max(when(col("term") === lower.head, col("tf")))
          .as("tf_raw_0"),
        lower.indices.tail.map(i =>
          max(when(col("term") === lower(i), col("tf")))
            .as(s"tf_raw_$i")): _*)
    val withTf = lower.indices.foldLeft(byDoc) { (d, i) =>
      d.withColumn(s"tf_$i", coalesce(col(s"tf_raw_$i"), lit(0L)))
    }
    val dls = snap("doclens")
      .select(col("doc_id"), col("dl"))
    val stats = snap("stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    // one (df_0..df_n) row, wave-summed; absent terms read as df 0 —
    // a lazy broadcast, not an eager collect (serve-time snapshot)
    val dfAggs = lower.indices.map(i =>
      coalesce(sum(when(col("term") === lower(i), col("df"))), lit(0.0))
        .as(s"df_$i"))
    val dfRow = snap("terms")
      .filter(col("term").isin(lower: _*))
      .agg(dfAggs.head, dfAggs.tail: _*)
    // Lucene-semantics delete mask: pinned tombstones hide their docs
    // from the RESULTS; df/stats above stay wave-summed (stale until
    // compaction) so surviving docs score identically pre/post delete
    val masked = snap.masked(withTf, "doc_id")
    masked.join(dls, "doc_id")
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfRow))
      .select(Relevance.bm25Columns("doc_id", lower.size, k1, b): _*)
  }

  /** Compact the PINNED wave set into ONE new wave and re-pin the
    * manifest to it — the small-files lifecycle for a
    * long-ingesting index: N waves × 64 bucket dirs of micro-batch
    * postings collapse back to one wave's worth of files, and per-wave
    * df/stats delta rows collapse to single summed rows. Serve parity
    * is EXACT: postings/doclens rows are disjoint across waves (the
    * append precondition) so the rewrite is a pure union, and df/stats
    * are whole counts in DOUBLE — integer-valued sums below 2^53 are
    * associativity-proof, so pre-summing at compaction equals
    * serve-time wave-summing bit-for-bit (spec-pinned).
    *
    * Crash discipline: the new wave's data lands first (dynamic
    * overwrite of its own partitions — a replayed compaction is
    * idempotent), the manifest flips after; a crash in between leaves
    * the old manifest serving the old waves. Old waves stay on disk for
    * pinned readers until [[expire]] reclaims them. An append landing
    * mid-compaction is SAFE: the commit is CAS'd against the pin-time
    * version ([[graft.model.WaveManifest
    * .commitCompaction]]), so the racing wave survives into the new
    * snapshot. Compactions racing EACH OTHER are safe too: each claims
    * a unique rewrite wave id and the superseded loser redoes on fresh
    * state ([[graft.model.WaveManifest.runCompaction]]; WaveRaceSpec
    * races all of it).
    * @return the new wave id */
  def compact(spark: SparkSession, path: String): Long =
    table(path).compact(spark) { (snap, newWave) =>
    // the new wave id comes from the DISJOINT compaction space (>= 2^60):
    // `waves.max + 1` was exactly the id the next micro-batch would use,
    // and its dynamic partition overwrite replaced the compacted wave's
    // partitions while commitWave silently skipped the already-pinned id
    // — the whole pre-compaction index vanished from serving (review r12)
    // materialized (localCheckpoint) BEFORE the write: the rewrite
    // reads the same table paths it overwrites, and Spark refuses a
    // write whose lazy input scans its own output path.
    // Lucene merge: tombstoned docs drop PHYSICALLY here, and df/stats
    // are RECOMPUTED from the survivors (the moment stale statistics
    // refresh). With no tombstones the recomputation equals the old
    // delta pre-sum bit-for-bit: waves hold disjoint docs, so
    // count(postings per term) = Σ per-wave dfs and the doclens
    // count/sum = Σ per-wave stats — integer-valued doubles below
    // 2^53 (spec-pinned by WaveCompactionSpec's bit-identical serve).
    def survivors(name: String) = snap.masked(
      snap(name).drop("batch").localCheckpoint(), "doc_id").localCheckpoint()
    def wv(df: DataFrame, name: String, parts: String*): Unit =
      table(path).write(df, newWave, name, parts)
    val doclens = survivors("doclens")
    val postings = survivors("postings")
    wv(doclens, "doclens")
    wv(postings, "postings", "bucket")
    wv(postings.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df")), "terms")
    wv(doclens.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).cast("double").as("sum_dl")), "stats")
  }

  /** Retention: drop manifest versions below the newest `keepVersions`
    * and every wave dir of the four tables and `tombs` that no surviving
    * version references.
    * @return the deleted wave ids */
  def expire(spark: SparkSession, path: String, keepVersions: Int): Seq[Long] =
    table(path).expire(spark, keepVersions)

  /** The distinct posting buckets a term list touches — the mirror of
    * the build-side pmod(xxhash64(term, 42), termBuckets), computed
    * through Spark so the hash is the engine's own (k-bounded collect). */
  def bucketsOf(lowerTerms: Seq[String], termBuckets: Int): Seq[Int] = {
    val spark = SparkSession.active
    spark.createDataset(lowerTerms)(org.apache.spark.sql.Encoders.STRING)
      .select(pmod(xxhash64(col("value"), lit(42)), lit(termBuckets))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
  }
}
