package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Shared persistence discipline for per-batch accumulated dedup state —
  * the single-table [[graft.model.WaveTable]] wave layout (`""` = waves
  * directly under the root) that
  * [[StreamingNearDup]] (minhash survivor index) and
  * [[FingerprintDedupStream]] (63-bit fingerprint index) both ride, so
  * the snapshot/compaction/retention contract cannot diverge between
  * the text and media ingestion faces:
  *
  *   - each batch's rows land as their own `batch=<eff>` partition via
  *     dynamic partition overwrite (at-least-once replay rewrites its
  *     own partitions, never double-appends), manifest commit AFTER the
  *     data — a crash in between leaves an invisible wave the replay
  *     overwrites;
  *   - readers resolve the manifest pointer ONCE at plan time
  *     ([[graft.model.WaveTable.read]]) — a batch committing mid-read
  *     is invisible;
  *   - [[graft.model.WaveTable.compactRows]] collapses the pinned waves
  *     into one compaction-space wave with the `#through=` watermark
  *     burning the absorbed batch ids; [[graft.model.WaveTable.expire]]
  *     reclaims unreferenced waves;
  *   - run-scoped base offsets ([[resolveBase]]) map each streaming
  *     query's restarting epoch ids past everything already indexed —
  *     and past the compaction watermark, so absorbed ids stay burned
  *     after their dirs are expired.
  *
  * Pre-manifest indexes (legacy dirs) keep working: reads fall back to
  * the `batch=` dir listing, and the FIRST manifest commit over such an
  * index seeds the pinned set with every legacy dir
  * ([[commitAndMaybeCompact]]) so upgrading never hides the
  * accumulated corpus.
  */
private[streaming] object DedupState {

  private val MarkerName = "_run_base"
  private val BatchDir = "batch=(\\d+)".r

  private def fileSystem(spark: SparkSession,
      path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Stream-space batch ids already present in the index (Hadoop FS
    * glob, so HDFS/S3 paths work — a java.nio probe would silently
    * report "no index" there and disable cross-batch dedup).
    * Compaction-space waves are excluded: they are rewrites of absorbed
    * batches, not ids a new run may base itself past. */
  def existingBatches(spark: SparkSession, indexPath: String): Seq[Long] = {
    val (fs, root) = fileSystem(spark, indexPath)
    if (!fs.exists(root)) Seq.empty
    else fs.globStatus(new Path(root, "batch=*")) match {
      case null => Seq.empty
      case st => st.toSeq.map(_.getPath.getName).collect {
        case BatchDir(n) => n.toLong
      }.filter(_ < graft.model.WaveManifest.CompactBase)
    }
  }

  private def readMarker(fs: FileSystem, marker: Path): Map[String, Long] =
    if (!fs.exists(marker)) Map.empty
    else {
      val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
      val in = fs.open(marker)
      try in.readFully(0, buf)
      finally in.close()
      new String(buf, StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).map { line =>
          val Array(qid, base) = line.split("\t", 2)
          qid -> base.toLong
        }.toMap
    }

  private def writeMarker(fs: FileSystem, marker: Path,
      entries: Map[String, Long]): Unit = {
    val out = fs.create(marker, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (q, b) => s"$q\t$b" }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Resolve the run-scoped base offset for a streaming query: a
    * queryId already in the `_run_base` marker keeps its recorded base
    * (checkpoint restart — epoch ids continue / replay correctly); an
    * unseen queryId is assigned one past every existing stream-space
    * dir AND past the compaction watermark (after compact + expire the
    * absorbed dirs are gone, but their ids must stay burned or a new
    * run's batches would be skipped as absorbed replays). The marker is
    * underscore-prefixed, so parquet partition discovery ignores it.
    * Single-writer (one ingest stream per index), like the index. */
  def resolveBase(spark: SparkSession, indexPath: String,
      queryId: String): Long =
    resolveBaseWith(spark, indexPath, queryId, storeRunBase(spark, indexPath))

  /** [[resolveBase]]'s fresh base: one past every stream-space `batch=`
    * dir and the compaction watermark. */
  def storeRunBase(spark: SparkSession, indexPath: String): Long =
    math.max(existingBatches(spark, indexPath).foldLeft(-1L)(math.max),
      graft.model.WaveManifest.compactedThrough(spark, indexPath)) + 1L

  /** [[resolveBase]]'s marker discipline with the fresh-base rule
    * injected — the single-table rule above globs root `batch=` dirs,
    * which multi-table wave indexes (postings under per-table subdirs)
    * and weight-chain stores (base = LATEST wave, not one past) cannot
    * use. `fresh` is evaluated at most once, only for an unseen
    * queryId. */
  def resolveBaseWith(spark: SparkSession, indexPath: String,
      queryId: String, fresh: => Long): Long = {
    val (fs, root) = fileSystem(spark, indexPath)
    val marker = new Path(root, MarkerName)
    val entries = readMarker(fs, marker)
    entries.getOrElse(queryId, {
      val base = fresh
      writeMarker(fs, marker, entries + (queryId -> base))
      base
    })
  }

  /** Highest pinned STREAM-space wave, −1 when none — the fresh-base
    * floor for manifest-backed indexes whose `batch=` dirs live under
    * per-table subdirs (nothing to glob at the root). */
  def maxPinnedStreamWave(spark: SparkSession, path: String): Long =
    graft.model.WaveManifest.pinned(spark, path)
      .map(_.filter(_ < graft.model.WaveManifest.CompactBase)
        .foldLeft(-1L)(math.max))
      .getOrElse(-1L)

  /** Fresh run base in EPOCH-ID space for the manifest-backed index
    * streams (their wave = base + epochId + 1): one slot past every
    * pinned stream-space wave and past the compaction watermark,
    * floored at 0 so a first run over a [[graft.ext.PostingIndex
    * .build]]-created index still starts at wave 1 (wave 0 is the
    * build's). Without this, a SECOND stream run with a fresh
    * checkpoint restarts epoch ids at 0 and its dynamic overwrite of
    * `batch=1..n` silently clobbers the first run's waves. */
  def indexRunBase(spark: SparkSession, path: String): Long =
    math.max(0L, math.max(maxPinnedStreamWave(spark, path),
      graft.model.WaveManifest.compactedThrough(spark, path)))

  /** True when a compaction already ABSORBED this batch id — the replay
    * must be a complete no-op (its rows live in the compacted wave, and
    * downstream already received its output when it first committed). */
  def absorbed(spark: SparkSession, indexPath: String, eff: Long): Boolean =
    eff <= graft.model.WaveManifest.compactedThrough(spark, indexPath)

  /** The corpus frame batch `eff` may probe, None when no wave
    * qualifies (first batch of a fresh index): the PINNED manifest
    * snapshot restricted to stream waves strictly below `eff` (so a
    * retry — for which this or a LATER batch's dir may already exist —
    * computes against the same corpus state as the first attempt) plus
    * every compaction wave (a compacted wave only ever absorbs batches
    * below the watermark, which the [[absorbed]] guard proved is below
    * `eff`). Manifest-less legacy index: dir listing. */
  private def corpusFor(spark: SparkSession, indexPath: String,
      eff: Long): Option[DataFrame] = {
    val waves = graft.model.WaveManifest.pinned(spark, indexPath)
      .map(_.filter(w =>
        w < eff || w >= graft.model.WaveManifest.CompactBase))
      .getOrElse(existingBatches(spark, indexPath).filter(_ < eff))
    Option.when(waves.nonEmpty)(
      graft.model.WaveTable(indexPath).read(spark, Some(waves))())
  }

  /** Data landed for `eff` — make it visible (skipped on a replay of an
    * already-pinned wave), then auto-compact if the pinned wave count
    * reached `compactEvery` (> 0; same foreachBatch thread — the
    * compactor never races ingest). The compaction carries rows as a
    * pure union by default (dedup-index rows are disjoint across waves:
    * each doc entered exactly one batch); a store whose read face
    * AGGREGATES across waves (the Count-Min cell tables, where (i, j)
    * rows repeat per batch and serving sums them) passes `reduce` to
    * merge rows in the rewrite — the answer is unchanged either way (the
    * serve-side aggregate is associative), the compacted wave minimal.
    *
    * Legacy migration: when NO manifest exists yet, the first commit
    * seeds the pinned set with every pre-manifest `batch=` dir, not
    * just `eff` — a manifest pinning only the new wave would hide the
    * accumulated corpus from [[corpusWaves]] and the pinned serve from
    * the next batch on, silently disabling cross-batch dedup against
    * every legacy survivor. */
  def commitAndMaybeCompact(spark: SparkSession, indexPath: String,
      eff: Long, compactEvery: Int,
      reduce: DataFrame => DataFrame = identity): Unit = {
    if (graft.model.WaveManifest.latestVersion(spark, indexPath).isEmpty) {
      val legacy = existingBatches(spark, indexPath).filterNot(_ == eff)
      if (legacy.nonEmpty) {
        graft.model.WaveManifest.commit(spark, indexPath, legacy :+ eff)
        ()
      } else graft.model.WaveManifest.commitWave(spark, indexPath, eff)
    } else graft.model.WaveManifest.commitWave(spark, indexPath, eff)
    val store = graft.model.WaveTable(indexPath)
    if (store.compactDue(spark, compactEvery)) {
      store.compactRows(spark, reduce = reduce)
      ()
    }
  }

  /** The shared drop policy on oriented (doc_a < doc_b) near-dup pairs:
    * a batch doc drops when it is the LARGER side of any pair (its
    * partner — indexed or in-batch — has a smaller id), or when it is
    * the smaller side of a pair whose larger side is an INDEXED doc.
    * The greedy keep-min rule applied per batch — conservative on
    * in-batch chains, the right bias for an ingest filter; exact
    * cluster-level keep-one remains the batch operators' job. */
  private def droppedIds(pairs: DataFrame, batchIdx: DataFrame,
      idCol: String): DataFrame = {
    val batchIds = batchIdx.select(col(idCol))
    val dropA = pairs.join(batchIds.withColumnRenamed(idCol, "doc_b"),
      Seq("doc_b"), "left_anti")
      .select(col("doc_a").as(idCol))
    val dropB = pairs.select(col("doc_b").as(idCol))
      .join(batchIds, Seq(idCol), "left_semi")
    dropA.unionByName(dropB).distinct()
  }

  /** The near-dup ingest cycle of [[StreamingNearDup]] (text minhash)
    * and [[FingerprintDedupStream]] (63-bit media fingerprints), written
    * once. A face supplies only what differs: `index` builds a batch's
    * index rows (`idCol` + what `pairs` reads; the ONE pass over the raw
    * batch), `pairs` is its incremental pair generator (corpus index,
    * batch index) → oriented pairs, and `indexable` marks the index rows
    * that may pair and enter the corpus.
    *
    * State lives in the index parquet, NOT the Spark state store: the
    * stream is restartable from the files alone, survivors accumulate
    * across runs, and a batch compaction pass can rewrite the index
    * without touching the stream — the same per-run-upsert vs
    * periodic-GC split as the reference's ingestion (§2.10). */
  final case class NearDup(idCol: String, index: DataFrame => DataFrame,
      pairs: (DataFrame, DataFrame) => DataFrame, indexable: Column) {

    private def probe(corpusIdx: DataFrame, batchIdx: DataFrame) =
      pairs(corpusIdx.filter(indexable), batchIdx.filter(indexable))

    /** BATCH face: the rows of `batch` that survive [[ingest]]'s drop
      * policy against a prebuilt corpus index. */
    def filterBatch(corpusIdx: DataFrame, batch: DataFrame): DataFrame = {
      val batchIdx = index(batch).localCheckpoint()
      batch.join(droppedIds(probe(corpusIdx, batchIdx), batchIdx, idCol),
        Seq(idCol), "left_anti")
    }

    /** One micro-batch at its run-scoped EFFECTIVE id `eff`: a no-op
      * when a compaction absorbed it; else build the batch index
      * (checkpointed), await `gate`, probe the pinned corpus
      * ([[corpusFor]]), drop per keep-min ([[droppedIds]]), land the
      * survivors' indexable rows as `batch=<eff>` concurrently with the
      * sinks, then commit and auto-compact at `compactEvery`. Idempotent
      * under replay with the same `eff`; rows outside `indexable`
      * survive the filter but never enter the corpus state.
      *
      * `gate` (the caller's batch-level admission audit, e.g. the
      * QualityGate) runs CONCURRENTLY with the index build and is
      * awaited before the corpus probe and any write — a refused batch
      * costs one wasted index job and touches neither index. */
    def ingest(batch: DataFrame, indexPath: String, eff: Long,
        onSurvivors: (DataFrame, Long) => Unit,
        onDuplicates: (DataFrame, Long) => Unit,
        compactEvery: Int, gate: () => Boolean): Unit = {
      val spark = batch.sparkSession
      if (absorbed(spark, indexPath, eff)) return
      // a malformed batch the audit is about to refuse can CRASH the
      // index build first. Await the gate on failure: a
      // refused batch still routes to quarantine (return false-path)
      // instead of killing the stream; a gate-PASSING batch's index
      // failure is a real error and rethrows.
      val batchIdx = try index(batch).localCheckpoint() catch {
        case scala.util.control.NonFatal(e) => if (gate()) throw e else return
      }
      if (!gate()) return
      val corpusIdx = corpusFor(spark, indexPath, eff)
        .getOrElse(batchIdx.limit(0))
      val pairs = probe(corpusIdx, batchIdx).localCheckpoint()
      val drop = droppedIds(pairs, batchIdx, idCol)
      val survivors = batch.join(drop, Seq(idCol), "left_anti")
      val survivorIdx = batchIdx.filter(indexable)
        .join(drop, Seq(idCol), "left_anti")
      // land the survivor-index wave CONCURRENTLY with the sinks: the
      // sinks read `survivors`/`pairs`, which derive from
      // the checkpointed batch/pairs frames, not from the index write —
      // the two index families' waves are independent until each one's
      // own manifest commit, and every crash interleaving (neither /
      // either / both landed) is repaired by the at-least-once replay
      // rewriting both waves byte-identically under the same eff.
      graft.model.ConcurrentJobs.awaitAll(
        () => {
          graft.model.WaveTable(indexPath).write(survivorIdx, eff)
          commitAndMaybeCompact(spark, indexPath, eff, compactEvery)
        },
        () => {
          onDuplicates(pairs, eff)
          onSurvivors(survivors, eff)
        })
    }

    /** The streaming face: [[ingest]] every micro-batch with rows under
      * the run-scoped base (resolved on the run's first non-empty batch).
      * @param indexPath    index location (created on first batch if absent)
      * @param onSurvivors  (survivingRows, effectiveBatchId) sink
      * @param onDuplicates (pairs, effectiveBatchId) sink — the near-dup
      *                     evidence for every dropped doc
      * @param compactEvery > 0 auto-compacts whenever the pinned wave
      *                     count reaches it (same foreachBatch thread —
      *                     the compactor never races ingest) */
    def stream(docs: DataFrame, indexPath: String, trigger: Trigger,
        onSurvivors: (DataFrame, Long) => Unit,
        onDuplicates: (DataFrame, Long) => Unit,
        compactEvery: Int): DataStreamWriter[Row] =
      WaveStream.eachBatch(docs, indexPath, trigger) { (batch, eff) =>
        ingest(batch, indexPath, eff, onSurvivors, onDuplicates,
          compactEvery, () => true)
      }
  }

  /** The serve and lifecycle faces both near-dup indexes share. */
  trait IndexFaces {

    /** The index as a PINNED SNAPSHOT — the serve face for external
      * readers; `pin` overrides the pointer for time travel. */
    def index(spark: SparkSession, indexPath: String,
        pin: Option[Seq[Long]] = None): DataFrame =
      graft.model.WaveTable(indexPath).read(spark, pin)()

    /** Collapse the pinned waves into ONE compaction-space wave (returned)
      * — index rows are disjoint across waves (each doc survived exactly
      * one batch), so every later probe sees the identical corpus. */
    def compact(spark: SparkSession, indexPath: String): Long =
      graft.model.WaveTable(indexPath).compactRows(spark)

    /** Retention: reclaim every wave dir no manifest version references. */
    def expire(spark: SparkSession, indexPath: String,
        keepVersions: Int): Seq[Long] =
      graft.model.WaveTable(indexPath).expire(spark, keepVersions)
  }

  /** The streaming query id Spark sets on the foreachBatch execution
    * thread — the stable key [[resolveBase]] maps to a base offset. */
  def queryId(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("unkeyed")
}
