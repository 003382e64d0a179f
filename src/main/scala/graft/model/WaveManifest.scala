package graft.model

import org.apache.spark.sql.SparkSession

/** Snapshot manifest for wave-layout stores — every wave store goes
  * through [[WaveTable]], the one API over this manifest. It is the
  * isolation piece their raw `batch=<wave>` parquet dirs cannot provide
  * on their own: a serve that scans "whatever partitions exist" can
  * catch a wave mid-commit and mix pre/post-append state across its
  * table scans.
  *
  * The [[GraphStorage]] versioned-snapshot discipline, specialized to
  * wave sets: every commit writes an IMMUTABLE `_manifest/v=<n>` file
  * listing the COMPLETE wave ids of one index snapshot; the highest
  * committed version IS the latest snapshot. A reader resolves that
  * ONCE (driver-side, at plan/load time) and filters every table scan to
  * `batch IN (pinned waves)` — partition pruning makes the filter free,
  * and waves are immutable once committed (the only rewrite of a
  * committed wave is an at-least-once replay writing IDENTICAL content),
  * so the pinned read is a consistent snapshot no matter how many waves
  * land while the query runs.
  *
  * Write protocol (single-committer, like GraphStorage): data wave first,
  * manifest after — a crash between the two leaves an unpinned wave that
  * no reader sees and the replay overwrites. Manifest files are
  * tmp-write + rename so a reader never observes a half-written list,
  * and the no-overwrite rename of `v=<n>` is BOTH the compare-and-swap
  * and the visibility event: "latest" is simply the highest committed
  * version file. There is deliberately NO mutable pointer file — the
  * original `_latest` flip went through Hadoop's overwrite-rename,
  * which on the local FS is delete-then-rename, so a reader racing a
  * flip saw NO pointer at all, resolved `pinned = None`, and fell back
  * to scan-every-wave — mixing absorbed waves with their compaction
  * rewrites (the round-15 WaveRaceSpec failure: a hammer repro read
  * the pointer as absent in 81% of reads during a commit storm).
  * Deriving latest from the immutable version files closes the window
  * structurally: version files only ever APPEAR, atomically.
  *
  * Absent manifest = legacy/quiesced index: readers fall back to
  * scanning every wave, the pre-manifest behavior.
  *
  * == Filesystem contract (cross-process atomicity) ==
  * Both commit primitives — the version-file CAS and the compaction
  * claim — reduce to ONE requirement: a manifest file must APPEAR
  * atomically and EXCLUSIVELY (exactly one of N racing creators of the
  * same name succeeds; a loser must observe the winner's file). That
  * requirement is a SEAM, [[ManifestPublish]], resolved per filesystem
  * scheme (review r17 #1 — it used to be an inline local-vs-everything
  * branch that silently degraded unknown backends to check-then-rename):
  *  - '''Local FS''' (single host, many JVMs): [[LinkPublish]] — hard
  *    LINK of a fully-written staging file; link(2) is atomic and
  *    fails EEXIST, where Hadoop's local rename is a non-atomic
  *    dst-exists check over an OVERWRITING rename(2). Same-JVM racers
  *    are additionally serialized by the per-root [[casLocks]]
  *    monitor. Exercised end-to-end by the forked two-JVM
  *    `MultiProcessManifestSpec` hammer.
  *  - '''HDFS''' family: [[RenamePublish]] — staging write +
  *    no-overwrite rename, atomic by the FileSystem contract.
  *  - '''Object stores''' (S3/GCS/ABFS): rename is copy+delete and a
  *    blind PUT is last-writer-wins — NEITHER is exclusive. Commits
  *    REFUSE (loud `UnsupportedCommitBackendException`) unless the
  *    deployment registers a [[ConditionalPutPublish]] over the
  *    store's conditional put (S3 `If-None-Match: *`, GCS
  *    `ifGenerationMatch=0`, Azure `If-None-Match: *`) — the same
  *    storm spec runs green against the conditional-put contract fake
  *    ([[EmulatedConditionalPut]]). Data waves are safe regardless
  *    (immutable dirs, never renamed) — the conditional-put
  *    requirement is ONLY for the tiny `_manifest` files.
  *  - '''Unknown schemes''': fail fast, same exception — never the
  *    silent check-then-rename the r17 negative control showed losing
  *    2 commits in 5.
  *
  * == Retention vs outstanding pins ==
  * [[expire]] reclaims versions below the `keepVersions` floor and
  * every wave dir no surviving version references. A reader still
  * PINNED to a reclaimed snapshot — a serve outliving the retention
  * window, or an explicit time-travel pin — fails its next read with
  * [[ExpiredUnderPinException]], loudly and immediately; it can never
  * silently serve the partial row set the surviving dirs would give
  * (the guard distinguishes a tombstone-only wave legitimately absent
  * from ONE table from a wave absent from EVERY surviving version).
  * Minimum-retention guidance: keep `keepVersions` ≥ the number of
  * commits that can land during your longest-running query PLUS any
  * time-travel window you promise — retention is the only operation
  * that can invalidate a pinned read, so the floor is a serving SLO,
  * not a storage knob. `keepVersions = 1` is safe only when nothing
  * reads concurrently with maintenance.
  */
object WaveManifest {

  /** Floor of the COMPACTION wave-id space. Append/streaming waves live
    * below it (batch-face writers must `require(wave < CompactBase)`);
    * compaction rewrites allocate ids at or above it
    * ([[nextCompactionWave]]). The spaces MUST be disjoint: a compacted
    * wave that took `pinned.max + 1` sat exactly on the NEXT micro-batch's
    * id — that batch's dynamic partition overwrite then replaced the
    * compacted wave's partitions (tables partitioned by batch alone lose
    * every pre-compaction row) while its manifest commit silently skipped
    * because the wave was already pinned (review r12, high). With the
    * split, a streaming id can never name a compacted wave.
    * [[compactedThrough]] stays meaningful because it tracks only the
    * STREAM-space ids a compaction absorbed (compaction waves absorbed by
    * a later compaction never raise it). */
  val CompactBase: Long = 1L << 60

  /** The next free compaction-space wave id given the currently pinned
    * set: one past the highest pinned compaction wave, or [[CompactBase]]
    * for a first compaction. Fresh across the whole version history, not
    * just the pinned set — each compaction's id is strictly greater than
    * every earlier one's, and the latest compaction wave stays pinned
    * until the next compaction (or a rebuild, which statically overwrites
    * all waves anyway). Single-compactor arithmetic — RACING compactors
    * must go through [[claimCompactionWave]], which makes this id merely
    * the starting bid. */
  def nextCompactionWave(pinnedWaves: Seq[Long]): Long =
    pinnedWaves.filter(_ >= CompactBase)
      .reduceOption(_ max _).map(_ + 1L).getOrElse(CompactBase)

  private val ClaimFile = "^\\.claim_w=(\\d+)$".r

  /** Atomically claim a UNIQUE compaction wave id: two compactors pinned
    * to the same snapshot would compute the same [[nextCompactionWave]]
    * and dynamic-partition-overwrite each other's rewrite mid-flight —
    * the one corruption the CAS'd commit cannot catch, because it
    * happens in the DATA, before any manifest write. The claim is an
    * exclusive-create marker file (`_manifest/.claim_w=<id>`): the
    * loser bids `id+1`. A claimed-but-abandoned id must stay burned
    * while its marker exists, or a later compactor could claim it and
    * collide with the orphan's leftover `batch=` dirs.
    *
    * O(1), not a linear probe (review r15 #5): ONE listing finds the
    * highest burned id and the bid starts past it — 100 abandoned
    * claims cost one extra listing entry each, not 100 failed creates.
    * [[expire]] reclaims markers at or below the pinned compaction
    * watermark (bids always start past the pinned max, which only
    * grows, so a reclaimed id can never be re-bid).
    *
    * Atomicity (advice r15, medium): claim markers publish through the
    * same per-backend [[ManifestPublish]] seam as version files (on
    * the local FS Hadoop's `create(overwrite=false)` is a non-atomic
    * exists-check + truncating open — the seam's link/conditional-put
    * primitives are what make cross-JVM claims exclusive); same-JVM
    * racers are additionally serialized by the per-root [[casLocks]]
    * monitor (the realistic race: two streaming queries on one
    * driver). */
  def claimCompactionWave(spark: SparkSession, root: String,
      pinnedWaves: Seq[Long]): Long = {
    val f = fs(spark, root)
    val d = new org.apache.hadoop.fs.Path(dir(root))
    if (!f.exists(d)) f.mkdirs(d)
    val lock = casLocks.computeIfAbsent(root, _ => new Object)
    lock.synchronized {
      val burnedMax = f.listStatus(d).toSeq.map(_.getPath.getName)
        .collect { case ClaimFile(n) => n.toLong }
        .reduceOption(_ max _).getOrElse(CompactBase - 1L)
      var id = math.max(nextCompactionWave(pinnedWaves), burnedMax + 1L)
      while (true) {
        val p = new org.apache.hadoop.fs.Path(d, s".claim_w=$id")
        if (ManifestPublish.forFs(f).writeExclusive(f, p,
            id.toString.getBytes("UTF-8"))) return id
        id += 1L // cross-JVM racer claimed it between listing and create
      }
      -1L // unreachable
    }
  }

  /** The `#through=` watermark a compaction of `pinnedWaves` must record:
    * the highest absorbed STREAM-space id, floored at the prior watermark
    * (a compaction-only pinned set — e.g. compact twice in a row — must
    * not regress coverage to −1 and reopen absorbed ids). */
  def throughAfterCompaction(pinnedWaves: Seq[Long], prior: Long): Long =
    math.max(pinnedWaves.filter(_ < CompactBase)
      .reduceOption(_ max _).getOrElse(-1L), prior)

  // RAW (checksum-free) filesystem for every manifest file operation:
  // on a ChecksumFileSystem (the local FS), each file carries a .crc
  // sidecar, so a version file's "atomic" rename is really TWO
  // renames — a reader racing it can pair one writer's bytes with
  // another's sidecar and die on ChecksumException (surfaced by
  // WaveRaceSpec's vector race). Manifest files are
  // tiny, rewritten whole, and content-checked by the CAS protocol
  // itself; dropping the sidecar makes the data rename the single
  // atomic unit. HDFS/object stores are not ChecksumFileSystems and
  // pass through unchanged.
  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  /** Read EXACTLY the `batch=<w>` dirs of `waves` under `root/<table>`
    * ("" = waves directly under the root) — the pinned-serve read path.
    * Explicit immutable dirs instead of a table-root scan: Spark's
    * recursive partition discovery lists EVERYTHING under the root
    * before any pruning filter runs, so a root scan races every
    * transient child — a superseded compactor deleting its orphan
    * `batch=<claimed>` dir, or [[expire]] reclaiming an unreferenced
    * wave — and dies with FileNotFoundException inside
    * `HadoopFSUtils.listLeafFiles` (the round-16 WaveRaceSpec
    * compactor-race failure). Committed waves are immutable and
    * referenced dirs are never deleted (expire keeps every wave a
    * surviving version names), so listing only them closes the window
    * structurally. The pinned set is intersected with the table's
    * EXISTING `batch=` children (one non-recursive listing — safe
    * against concurrently vanishing entries): a pinned wave may
    * legitimately have no dir in a given table (a tombstone-only wave
    * lands nothing in the four main posting tables and vice versa) —
    * the same semantics the old root-scan + isin filter gave missing
    * partitions. `basePath` keeps the `batch` partition column in the
    * schema. */
  def readWaves(spark: SparkSession, root: String, table: String,
      waves: Seq[Long]): org.apache.spark.sql.DataFrame = {
    require(waves.nonEmpty, s"readWaves needs at least one wave ($root)")
    val base = if (table.isEmpty) root else s"$root/$table"
    val hit = existingOf(spark, base, waves)
    val missing = waves.filterNot(hit.toSet)
    if (missing.nonEmpty) assertNotExpired(spark, root, base, missing)
    require(hit.nonEmpty,
      s"none of the pinned waves ${waves.sorted.mkString(",")} has " +
        s"landed under $base — corrupted index or expired-under-pin")
    spark.read.option("basePath", base)
      .parquet(hit.map(w => s"$base/batch=$w"): _*)
  }

  /** A pinned read raced RETENTION: (some of) the waves this reader
    * pinned were reclaimed by [[expire]] after the pin was resolved —
    * a long-running serve outliving the retention window, or an
    * explicit time-travel pin below the retention floor. The read
    * fails here, loudly and immediately, instead of returning the
    * silent PARTIAL result the surviving dirs would produce. Recovery:
    * re-resolve [[pinned]] (the current snapshot always survives
    * expire) — and size `keepVersions` so this cannot happen to
    * legitimate readers (class doc, retention guidance). */
  final class ExpiredUnderPinException(msg: String)
    extends java.io.IOException(msg)

  /** Distinguish the two reasons a pinned wave can have no `batch=`
    * dir in a table: LEGAL absence (a committed wave that landed
    * nothing in this particular table — tombstone-only waves, empty
    * micro-batches — is still referenced by a live manifest version)
    * vs EXPIRY (the wave is referenced by NO surviving version:
    * [[expire]] reclaimed it, and serving the remaining dirs would be
    * a silent partial read). Loud throw on the latter. Skipped for
    * manifest-less legacy roots (nothing ever expires there). During
    * an IN-FLIGHT expire (data dirs deleted, version files not yet)
    * a racing reader can still see the wave as referenced — the
    * guarantee is deterministic once expire returns, same
    * single-committer maintenance contract as expire itself. */
  private def assertNotExpired(spark: SparkSession, root: String,
      base: String, missing: Seq[Long]): Unit = {
    val vs = versions(spark, root)
    if (vs.isEmpty) return // legacy/manifest-less: no retention to race
    // fast path (advice r17): tombstone-only/side-table absence — the
    // COMMON legitimate case on serve paths — usually resolves against
    // the newest version alone (commitWave only adds stream-space
    // waves, so the latest set covers every recently committed one);
    // one version read instead of O(keepVersions)
    val newest =
      try wavesAt(spark, root, vs.last).toSet
      catch { case _: Exception => Set.empty[Long] }
    if (missing.forall(newest.contains)) return
    // slow path: union the full surviving history, memoized per
    // (root, version listing) — version files are immutable once
    // published and the cache key changes whenever expire reclaims
    // one, so a hit can never report a reclaimed wave as live
    val live = liveWavesCached(spark, root, vs)
    val dead = missing.filterNot(live.contains)
    if (dead.nonEmpty)
      throw new ExpiredUnderPinException(
        s"pinned wave(s) ${dead.sorted.mkString(",")} under $base are " +
          "referenced by no surviving manifest version — retention " +
          "(WaveManifest.expire) reclaimed them while this reader held " +
          "the pin. Refusing the silent partial read; re-resolve the " +
          "current snapshot, and raise keepVersions to cover your " +
          "longest-running reads")
  }

  // memo of the union live-wave set per (root, surviving version
  // listing): version files are IMMUTABLE once published, so the set
  // is a pure function of which version files exist — expire changes
  // the listing and thereby the key, so a hit can never resurrect a
  // reclaimed wave. Bounded: serve paths touch a handful of roots.
  private val liveWavesMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[Long]), Set[Long]]()

  private def liveWavesCached(spark: SparkSession, root: String,
      vs: Seq[Long]): Set[Long] = {
    if (liveWavesMemo.size > 256) liveWavesMemo.clear()
    val cached = liveWavesMemo.get((root, vs))
    if (cached != null) return cached
    var clean = true
    val live = vs.flatMap { v =>
      // a version file may be reclaimed between the listing and this
      // read — an empty contribution is then a pure function of the
      // (now stale) key and safe to memoize
      try wavesAt(spark, root, v)
      catch {
        case _: java.io.FileNotFoundException => Seq.empty[Long]
        // a TRANSIENT read error must never be memoized: a poisoned
        // entry would turn one IO hiccup into a persistent spurious
        // ExpiredUnderPinException until the version listing changes
        // (review r18) — answer from what IS readable, recompute next
        // call (the pre-memo self-healing behavior)
        case scala.util.control.NonFatal(_) =>
          clean = false; Seq.empty[Long]
      }
    }.toSet
    if (clean) liveWavesMemo.put((root, vs), live)
    live
  }

  /** The subset of `waves` whose `batch=<w>` dir exists under `base`
    * (input order preserved). */
  private def existingOf(spark: SparkSession, base: String,
      waves: Seq[Long]): Seq[Long] = {
    val hp = new org.apache.hadoop.fs.Path(base)
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(hp)) Seq.empty
    else {
      val existing = f.listStatus(hp).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("batch=") =>
          n.stripPrefix("batch=").toLong }.toSet
      waves.filter(existing.contains)
    }
  }

  /** [[sideTable]] pinned to `waves`: the table's EXISTING `batch=`
    * children (one non-recursive listing — safe against concurrently
    * vanishing entries) intersected with the pinned set, read as
    * explicit dirs. None when the table is absent or no pinned wave
    * has landed in it. `waves = None` = legacy scan-all. */
  def sideTableWaves(spark: SparkSession, root: String, table: String,
      waves: Option[Seq[Long]]): Option[org.apache.spark.sql.DataFrame] =
    waves match {
      case None => sideTable(spark, root, table)
      case Some(ws) =>
        val hit = existingOf(spark, s"$root/$table", ws)
        if (hit.isEmpty) None
        else Some(readWaves(spark, root, table, hit))
    }

  /** An OPTIONAL wave-partitioned side table under `root/<table>` (the
    * tombstone tables of the delete faces): Some(frame) only when the
    * dir exists AND still holds at least one `batch=` wave — existence
    * goes through the Hadoop FS of the path (a java.io check silently
    * ignores the table on any non-local filesystem), and a dir emptied
    * by [[expire]] reads as absent rather than failing schema
    * inference. */
  def sideTable(spark: SparkSession, root: String,
      table: String): Option[org.apache.spark.sql.DataFrame] = {
    val hp = new org.apache.hadoop.fs.Path(s"$root/$table")
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(hp) &&
        f.listStatus(hp).exists(_.getPath.getName.startsWith("batch=")))
      Some(spark.read.parquet(s"$root/$table"))
    else None
  }

  private def dir(root: String) = s"$root/_manifest"

  private val VersionFile = "^v=(\\d+)$".r

  /** Every committed manifest version, ascending. Only `v=<digits>`
    * names count (stray editor droppings must not brick the index). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir(root))
    val f = fs(spark, root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case VersionFile(n) => n.toLong }.sorted
  }

  private def readFile(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** The latest committed version, if any commit ever completed: the
    * HIGHEST `v=<n>` file. Version files are immutable and appear
    * atomically (no-overwrite rename), so this read has no in-between
    * state — unlike the retired `_latest` pointer file, whose
    * overwrite-rename flip on the local FS was delete-then-rename and
    * transiently read as ABSENT mid-commit (the round-15 mixed-serve
    * race: `pinned` fell back to scan-all). */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** The wave ids of one committed version, sorted ascending
    * (`#`-prefixed marker lines — the compaction coverage record — are
    * not waves). */
  def wavesAt(spark: SparkSession, root: String, version: Long): Seq[Long] = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(dir(root), s"v=$version")
    require(f.exists(p), s"no manifest version $version under ${dir(root)}")
    val body = readFile(f, p)
    if (body.isEmpty) Seq.empty
    else body.split("\\s+").toSeq.filterNot(s => s.isEmpty || s.startsWith("#"))
      .map(_.toLong).sorted
  }

  /** The highest wave id a compaction has ABSORBED, per the latest
    * version's `#through=<n>` marker; −1 when never compacted. A wave
    * id at or below this is already inside a compacted wave — an
    * at-least-once REPLAY of it must be skipped, not re-committed (the
    * double-count hazard: its docs would live in both the compacted
    * wave and the re-landed one). */
  def compactedThrough(spark: SparkSession, root: String): Long =
    latestVersion(spark, root) match {
      case None => -1L
      case Some(v) =>
        val f = fs(spark, root)
        val p = new org.apache.hadoop.fs.Path(dir(root), s"v=$v")
        readFile(f, p).split("\\s+").toSeq
          .collectFirst { case s if s.startsWith("#through=") =>
            s.stripPrefix("#through=").toLong }
          .getOrElse(-1L)
    }

  /** The CURRENT snapshot's wave set — resolve once per plan/load and
    * pin; None when the index has no manifest (legacy layout). */
  def pinned(spark: SparkSession, root: String): Option[Seq[Long]] =
    latestVersion(spark, root).map(wavesAt(spark, root, _))

  /** Loud signal that another committer won the version CAS: the wave
    * set this commit was derived from is stale. Re-read the manifest
    * and retry ([[commitWave]] does) — never force the write through. */
  final class ConcurrentCommitException(msg: String)
    extends java.io.IOException(msg)

  /** A racing compaction absorbed (some of) this compaction's input
    * waves first: retrying the COMMIT can never help — the rewrite
    * itself is stale (it read waves that no longer exist in any current
    * snapshot, and committing it would double-count their rows next to
    * the winner's wave). The whole compaction must redo from fresh
    * pinned state ([[runCompaction]] does, bounded). */
  final class CompactionSupersededException(msg: String)
    extends java.io.IOException(msg)

  /** Commit `waves` as the next snapshot version and flip the pointer;
    * returns the new version number. Call AFTER the wave's data write
    * completes — the manifest is the only thing that makes a wave
    * visible. `through` records the highest ABSORBED wave id as a
    * `#through=` marker, so replays of absorbed waves are
    * refused/skipped downstream: None carries the prior version's
    * marker forward (append commits), Some(n) sets it explicitly —
    * compactions pass Some(absorbed max), a full rebuild passes
    * Some(-1) to RESET coverage (fresh index, all ids legal).
    *
    * Reads the current pointer as its CAS base — callers whose wave
    * set derives from an EARLIER read should use [[commitBasedOn]]
    * with that read's version so a racing commit in between fails
    * loudly instead of silently dropping the other writer's waves. */
  def commit(spark: SparkSession, root: String, waves: Seq[Long],
      through: Option[Long] = None): Long =
    commitBasedOn(spark, root, waves, through, latestVersion(spark, root))

  /** [[commit]] with OPTIMISTIC CONCURRENCY: the new version number is
    * exactly `basedOn + 1`, and the atomic no-overwrite rename of the
    * version file IS the compare-and-swap — if any other committer
    * produced that version since `basedOn` was read, the rename fails
    * and a [[ConcurrentCommitException]] surfaces the lost-update race
    * the old fresh-listing numbering silently absorbed (review r13 #5:
    * two racing commitWaves each pinned THEIR wave set; the second
    * version dropped the first writer's wave with no error).
    *
    * Crash resume stays idempotent: if `v=<basedOn+1>` already exists
    * WITH BYTE-IDENTICAL CONTENT (an at-least-once replay of the same
    * commit), the commit is a no-op success instead of failing. A
    * reader never observes a mixed wave set either way: version files
    * are immutable once renamed, and renaming one IS the visibility
    * event — there is no separate pointer to flip (see the class doc
    * for why the pointer file was retired). */
  // per-root JVM lock serializing the CAS section: Hadoop's LOCAL
  // FileSystem.rename is check-then-act (two same-JVM racers — e.g.
  // two streaming queries on one Spark driver, the realistic race —
  // could both pass the dst-exists check and POSIX-rename over each
  // other). Cross-JVM safety rides the filesystem's atomic
  // no-overwrite rename (HDFS), the same contract the pointer flip
  // already documents for object stores.
  private val casLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def commitBasedOn(spark: SparkSession, root: String, waves: Seq[Long],
      through: Option[Long], basedOn: Option[Long]): Long = {
    val f = fs(spark, root)
    val d = new org.apache.hadoop.fs.Path(dir(root))
    if (!f.exists(d)) f.mkdirs(d)
    val marker = through.getOrElse(compactedThrough(spark, root))
    val next = basedOn.getOrElse(-1L) + 1
    val body = (if (marker >= 0) Seq(s"#through=$marker") else Nil)
      .++(waves.distinct.sorted.map(_.toString)).mkString("\n")
    val lock = casLocks.computeIfAbsent(root, _ => new Object)
    lock.synchronized {
      // EXCLUSIVE atomic publish via the per-backend seam
      // ([[ManifestPublish]]): a concurrent reader of v=<n> never sees
      // a partial wave list, and exactly ONE of N racing committers —
      // across JVMs, not just threads — wins the name. Backends with
      // no verified exclusive primitive REFUSE here (loud) instead of
      // degrading to check-then-rename (review r17 #1).
      val vfile = new org.apache.hadoop.fs.Path(dir(root), s"v=$next")
      if (!ManifestPublish.forFs(f).writeExclusive(f, vfile,
          body.getBytes("UTF-8"))) {
        val theirs = if (f.exists(vfile)) readFile(f, vfile) else ""
        if (theirs != body)
          throw new ConcurrentCommitException(
            s"manifest CAS failed under $root: v=$next already exists " +
              "with different content — another committer won; re-read " +
              "the manifest and retry")
        // identical content: our own crashed attempt / at-least-once
        // replay — v=next is already committed AND visible (the
        // publish was the visibility event); no-op success
      }
    }
    next
  }

  /** Commit a COMPACTION: replace exactly the `absorbed` waves (the set
    * the rewrite actually read, pinned at `basedOn`) with `newWave`,
    * CAS-retried — a wave another committer landed between the pin and
    * this commit SURVIVES into the new snapshot instead of being
    * silently dropped (advice r14, low: the compact faces derived their
    * wave set from an earlier pinned read but committed via [[commit]],
    * which re-reads the current pointer as its CAS base — the exact
    * lost-update race [[commitBasedOn]] exists to surface). On conflict
    * the retry re-reads the winner's set, keeps its non-absorbed waves,
    * and lands `newWave` on top; the rewrite itself is NOT redone (it
    * covers `absorbed` regardless of what landed since). `through` is
    * the compaction coverage marker ([[throughAfterCompaction]] of the
    * absorbed set). Returns the committed version. */
  def commitCompaction(spark: SparkSession, root: String,
      absorbed: Seq[Long], newWave: Long, through: Long,
      basedOn: Option[Long]): Long = {
    val absorbedSet = absorbed.toSet
    var base = basedOn
    var attempts = 0
    while (true) {
      val cur = base.map(wavesAt(spark, root, _)).getOrElse(Seq.empty)
      // a RACING COMPACTION already absorbed (part of) our input: the
      // rewrite is stale — committing it next to the winner's wave
      // would serve those rows twice. Not retryable at commit level.
      if (!absorbedSet.subsetOf(cur.toSet))
        throw new CompactionSupersededException(
          s"compaction into wave $newWave superseded: absorbed wave(s) " +
            s"${absorbedSet.diff(cur.toSet).toSeq.sorted.mkString(",")} " +
            s"are no longer pinned at version $base — another compaction " +
            "won; redo the rewrite from fresh pinned state")
      val newSet = cur.filterNot(absorbedSet.contains) :+ newWave
      try return commitBasedOn(spark, root, newSet, Some(through), base)
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts >= 32) throw e
          base = latestVersion(spark, root)
      }
    }
    -1L // unreachable
  }

  /** Optimistic-concurrency driver for a whole compaction: pin the
    * current snapshot, CLAIM a unique rewrite wave id
    * ([[claimCompactionWave]] — racing compactors can no longer write
    * into the same `batch=` dirs), run the face's `rewrite`, then
    * [[commitCompaction]]. A loser superseded by a racing compaction
    * deletes its orphan `batch=` dirs (they are referenced by no
    * version, so [[expire]] would never reclaim them) and redoes the
    * whole thing on fresh pinned state — bounded at 3 attempts, which
    * only a pathological compact-storm exceeds. Appends racing the
    * compaction are already safe (their waves survive via the CAS'd
    * commit); this extends the guarantee to compactions racing each
    * other. `tables` are the face's wave-partitioned dirs ("" = waves
    * directly under the root, the [[expire]] convention).
    * @return the committed wave id */
  def runCompaction(spark: SparkSession, root: String, tables: Seq[String])(
      rewrite: (Seq[Long], Long) => Unit): Long = {
    val f = fs(spark, root)
    var attempts = 0
    while (true) {
      val baseV = latestVersion(spark, root)
      val waves = baseV
        .map(wavesAt(spark, root, _))
        .getOrElse(throw new IllegalArgumentException(
          s"no manifest under $root — compact needs a manifest-pinned index"))
      require(waves.nonEmpty, s"manifest under $root pins no waves")
      val newWave = claimCompactionWave(spark, root, waves)
      rewrite(waves, newWave)
      try {
        commitCompaction(spark, root, absorbed = waves, newWave = newWave,
          through = throughAfterCompaction(
            waves, compactedThrough(spark, root)),
          basedOn = baseV)
        return newWave
      } catch {
        case e: CompactionSupersededException =>
          tables.foreach { t =>
            val p = waveDir(root, t, newWave)
            if (f.exists(p)) f.delete(p, true)
          }
          attempts += 1
          if (attempts >= 3) throw e
      }
    }
    -1L // unreachable
  }

  /** Commit `pinned ∪ {wave}` unless `wave` is already pinned OR was
    * absorbed by a compaction ([[compactedThrough]]) — the
    * append/streaming fast path: an at-least-once REPLAY of a committed
    * wave re-writes identical data and must not spin new manifest
    * versions, and a replay of an ABSORBED wave must not re-commit it
    * (its rows already live in the compacted wave — re-pinning would
    * double-count them). Read-modify-write is CAS-protected
    * ([[commitBasedOn]]) and retried on conflict: exactly one of two
    * racing committers wins each version; the loser re-reads the
    * winner's set and lands on top of it — no wave is ever silently
    * dropped. */
  def commitWave(spark: SparkSession, root: String, wave: Long): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      val base = latestVersion(spark, root)
      val cur = base.map(wavesAt(spark, root, _)).getOrElse(Seq.empty)
      if (cur.contains(wave) || wave <= compactedThrough(spark, root))
        done = true
      else {
        try {
          commitBasedOn(spark, root, cur :+ wave, None, base)
          done = true
        } catch {
          case e: ConcurrentCommitException =>
            attempts += 1
            if (attempts >= 32) throw e
        }
      }
    }
  }

  /** Retention: drop manifest versions older than the newest
    * `keepVersions` at-or-below the pointer, then delete every
    * `<table>/batch=<w>` partition dir whose wave is referenced by NO
    * surviving version — the VACUUM for wave indexes ([[graft.ext
    * .PostingIndex.compact]]/[[graft.ext.IvfIndex.compact]] create the
    * unreferenced waves this reclaims; stores call it through
    * [[WaveTable.expire]], which names every table, `tombs` included).
    * Readers pinned to an expired
    * version fail on their next read — the same documented retention
    * trade as [[GraphStorage.expireSnapshots]]. Also reclaims
    * compaction claim markers at or below the pinned compaction
    * watermark (review r15 #5 — the `_manifest` listing must not grow
    * forever): bids start past the pinned compaction max, which only
    * grows, so a reclaimed id can never be re-bid; markers ABOVE the
    * watermark stay, they are the crash-safety lock for in-flight
    * compactions. Single-committer contract, like every write face.
    * Returns the deleted wave ids. Package-private: the table list is
    * trusted, and one that leaves out `tombs` orphans the tombstone
    * dirs of an index with deletes — outside the package, retention
    * goes through the index faces. */
  private[model] def expire(spark: SparkSession, root: String,
      tables: Seq[String], keepVersions: Int): Seq[Long] = {
    val f = fs(spark, root)
    expireWith(spark, root, keepVersions, w =>
      tables.forall { t =>
        val p = waveDir(root, t, w)
        !f.exists(p) || f.delete(p, true)
      })
  }

  // `<table>/batch=<wave>` under the root. An empty table name = the
  // single-table layout with `batch=<w>` dirs directly under the root
  // (the StreamingNearDup survivor index); a "$t/batch=" child string
  // would resolve "" to an ABSOLUTE "/batch=<w>" path — never touch that
  private def waveDir(root: String, table: String, wave: Long) =
    new org.apache.hadoop.fs.Path(root,
      if (table.isEmpty) s"batch=$wave" else s"$table/batch=$wave")

  /** [[expire]]'s engine with the wave remover injected (specs drive the
    * deletion-failure path through this — a local FS delete essentially
    * never fails under test, especially as root). A manifest version is
    * deleted ONLY once every wave it references is either still kept by
    * a surviving version or was successfully removed: deleting the
    * manifest of a FAILED wave would orphan that wave's `batch=` dirs
    * forever — no later run would see a manifest referencing them, so
    * the advertised "crash mid-expire: re-run" recovery could never
    * reclaim them (review r12). */
  private[graft] def expireWith(spark: SparkSession, root: String,
      keepVersions: Int, removeWave: Long => Boolean): Seq[Long] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    latestVersion(spark, root) match {
      case None => Seq.empty
      case Some(pointer) =>
        val f = fs(spark, root)
        val all = versions(spark, root)
        val expired = all.filter(_ <= pointer).dropRight(keepVersions)
        val kept = all.diff(expired)
        val keepWaves = kept.flatMap(wavesAt(spark, root, _)).toSet
        val dropWaves = expired.flatMap(wavesAt(spark, root, _)).toSet
          .diff(keepWaves)
        // data first, manifests after: a crash mid-expire leaves extra
        // files (harmless — re-run), never a manifest naming vanished data
        val deleted = dropWaves.toSeq.sorted.filter(removeWave)
        val failed = dropWaves.diff(deleted.toSet)
        expired.foreach { v =>
          if (wavesAt(spark, root, v).forall(w => !failed.contains(w)))
            f.delete(new org.apache.hadoop.fs.Path(dir(root), s"v=$v"), false)
        }
        // claim-marker retention: markers at or below the highest
        // compaction wave the CURRENT snapshot pins are pure listing
        // growth — every future bid starts past that (monotone) max,
        // so the burned ids can never be re-claimed once reclaimed
        val watermark = wavesAt(spark, root, pointer)
          .filter(_ >= CompactBase).reduceOption(_ max _)
        watermark.foreach { wm =>
          f.listStatus(new org.apache.hadoop.fs.Path(dir(root))).toSeq
            .map(_.getPath.getName)
            .collect { case ClaimFile(n) if n.toLong <= wm => n.toLong }
            .foreach { id =>
              f.delete(new org.apache.hadoop.fs.Path(dir(root),
                s".claim_w=$id"), false)
            }
        }
        deleted
    }
  }
}
