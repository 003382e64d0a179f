package graft.model

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Physical layout for the graph store (SURVEY.md §1 encoding decision).
  *
  * Two layouts share this object. The plain stores ([[writeVertices]],
  * [[writeEdges]]) partition vertices by `label` and edges by
  * `edge_label`: every reference read pattern (label scan G2, per-label
  * GC A14, label-filtered degrees) prunes to one partition directory.
  * The versioned snapshots ([[commitSnapshot]]) write each version as one
  * FLAT `v=<n>` directory of part files, with no label partitioning.
  * At 100 TB add a second-level bucketing by name-hash for shuffle-free
  * key joins; on a single node the directory partitioning is the part
  * that matters.
  *
  * Every read resolves its schema on the driver from the footer of the
  * store's first data file, the same conversion Spark's schema inference
  * runs on an executor, so resolving a store runs no Spark job. This
  * relies on ONE SCHEMA PER STORE VERSION: each version dir (and each
  * plain store) is written by one write job, whose part files all carry
  * that job's schema. Never add files of another schema to a committed
  * dir; a schema change is a new version.
  */
object GraphStorage {
  def writeVertices(vertices: DataFrame, path: String): Unit =
    vertices.write.mode("overwrite").partitionBy("label").parquet(path)

  def writeEdges(edges: DataFrame, path: String): Unit =
    edges.write.mode("overwrite").partitionBy("edge_label").parquet(path)

  /** Plain-store reads: the partition column (`label`, `edge_label`) is
    * inferred from the dir names, as `spark.read.parquet` does; the data
    * columns come from the footer. */
  def readVertices(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path)

  def readEdges(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path)

  /** `spark.read.parquet(dir)` without the schema-inference job: the data
    * schema is read from the footer of the first data file under `dir`
    * (descending into partition dirs) with Spark's own footer conversion,
    * and handed to the reader, which still infers partition columns from
    * the dir names. Equal to the inferred schema under the one-schema-per-
    * version contract above. */
  private def readParquet(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val file = firstDataFile(root.getFileSystem(conf), root).getOrElse(
      throw new IllegalStateException(s"no parquet data file under $dir"))
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS))
    val schema = ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(dir)
  }

  /** Spark's file-index rule for files a reader skips: `_`/`.`-prefixed
    * names (`_SUCCESS`, `.crc`), unless a `_` name is a `k=v` partition
    * dir, and in-flight `._COPYING_` uploads. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The name-first data file under `dir`: its own files first, then the
    * first partition dir (in name order) that holds one. */
  private def firstDataFile(f: FileSystem, dir: Path): Option[FileStatus] = {
    val (dirs, files) = f.listStatus(dir).toSeq
      .filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.getName).partition(_.isDirectory)
    files.headOption.orElse(
      dirs.iterator.flatMap(d => firstDataFile(f, d.getPath)).nextOption())
  }

  /** Bucketed catalog tables: co-locate the vertex store and edge source
    * endpoints on the name hash so the merge/degree joins are
    * SHUFFLE-FREE — at 100 TB the merge-upsert's full-outer join is the
    * dominant shuffle, and bucketing both sides by the join key removes
    * it entirely (bucket metadata lives in the catalog; requires
    * saveAsTable, not path writes). See GraphStorageSpec for plan proof.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  // ── Versioned snapshots (time travel) ──────────────────────────────
  // The Delta-style pattern without a table format dependency: each
  // commit writes an IMMUTABLE `v=<n>` directory whose parquet-job
  // `_SUCCESS` marker is the atomic visibility event — "latest" is the
  // highest COMPLETE version dir. Readers pinned to a version see a
  // complete snapshot forever (GC/merge mistakes are undoable), and
  // readers of "latest" never observe a half-written version because
  // `_SUCCESS` lands only after the data write completes. There is
  // deliberately NO `_latest` pointer file: its overwrite-rename flip
  // was delete-then-rename on the local FS, so a reader racing a
  // commit transiently saw NO pointer at all (the round-15 wave-race
  // root cause, fixed the same way in WaveManifest). Each version dir
  // is flat (no label partitioning) and holds the part files of the ONE
  // write job that committed it, so the version has one schema, which
  // readers take from its first footer; old versions retire by deleting
  // dirs older than the retention horizon.

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every `v=<n>` directory, complete or not — the namespace a new
    * commit must not collide with. Only names matching `v=<digits>`
    * count: a stray `v=3.bak` backup or editor dropping under the root
    * must not brick the whole store with a NumberFormatException. */
  private val VersionDir = "^v=(\\d+)$".r
  private def allVersionDirs(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val f = fs(spark, root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case VersionDir(n) => n.toLong }.sorted
  }

  /** The latest COMPLETE version, if any commit ever finished: the
    * highest `v=<n>` dir carrying its `_SUCCESS` marker. `_SUCCESS`
    * files only ever appear (atomically, at job commit) — no pointer
    * file, no transient-absence window. */
  private def latestCommitted(spark: SparkSession,
      root: String): Option[Long] = versions(spark, root).lastOption

  /** COMPLETE version numbers, ascending: a `v=<n>` dir counts only with
    * its parquet job's `_SUCCESS` marker — a crashed commit's
    * half-written dir is invisible here (but still blocks its number,
    * see [[commitSnapshot]]). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    allVersionDirs(spark, root).filter { v =>
      f.exists(new Path(root, s"v=$v/_SUCCESS"))
    }
  }

  /** Write `df` as the next snapshot version; returns its number.
    * Single-committer contract (the reference's ETL runs are serialized
    * per store); READERS are fully concurrent-safe — the version
    * becomes visible exactly when the parquet job's `_SUCCESS` marker
    * appears, an atomic file creation, and until then [[versions]]
    * simply does not list it. Version numbering skips over ANY
    * existing dir (even a crashed commit's half-written one — never
    * clobber, never reuse a number). Object-store caveat: `_SUCCESS`
    * creation is atomic-as-existence everywhere, but the version dir's
    * task-file renames need a store with consistent listing (HDFS/
    * local; S3A with a committer). */
  def commitSnapshot(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val next = allVersionDirs(spark, root).lastOption.getOrElse(-1L) + 1
    df.write.mode("errorifexists").parquet(s"$root/v=$next")
    next
  }

  /** Retention: delete complete versions older than the newest
    * `keepLast`. Half-written dirs (no `_SUCCESS`) are never counted —
    * they can neither consume a retention slot nor be mistaken for
    * history, and an in-flight commit's dir is never touched because
    * it is not yet a version. Readers pinned to an expired version fail on
    * their next read — the documented retention trade, same as any table
    * format's VACUUM. Returns the versions actually deleted (a failed
    * delete is dropped from the result, not misreported). */
  def expireSnapshots(spark: SparkSession, root: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    latestCommitted(spark, root) match {
      case None => Seq.empty // nothing committed yet
      case Some(pointer) =>
        val f = fs(spark, root)
        versions(spark, root).filter(_ <= pointer)
          .dropRight(keepLast)
          .filter { v =>
            f.delete(new Path(root, s"v=$v"), true)
          }
    }
  }

  /** The latest committed version, if any — the "does state exist
    * yet" probe stream maintainers need before their first batch. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    latestCommitted(spark, root)

  /** Read a pinned version (time travel) or the latest committed one.
    * Resolving it lists the store and reads one footer on the driver; it
    * runs no Spark job. */
  def readSnapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestCommitted(spark, root)).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot under $root"))
    readParquet(spark, s"$root/v=$v")
  }
}
