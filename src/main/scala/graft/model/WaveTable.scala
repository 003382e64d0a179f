package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** One wave store's lifecycle over [[WaveManifest]] — the API every wave
  * store goes through: the persisted indexes ([[graft.ext.PostingIndex]],
  * [[graft.ext.IvfIndex]], [[graft.ext.IvfPq]]), the single-table stream
  * stores of [[graft.streaming.DedupState]] and the
  * [[graft.streaming.PerceptronStream]] weight chain. A store only says
  * how its rows are encoded and which tables it owns; the rules below
  * live here once.
  *
  * `tables` are the store's wave-partitioned data dirs under `root`
  * (`""` = waves directly under the root). [[delete]] lands tombstones in
  * `tombs/`, one `tombKey` column per deleted id.
  *
  *  - '''Writes''' ([[write]]): every wave lands as `batch=<wave>`
  *    partitions. Dynamic overwrite replaces only that wave's partitions,
  *    so an at-least-once replay rewrites its own wave instead of
  *    doubling it; static overwrite (a rebuild) replaces every wave.
  *  - '''Guards''' ([[guard]]): a batch-face wave id is never 0 (the
  *    build wave), never at or above `CompactBase`, and never at or
  *    below the compaction watermark — an absorbed id would be skipped by
  *    [[WaveManifest.commitWave]] and its rows silently lost.
  *  - '''Visibility''': data first, manifest after. A crash in between
  *    leaves an unpinned wave no reader sees and the replay overwrites.
  *  - '''Reads''' ([[read]]): the manifest is resolved ONCE, every table
  *    is read as explicit pinned `batch=` dirs ([[WaveManifest.readWaves]])
  *    and pinned tombstones mask their ids — a handle pinned before a
  *    delete keeps serving the deleted rows (snapshot semantics, both
  *    directions). A manifest-less legacy store scans every wave.
  *  - '''Compaction''' ([[compact]]) and '''retention''' ([[expire]]).
  */
final case class WaveTable(root: String, tables: Seq[String] = Seq(""),
    tombKey: String = "vid") {

  private def dir(table: String) = if (table.isEmpty) root else s"$root/$table"

  /** Land `rows` as wave `wave` of `table`, partitioned by
    * (`batch`, `parts`). The one data write of every wave store. */
  def write(rows: DataFrame, wave: Long, table: String = "",
      parts: Seq[String] = Nil, dynamic: Boolean = true): Unit =
    rows.withColumn("batch", lit(wave))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy("batch" +: parts: _*)
      .parquet(dir(table))

  /** Refuse a batch-face wave id that breaks one of the three wave rules
    * (class doc); `verb` names the face in the message. */
  private def guard(spark: SparkSession, wave: Long, verb: String): Unit = {
    require(wave != 0L, s"wave 0 is the build wave; $verb with a new id")
    require(wave < WaveManifest.CompactBase,
      s"wave $wave is in the compaction id space (>= 2^60) — $verb " +
        "waves must stay below WaveManifest.CompactBase")
    val through = WaveManifest.compactedThrough(spark, root)
    require(wave > through,
      s"wave $wave is at or below the compaction watermark $through — " +
        s"a compaction absorbed that id; $verb with a fresh id")
  }

  /** Create or replace the store with wave 0: `land` writes every
    * table's wave-0 rows as STATIC overwrites (any previous content, all
    * waves, is replaced), then the manifest re-pins to exactly {0}.
    * `through = -1` resets compaction coverage: a rebuilt store takes
    * every wave id again. */
  def build(spark: SparkSession)(land: => Unit): Unit = {
    land
    WaveManifest.commit(spark, root, Seq(0L), through = Some(-1L))
    ()
  }

  /** Fold wave `wave` in: guard it, let `land` write its rows
    * (dynamic), then commit it — skipped when already pinned, so a replay
    * spins no new manifest version. */
  def append(spark: SparkSession, wave: Long, verb: String = "append")(
      land: => Unit): Unit = {
    guard(spark, wave, verb)
    land
    WaveManifest.commitWave(spark, root, wave)
  }

  /** Tombstone delete: `key` of every `ids` row lands as wave `wave` of
    * `tombs/` under the [[append]] rules. Pinned tombstones mask their
    * ids from every read that pins them; [[compact]] removes the masked
    * rows for good and clears the tombstones. */
  def delete(ids: DataFrame, key: Column, wave: Long): Unit =
    append(ids.sparkSession, wave, "delete") {
      write(ids.select(key.as(tombKey)), wave, "tombs")
    }

  /** Pin a snapshot: `pin` when given (time travel — a wave set from
    * [[WaveManifest.wavesAt]]), else the latest committed version, else
    * (no manifest) every wave. Resolve once per plan or load. */
  def read(spark: SparkSession, pin: Option[Seq[Long]] = None): Snapshot =
    new Snapshot(spark, pin.orElse(WaveManifest.pinned(spark, root)))

  /** One pinned snapshot of the store; `waves = None` is a legacy scan. */
  final class Snapshot private[WaveTable] (spark: SparkSession,
      waves: Option[Seq[Long]]) {

    /** `table` at the pinned waves, `batch` column included. Explicit
      * pinned dirs, never a table-root scan: partition discovery on the
      * root races a superseded compactor's orphan delete
      * ([[WaveManifest.readWaves]]). */
    def apply(table: String = ""): DataFrame = waves match {
      case Some(ws) => WaveManifest.readWaves(spark, root, table, ws)
      case None => spark.read.parquet(dir(table))
    }

    // the pinned tombstone ids, read once per snapshot however many
    // tables it masks
    private lazy val tombs =
      WaveManifest.sideTableWaves(spark, root, "tombs", waves)
        .map(_.select(col(tombKey).as("__tomb")).distinct())

    /** `rows` minus every `rowKey` the pinned tombstones name. No forced
      * broadcast: the tombstone set is unbounded over a store's
      * lifetime, AQE broadcasts it while it is small, and [[compact]]
      * clears it to zero. */
    def masked(rows: DataFrame, rowKey: String): DataFrame = tombs match {
      case Some(t) =>
        rows.join(t, col(rowKey) === col("__tomb"), "left_anti")
      case None => rows
    }

    /** `table`'s pinned rows without `batch`, tombstones masked. */
    def live(table: String, rowKey: String): DataFrame =
      masked(apply(table).drop("batch"), rowKey)
  }

  /** Collapse the pinned snapshot into ONE compaction-space wave and
    * re-pin: `rewrite(snapshot, newWave)` writes the new wave's rows.
    * Over [[WaveManifest.runCompaction]] — a unique claimed rewrite id,
    * a commit CAS'd against the pin-time version (an append racing the
    * compaction keeps its wave) and a bounded redo when a racing
    * compaction supersedes this one (its orphan dirs in `tables` are
    * removed). Old waves stay for pinned readers until [[expire]].
    * @return the new wave id */
  def compact(spark: SparkSession)(rewrite: (Snapshot, Long) => Unit): Long =
    WaveManifest.runCompaction(spark, root, tables) { (waves, newWave) =>
      rewrite(new Snapshot(spark, Some(waves)), newWave)
    }

  /** [[compact]] for a store whose rewrite carries rows: `table`'s live
    * rows (tombstones on `rowKey` removed for good) through `reduce`,
    * materialized before the write — the rewrite scans the table it
    * writes into, which Spark refuses in lazy form. */
  def compactRows(spark: SparkSession, table: String = "",
      parts: Seq[String] = Nil, rowKey: String = "",
      reduce: DataFrame => DataFrame = identity): Long =
    compact(spark) { (snap, newWave) =>
      write(reduce(snap.live(table, rowKey)).localCheckpoint(), newWave,
        table, parts)
    }

  /** Auto-compaction is due: `compactEvery` > 0 and the pinned
    * snapshot holds at least that many waves. */
  def compactDue(spark: SparkSession, compactEvery: Int): Boolean =
    compactEvery > 0 &&
      WaveManifest.pinned(spark, root).exists(_.size >= compactEvery)

  /** Retention over every table of the store, `tombs` included: drop
    * manifest versions below the newest `keepVersions` and every wave dir
    * no surviving version references ([[WaveManifest.expire]]). A table
    * left out would keep its dirs forever once the last version naming
    * them is gone. */
  def expire(spark: SparkSession, keepVersions: Int): Seq[Long] =
    WaveManifest.expire(spark, root, (tables :+ "tombs").distinct,
      keepVersions)
}
