package graft.ext

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Concurrency stress for the wave discipline (VERDICT r14 #4): a
  * batch appender races a compactor and a serving reader on ONE index,
  * for both the posting and the vector family. Invariants under the
  * race:
  *   - every serve answer is a LEGAL SNAPSHOT — it equals the one-shot
  *    answer over some prefix of the appended batches, never a mix
  *    (mixed df/stats would shift BM25 scores off every legal answer;
  *    a mixed vector scan would surface a partial neighbor set);
  *   - no wave is ever lost: after the threads join, the final pinned
  *    serve equals the full one-shot build (the commitCompaction CAS —
  *    a wave landing mid-compaction survives into the new snapshot);
  *   - the expire race never deletes live data: every wave the final
  *    manifest references still reads;
  *   - compactions racing EACH OTHER stay correct: each claims a unique
  *    rewrite wave id (no shared `batch=` dir to overwrite mid-flight),
  *    the superseded loser redoes on fresh pinned state, and no row is
  *    ever served twice (a double-landed posting wave would double
  *    df/stats and shift every BM25 score off the one-shot answer).
  */
class WaveRaceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Run thunks on their own threads, collect throwables, rethrow the
    * first on the caller thread so failures actually fail the test. */
  private def race(thunks: Seq[() => Unit], timeoutSec: Int = 120): Unit = {
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(thunks.size)
    try {
      val futures = thunks.map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try t() catch { case e: Throwable => errs.add(e) }
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(timeoutSec.toLong, TimeUnit.SECONDS))
    } finally pool.shutdown()
    if (!errs.isEmpty) throw errs.peek()
  }

  test("posting index: appends race a compactor; every serve is a " +
      "legal prefix snapshot and the final index equals the one-shot " +
      "build (no wave lost to the compaction commit)") {
    val path = tmp("wave-race-posting")
    val docs = (1 to 8).map(i => (i.toLong, s"term$i spark common words"))
    PostingIndex.build(Seq(docs.head).toDF("doc_id", "text"), "doc_id",
      "text", path, termBuckets = 4)

    // legal answers: the one-shot serve over each prefix, keyed by size
    def serveRows(p: String): Seq[String] =
      PostingIndex.scoreQuery(spark, p, Seq("spark"), termBuckets = 4)
        .collect().map(_.toString).sorted.toSeq
    val expected: Map[Int, Seq[String]] = (1 to docs.size).map { k =>
      val d = tmp(s"wave-race-prefix$k")
      PostingIndex.build(docs.take(k).toDF("doc_id", "text"), "doc_id",
        "text", d, termBuckets = 4)
      k -> serveRows(d)
    }.toMap

    val appender = () => docs.zipWithIndex.drop(1).foreach { case (d, i) =>
      PostingIndex.append(Seq(d).toDF("doc_id", "text"), "doc_id",
        "text", path, wave = i.toLong, termBuckets = 4)
    }
    val compactor = () => (1 to 3).foreach { _ =>
      Thread.sleep(40)
      try { PostingIndex.compact(spark, path); () }
      catch { case _: IllegalArgumentException => () }
    }
    val server = () => (1 to 8).foreach { _ =>
      val rows = serveRows(path)
      assert(expected(rows.size) === rows,
        s"serve mixed waves: ${rows.size} docs with off-snapshot rows")
      Thread.sleep(15)
    }
    race(Seq(appender, compactor, server))

    assert(serveRows(path) === expected(docs.size)) // nothing lost
  }

  test("vector index: appends race a compactor; serves see legal " +
      "prefix neighbor sets; the final snapshot equals the full corpus") {
    val rnd = new scala.util.Random(67)
    val data = (0L until 20L).map(i =>
      (i, Array.fill(4)((rnd.nextFloat() - 0.5f) * 2f)))
    val path = tmp("wave-race-vec")
    val model = IvfIndex.buildSign(
      data.take(4).toDF("vec_id", "embedding"), "vec_id", "embedding",
      bits = 2)
    model.save(path)
    val query = data.take(1).toDF("vec_id", "embedding")

    def neighbors(): Set[Long] =
      IvfIndex.search(IvfIndex.load(spark, path), query, "vec_id",
        "embedding", k = 100, nProbe = 4)
        .select("neighbor_id").as[Long].collect().toSet
    // legal = {ids of some prefix of the append stream} minus the query
    val legal: Seq[Set[Long]] = (4 to 20 by 4).map(n =>
      data.take(n).map(_._1).toSet - 0L)

    val appender = () => (1 to 4).foreach { w =>
      val batch = data.slice(w * 4, w * 4 + 4)
        .toDF("vec_id", "embedding")
      IvfIndex.appendSave(path,
        IvfIndex.assignTo(model, batch, "vec_id", "embedding"),
        wave = w.toLong)
    }
    val compactor = () => (1 to 3).foreach { _ =>
      Thread.sleep(40)
      try { IvfIndex.compact(spark, path); () }
      catch { case _: IllegalArgumentException => () }
    }
    val server = () => (1 to 6).foreach { _ =>
      val ns = neighbors()
      assert(legal.contains(ns), s"serve mixed waves: $ns")
      Thread.sleep(20)
    }
    race(Seq(appender, compactor, server))

    assert(neighbors() === legal.last) // all four waves survived
  }

  test("compactions racing each other: unique claimed rewrite ids, " +
      "superseded losers redo cleanly, no row is ever served twice") {
    val path = tmp("wave-race-compactors")
    val docs = (1 to 8).map(i => (i.toLong, s"term$i spark common words"))
    PostingIndex.build(Seq(docs.head).toDF("doc_id", "text"), "doc_id",
      "text", path, termBuckets = 4)
    docs.zipWithIndex.slice(1, 6).foreach { case (d, i) =>
      PostingIndex.append(Seq(d).toDF("doc_id", "text"), "doc_id",
        "text", path, wave = i.toLong, termBuckets = 4)
    }

    val oneShot = tmp("wave-race-compactors-oneshot")
    PostingIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text",
      oneShot, termBuckets = 4)
    def serveRows(p: String): Seq[String] =
      PostingIndex.scoreQuery(spark, p, Seq("spark"), termBuckets = 4)
        .collect().map(_.toString).sorted.toSeq

    val appender = () => docs.zipWithIndex.drop(6).foreach { case (d, i) =>
      PostingIndex.append(Seq(d).toDF("doc_id", "text"), "doc_id",
        "text", path, wave = i.toLong, termBuckets = 4)
    }
    val compactor = () => { PostingIndex.compact(spark, path); () }
    race(Seq(appender, compactor, compactor, compactor))

    // every doc served exactly ONCE with one-shot scores: a superseded
    // rewrite that landed anyway would double df/stats for its docs
    assert(serveRows(path) === serveRows(oneShot))
    // the claim protocol really burned distinct ids: claims ≥ commits
    val f = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    val fsys = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claims = fsys.listStatus(f).map(_.getPath.getName)
      .count(_.startsWith(".claim_w="))
    assert(claims >= 3, s"expected >= 3 claimed compaction ids, got $claims")
  }

  test("expire racing appends never deletes live data: every wave the " +
      "final manifest references still reads") {
    val path = tmp("wave-race-expire")
    val docs = (1 to 8).map(i => (i.toLong, s"term$i spark common"))
    PostingIndex.build(Seq(docs.head).toDF("doc_id", "text"), "doc_id",
      "text", path, termBuckets = 4)
    val appender = () => docs.zipWithIndex.drop(1).foreach { case (d, i) =>
      PostingIndex.append(Seq(d).toDF("doc_id", "text"), "doc_id",
        "text", path, wave = i.toLong, termBuckets = 4)
      if (i == 4) { PostingIndex.compact(spark, path); () }
    }
    val expirer = () => (1 to 4).foreach { _ =>
      Thread.sleep(30)
      PostingIndex.expire(spark, path, keepVersions = 1)
      ()
    }
    race(Seq(appender, expirer))
    PostingIndex.expire(spark, path, keepVersions = 1)

    val pinned = graft.model.WaveManifest.pinned(spark, path).get
    val served = PostingIndex
      .scoreQuery(spark, path, Seq("spark"), termBuckets = 4)
      .collect()
    assert(served.length === docs.size,
      s"live docs lost: ${served.length} of ${docs.size} " +
        s"(pinned $pinned)")
  }
}
