package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Online (mini-batch) perceptron maintenance — the streaming face of
  * [[graft.ext.Perceptron]]: each micro-batch applies ONE batch-
  * perceptron round on ITS rows starting from the latest persisted
  * weights, and the updated weights land as their own
  * `weights/batch=<batchId + 1>` wave under the [[graft.model
  * .WaveManifest]] discipline. The state-chaining rule makes replay
  * idempotent WITHOUT any transactional store: batch `id` READS wave
  * `id` (what the previous batch wrote; zeros when absent) and WRITES
  * wave `id + 1` — a replayed batch re-reads the same input wave and
  * dynamically overwrites its own output wave with identical content,
  * and the manifest commit (after data, skipped when already pinned)
  * keeps a crash between data and commit invisible. An EMPTY
  * micro-batch copies the weights forward (a real stream has idle
  * triggers; losing the chain there would fork the state).
  *
  * This is genuine online learning (each round sees only its batch),
  * so the trained weights differ from full-corpus batch training by
  * design; what IS contractual — spec-pinned — is that the streamed
  * fold equals applying [[graft.ext.Perceptron.round]] sequentially
  * over the same batches, crash or no crash. Serving reads the
  * latest pinned wave into a [[graft.ext.Perceptron.Model]] — one
  * dim+1-row read, the bounded-collect budget.
  */
object PerceptronStream {

  /** Start the maintenance query over a STREAMING feature frame
    * carrying `yCol` and `xCols`.
    *
    * Chain positions are `base + epochId` with a run-scoped base
    * ([[WaveStream.RunBase]]) set to the HIGHEST pinned wave:
    * a fresh-checkpoint run therefore READS the previous chain's final
    * weights as its starting state (warm continuation) and extends the
    * chain above everything pinned — without the base, its epoch ids
    * restart at 0, re-read wave 0 (zeros), and overwrite waves 1..n
    * while higher waves stay pinned, so [[model]] would keep serving
    * the stale chain's tail over a silently diverged prefix. A
    * checkpoint RESTART keeps its marker-recorded base, preserving
    * replay idempotence. */
  def start(features: DataFrame, yCol: String, xCols: Seq[String],
            path: String, checkpoint: String): StreamingQuery = {
    val base = new WaveStream.RunBase(path,
      s => math.max(0L, DedupState.maxPinnedStreamWave(s, path)))
    features.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatch(batch, yCol, xCols, path, base(batch.sparkSession) + id)
      }
      .start()
  }

  /** One round from wave `batchId`'s weights into wave `batchId + 1`.
    * Public so specs can drive replays directly. Refuses a write that
    * would FORK the chain: a target wave strictly below the highest
    * pinned one means the caller's ids belong to a different chain
    * (exactly the fresh-checkpoint hazard [[start]]'s run base
    * prevents) — overwriting mid-chain waves while later ones stay
    * pinned would serve inconsistent state with no error. A replay of
    * the LAST wave (target == max pinned) is legal and idempotent. */
  def appendBatch(batch: DataFrame, yCol: String, xCols: Seq[String],
                  path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val maxPinned = DedupState.maxPinnedStreamWave(spark, path)
    require(batchId + 1L >= maxPinned,
      s"wave ${batchId + 1} would fork the weight chain: waves up to " +
        s"$maxPinned are pinned under $path — a fresh run must base its " +
        "ids past the pinned chain (PerceptronStream.start does)")
    val w0 = weightsAt(spark, path, batchId, xCols.size + 1)
    val w1 = graft.ext.Perceptron.round(batch, yCol, xCols, w0)
    import spark.implicits._
    val weights = graft.model.WaveTable(path, Seq("weights"))
    weights.append(spark, batchId + 1) {
      weights.write(w1.toSeq.zipWithIndex.map { case (v, j) => (j, v) }
        .toDF("j", "w").coalesce(1), batchId + 1, "weights")
    }
  }

  /** The weights of a specific wave (zeros when the wave is absent —
    * the chain's base case). */
  private def weightsAt(spark: SparkSession, path: String, wave: Long,
      len: Int): Array[Long] = {
    val w = Array.fill(len)(0L)
    // explicit pinned dir, not a root scan (WaveManifest.readWaves doc)
    graft.model.WaveManifest
      .sideTableWaves(spark, path, "weights", Some(Seq(wave)))
      .foreach { t =>
        t.select(col("j"), col("w"))
          .collect()
          .foreach(r => w(r.getInt(0)) = r.getLong(1))
      }
    w
  }

  /** The latest trained model: the highest pinned wave's weights. */
  def model(spark: SparkSession, path: String,
      xCols: Seq[String]): graft.ext.Perceptron.Model = {
    val wave = graft.model.WaveManifest.pinned(spark, path)
      .flatMap(ws => ws.reduceOption(_ max _))
      .getOrElse(throw new IllegalArgumentException(
        s"no committed weight wave under $path"))
    graft.ext.Perceptron.Model(xCols,
      weightsAt(spark, path, wave, xCols.size + 1))
  }
}
