package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.tempIndexDir
import graft.ext.Similarity
import graft.model.Tables

/** Vector family over `embeddings`: k-means, exact moments, brute and
  * LSH search, IVF/PQ/SQ8/OPQ indexes with their build, serve, append,
  * delete and recall-audit faces, coresets and projections. */
object VectorQueries {

  /** The q_comoments feature grid, shared with the generated oracle. */
  private val comomentFeats: Seq[(String, Long)] = Seq(
    "l_quantity" -> 1L, "l_extendedprice" -> 1L,
    "l_discount" -> 100L, "l_tax" -> 100L)

  /** One SELECT per pair over the shared grid — kept as generated SQL so
    * the arm list can never drift from the operator's pair loop. */
  private def comomentOracle: String = {
    val arms = for {
      i <- comomentFeats.indices
      j <- i until comomentFeats.size
    } yield {
      val (ci, si) = comomentFeats(i)
      val (cj, sj) = comomentFeats(j)
      val qi = s"CAST(floor($ci * $si + 0.5) AS BIGINT)"
      val qj = s"CAST(floor($cj * $sj + 0.5) AS BIGINT)"
      s"""SELECT l_returnflag, '$ci' AS fi, '$cj' AS fj,
         count(*) AS n, CAST(sum($qi) AS BIGINT) AS s_i,
         CAST(sum($qj) AS BIGINT) AS s_j,
         CAST(sum($qi * $qj) AS BIGINT) AS s_ij
         FROM lineitem WHERE $qi IS NOT NULL AND $qj IS NOT NULL
         GROUP BY l_returnflag"""
    }
    arms.mkString("\n UNION ALL \n")
  }

  /** Range search: exact grid sqdist per (query, corpus) pair, cut at
    * the radius — shared by q_ann_radius and q_ann_radius_probed (the
    * probed face at nProbe = nLists is row-identical by construction). */
  private def rangeSearchOracle: String =
    """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
           CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
       qc AS (SELECT * FROM comp WHERE vid < 5),
       d AS (SELECT qc.vid AS query_id, c.vid AS neighbor_id,
               CAST(sum((c.q - qc.q) * (c.q - qc.q)) AS BIGINT) AS sqdist
             FROM comp c JOIN qc ON qc.pos = c.pos AND qc.vid <> c.vid
             GROUP BY 1, 2)
       SELECT query_id, neighbor_id, sqdist
       FROM d WHERE sqdist <= 1450000000000""".stripMargin

  /** The greedy k-center replay: unrolled farthest-point rounds —
    * per round an argmax pick (ORDER BY dmin DESC, vid LIMIT 1) and a
    * least()-folded distance update against the pick's components. */
  private def coresetOracle(k: Int, assign: Boolean = false): String = {
    val prelude =
      """comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         s0 AS (SELECT min(vec_id) AS cid FROM embeddings),
         d0 AS (SELECT c.vid AS vid, sum((c.q - s.q) * (c.q - s.q)) AS dmin
                FROM comp c JOIN comp s ON s.pos = c.pos
                  AND s.vid = (SELECT cid FROM s0)
                GROUP BY c.vid)"""
    val perRound = (1 until k).map { r =>
      val update =
        if (r == k - 1) ""
        else s""",
         d$r AS (SELECT d.vid AS vid, least(d.dmin, x.d) AS dmin
                 FROM d${r - 1} d JOIN (
                   SELECT c.vid AS vid,
                          sum((c.q - s.q) * (c.q - s.q)) AS d
                   FROM comp c JOIN comp s ON s.pos = c.pos
                     AND s.vid = (SELECT vid FROM r$r)
                   GROUP BY c.vid) x ON x.vid = d.vid)"""
      s"""r$r AS (SELECT vid, dmin FROM d${r - 1}
               ORDER BY dmin DESC, vid LIMIT 1)$update"""
    }
    val finals =
      if (!assign)
        (s"""SELECT CAST((SELECT cid FROM s0) AS BIGINT) AS vec_id,
             CAST(0 AS INTEGER) AS rk, CAST(0 AS BIGINT) AS radius""" +:
          (1 until k).map(r =>
            s"SELECT vid, CAST($r AS INTEGER), CAST(dmin AS BIGINT) FROM r$r"))
          .mkString("\n         UNION ALL ")
      else {
        val centers = (s"SELECT cid AS vid FROM s0" +:
          (1 until k).map(r => s"SELECT vid FROM r$r"))
          .mkString(" UNION ALL ")
        s"""SELECT vid AS vec_id, cid AS exemplar_id,
                CAST(d AS BIGINT) AS sqdist
         FROM (SELECT comp.vid AS vid, cf.cid AS cid,
                 sum((comp.q - cf.cq) * (comp.q - cf.cq)) AS d,
                 row_number() OVER (PARTITION BY comp.vid
                   ORDER BY sum((comp.q - cf.cq) * (comp.q - cf.cq)),
                            cf.cid) AS rn
               FROM comp JOIN (
                 SELECT c.vid AS cid, comp.pos AS pos, comp.q AS cq
                 FROM ($centers) c JOIN comp ON comp.vid = c.vid) cf
                 ON cf.pos = comp.pos
               GROUP BY comp.vid, cf.cid) WHERE rn = 1"""
      }
    (Seq(prelude) ++ perRound)
      .mkString("WITH ", ",\n         ", "\n         ") + finals
  }

  /** One PQ recall measurement (train → encode → ADC top-k vs brute
    * top-k → per-query gated intersection counts) — the shape
    * q_pq_recall/q_pq_recall_tuned inline, factored for the capacity
    * sweep. Output (query_id, hits, k). */
  private def pqRecallDf(emb: org.apache.spark.sql.DataFrame, m: Int,
      k: Int, rounds: Int): org.apache.spark.sql.DataFrame = {
    val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
      m = m, k = k, rounds = rounds)
    val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
    val adc = graft.ext.PqIndex.adcTopK(codes, cb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val ex = graft.ext.PqIndex.exactTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    adc.join(ex, col("query_id") === col("q2") &&
        col("neighbor_id") === col("n2"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("n2")).cast("int").as("hits"))
      .withColumn("k", lit(10))
  }

  /** The PQ recall audit: ADC top-k vs the exact-grid brute top-k,
    * per-query intersection counts — both rankings derived from the
    * SAME comp CTE (the exact distance is the full-pos sum, the ADC
    * the trained-table sum), so recall is hash-exact, not sampled. */
  private def pqRecallOracle(m: Int, k: Int, rounds: Int,
      topK: Int): String =
    pqCoreCtes(m, k, rounds) + s""",
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         dt AS (SELECT qid, sub, cid, sum((q - cq) * (q - cq)) AS dtv
                FROM qc JOIN c${rounds - 1} USING (pos)
                GROUP BY qid, sub, cid),
         sc AS (SELECT qid, a.vid AS vid, sum(dtv) AS adc
                FROM a$rounds a JOIN dt ON a.sub = dt.sub AND a.cid = dt.cid
                GROUP BY qid, a.vid),
         adck AS (SELECT qid, vid FROM (
                    SELECT qid, vid, row_number() OVER (
                      PARTITION BY qid ORDER BY adc, vid) AS rk
                    FROM sc WHERE qid <> vid) WHERE rk <= $topK),
         bd AS (SELECT qc.qid AS qid, comp.vid AS vid,
                  sum((qc.q - comp.q) * (qc.q - comp.q)) AS d
                FROM comp JOIN qc ON comp.pos = qc.pos
                GROUP BY qc.qid, comp.vid),
         brutek AS (SELECT qid, vid FROM (
                      SELECT qid, vid, row_number() OVER (
                        PARTITION BY qid ORDER BY d, vid) AS rk
                      FROM bd WHERE qid <> vid) WHERE rk <= $topK)
         SELECT a.qid AS query_id, CAST(count(b.vid) AS INTEGER) AS hits,
                CAST($topK AS INTEGER) AS k
         FROM adck a LEFT JOIN brutek b
           ON a.qid = b.qid AND a.vid = b.vid
         GROUP BY a.qid"""

  /** init/c0 + the sub-keyed training rounds over a CTE named `comp` —
    * shared by [[pqOracle]], [[pqRecallOracle]], and (with a ROTATED
    * comp) [[opqRecallOracle]]. */
  private def pqTrainCtes(k: Int, rounds: Int): String = {
    val initC0 =
      s"""init AS (SELECT vec_id AS vid,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
         c0 AS (SELECT cid, pos, q AS cq FROM init JOIN comp USING (vid))"""
    val perRound = (1 to rounds).map { r =>
      val update =
        if (r == rounds) ""
        else s""",
         c$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM a$r JOIN comp USING (vid, sub) GROUP BY cid, pos)"""
      s"""d$r AS (SELECT vid, sub, cid, sum((q - cq) * (q - cq)) AS d
               FROM comp JOIN c${r - 1} USING (pos) GROUP BY vid, sub, cid),
         a$r AS (SELECT vid, sub, cid, d FROM (
                   SELECT vid, sub, cid, d, row_number() OVER (
                     PARTITION BY vid, sub ORDER BY d, cid) AS rn
                   FROM d$r) WHERE rn = 1)$update"""
    }
    (Seq(initC0) ++ perRound).mkString(",\n         ")
  }

  /** comp/init/c0 + the sub-keyed training rounds — shared by
    * [[pqOracle]] and [[pqRecallOracle]]. */
  private def pqCoreCtes(m: Int, k: Int, rounds: Int): String = {
    val prelude =
      s"""comp AS (SELECT vec_id AS vid,
               CAST((i - 1) // (len(embedding) // $m) AS INTEGER) AS sub,
               i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i))"""
    "WITH " + prelude + ",\n         " + pqTrainCtes(k, rounds)
  }

  /** The exact-rational rotation as CTEs: comp0 (raw grid comps),
    * r0..r<steps> (the integer matrix built from the SAME step
    * literals the Spark side uses), rott (BIGINT dots — order-free
    * integer sums), and a ROTATED `comp` in the standard (vid, sub,
    * pos, q) shape every PQ/IVF-PQ oracle consumes. */
  private def rationalRotationCtes(seed: Long, dim: Int, steps: Int,
      m: Int): String = {
    val sched = graft.ext.Opq.schedule(seed, dim, steps)
    val denom = (0 until steps).foldLeft(1L)((a, _) => a * 5L)
    val stepCtes = sched.zipWithIndex.map { case ((p, q, s), t0) =>
      val t = t0 + 1
      s"""r$t AS (SELECT r, c,
                CASE WHEN r = $p THEN 3 * wp + ($s) * 4 * wq
                     WHEN r = $q THEN -($s) * 4 * wp + 3 * wq
                     ELSE 5 * w END AS w
              FROM (SELECT r, c, w,
                      MAX(CASE WHEN r = $p THEN w END) OVER (PARTITION BY c) AS wp,
                      MAX(CASE WHEN r = $q THEN w END) OVER (PARTITION BY c) AS wq
                    FROM r${t - 1}))"""
    }.mkString(",\n         ")
    s"""comp0 AS (SELECT vec_id AS vid, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         r0 AS (SELECT ti.i::INTEGER AS r, tj.j::INTEGER AS c,
                  CASE WHEN ti.i = tj.j THEN 1::BIGINT ELSE 0::BIGINT END AS w
                FROM range($dim) ti(i), range($dim) tj(j)),
         $stepCtes,
         rott AS (SELECT vid, rr.r AS pos, SUM(rr.w * comp0.q) AS u
                  FROM r$steps rr JOIN comp0 ON comp0.pos = rr.c
                  GROUP BY vid, rr.r),
         comp AS (SELECT vid, CAST(pos // ${dim / m} AS INTEGER) AS sub,
                    pos, u // $denom AS q
                  FROM rott)"""
  }

  /** The q_opq_recall replay: rebuild the exact-rational rotation
    * matrix from the SAME (p, q, sign) step literals the Spark side
    * uses (16 window-CTEs over the 64×64 integer identity — every
    * entry exact BIGINT, every sum order-free), rotate the quantized
    * components, floor-divide back to the grid, then the standard PQ
    * train/ADC CTEs over the ROTATED comps and the brute ranking over
    * the ORIGINAL comps — recall is always measured against original-
    * space ground truth. */
  private def opqRecallOracle(seed: Long, dim: Int, steps: Int, m: Int,
      k: Int, rounds: Int, topK: Int): String = {
    s"""WITH ${rationalRotationCtes(seed, dim, steps, m)},
         ${pqTrainCtes(k, rounds)},
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         dt AS (SELECT qid, sub, cid, sum((q - cq) * (q - cq)) AS dtv
                FROM qc JOIN c${rounds - 1} USING (pos)
                GROUP BY qid, sub, cid),
         sc AS (SELECT qid, a.vid AS vid, sum(dtv) AS adc
                FROM a$rounds a JOIN dt ON a.sub = dt.sub AND a.cid = dt.cid
                GROUP BY qid, a.vid),
         adck AS (SELECT qid, vid FROM (
                    SELECT qid, vid, row_number() OVER (
                      PARTITION BY qid ORDER BY adc, vid) AS rk
                    FROM sc WHERE qid <> vid) WHERE rk <= $topK),
         bq AS (SELECT vid AS qid, pos, q FROM comp0 WHERE vid < 3),
         bd AS (SELECT bq.qid AS qid, comp0.vid AS vid,
                  sum((bq.q - comp0.q) * (bq.q - comp0.q)) AS d
                FROM comp0 JOIN bq ON comp0.pos = bq.pos
                GROUP BY bq.qid, comp0.vid),
         brutek AS (SELECT qid, vid FROM (
                      SELECT qid, vid, row_number() OVER (
                        PARTITION BY qid ORDER BY d, vid) AS rk
                      FROM bd WHERE qid <> vid) WHERE rk <= $topK)
         SELECT a.qid AS query_id, CAST(count(b.vid) AS INTEGER) AS hits,
                CAST($topK AS INTEGER) AS k
         FROM adck a LEFT JOIN brutek b
           ON a.qid = b.qid AND a.vid = b.vid
         GROUP BY a.qid"""
  }

  /** The PQ replay: [[kmeansOracle]] with a `sub` key — per-subspace
    * init/assign/update unrolled, then (for `serveTopK` > 0) the ADC
    * distance-table serve. `sub` derives from the GLOBAL pos like the
    * operator's (`//` in DuckDB vs truncating cast in Spark — equal on
    * non-negative operands); intermediate HUGEINT sums cast to BIGINT
    * only at output columns. */
  private def pqOracle(m: Int, k: Int, rounds: Int,
      serveTopK: Int): String = {
    val body = pqCoreCtes(m, k, rounds)
    if (serveTopK <= 0)
      body + s"""
         SELECT vid, sub, CAST(cid AS INTEGER) AS code,
                CAST(d AS BIGINT) AS sqdist FROM a$rounds"""
    else
      body + s""",
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         dt AS (SELECT qid, sub, cid, sum((q - cq) * (q - cq)) AS dtv
                FROM qc JOIN c${rounds - 1} USING (pos)
                GROUP BY qid, sub, cid),
         sc AS (SELECT qid, a.vid AS vid, sum(dtv) AS adc
                FROM a$rounds a JOIN dt ON a.sub = dt.sub AND a.cid = dt.cid
                GROUP BY qid, a.vid)
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(adc AS BIGINT) AS adc_sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, adc, row_number() OVER (
                 PARTITION BY qid ORDER BY adc, vid) AS rk
               FROM sc WHERE qid <> vid) WHERE rk <= $serveTopK"""
  }

  /** The IVF-PQ replay: the k-means unroll TWICE — a full-vector
    * coarse pass (`c*`/`d*`/`a*` CTEs), an exact-residual frame, then
    * the sub-keyed PQ rounds over it (`pc*`/`pd*`/`pa*`), plus (for
    * `serveTopK` > 0) probe selection and the per-(query, list) ADC
    * distance table. All BIGINT on the shared grid; HUGEINT sums cast
    * at output columns only. */
  private def ivfPqOracle(nLists: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, nProbe: Int, serveTopK: Int,
      trainWhere: Option[String] = None,
      deleteWhere: Option[String] = None,
      rerank: Option[Int] = None,
      rotate: Option[(Long, Int, Int)] = None): String = {
    val C = coarseRounds
    val R = pqRounds
    // tombstone mask (q_ann_ivfpq_delete): excluded vids drop from the
    // candidate set BEFORE ranking — ranks close up, the load-mask
    // semantics exactly
    val deleteAnd = deleteWhere.map(w => s" AND NOT ($w)").getOrElse("")
    // split-universe mode (the append face): codebooks train on the
    // filtered universe, but encode/serve cover EVERY vector — extra
    // aE/resE/paE CTEs re-run assignment over the full frame against
    // the train-universe codebooks, exactly what save + appendSave of
    // the encoded remainder serves after a reload
    val T = trainWhere.map(_ => "tcomp").getOrElse("comp")
    val tWhere = trainWhere.map(w => s" WHERE $w").getOrElse("")
    val tcomp = trainWhere.map(_ =>
      s""",
         tcomp AS (SELECT * FROM comp WHERE vid IN (
                     SELECT vec_id FROM embeddings$tWhere))""").getOrElse("")
    // rotate = Some((seed, dim, steps)): comp is the exact-rational
    // ROTATED component frame (the FAISS "OPQ..,IVF..,PQ.." factory
    // composition) — everything downstream (coarse, residuals, PQ,
    // probe, ADC) consumes the same (vid, sub, pos, q) shape untouched
    val compCte = rotate match {
      case Some((seed, dim, steps)) =>
        rationalRotationCtes(seed, dim, steps, m)
      case None =>
        s"""comp AS (SELECT vec_id AS vid,
               CAST((i - 1) // (len(embedding) // $m) AS INTEGER) AS sub,
               i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i))"""
    }
    val prelude =
      s"""$compCte$tcomp,
         init AS (SELECT vec_id AS vid,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                  FROM (SELECT vec_id FROM embeddings$tWhere
                        ORDER BY vec_id LIMIT $nLists)),
         c0 AS (SELECT cid, pos, q AS cq FROM init JOIN $T USING (vid))"""
    val coarse = (1 to C).map { r =>
      val update =
        if (r == C) ""
        else s""",
         c$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM a$r JOIN $T USING (vid) GROUP BY cid, pos)"""
      s"""d$r AS (SELECT vid, cid, sum((q - cq) * (q - cq)) AS d
               FROM $T JOIN c${r - 1} USING (pos) GROUP BY vid, cid),
         a$r AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (
                     PARTITION BY vid ORDER BY d, cid) AS rn
                   FROM d$r) WHERE rn = 1)$update"""
    }
    val residual =
      s"""res AS (SELECT $T.vid AS vid, $T.sub AS sub, $T.pos AS pos,
                $T.q - c.cq AS q
              FROM $T JOIN a$C a ON $T.vid = a.vid
                JOIN c${C - 1} c ON c.cid = a.cid AND c.pos = $T.pos),
         pinit AS (SELECT vec_id AS vid,
                     CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                   FROM (SELECT vec_id FROM embeddings$tWhere
                         ORDER BY vec_id LIMIT $k)),
         pc0 AS (SELECT cid, pos, q AS cq FROM pinit JOIN res USING (vid))"""
    val pq = (1 to R).map { r =>
      val update =
        if (r == R) ""
        else s""",
         pc$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM pa$r JOIN res USING (vid, sub) GROUP BY cid, pos)"""
      s"""pd$r AS (SELECT vid, sub, cid, sum((q - cq) * (q - cq)) AS d
               FROM res JOIN pc${r - 1} USING (pos) GROUP BY vid, sub, cid),
         pa$r AS (SELECT vid, sub, cid, d FROM (
                   SELECT vid, sub, cid, d, row_number() OVER (
                     PARTITION BY vid, sub ORDER BY d, cid) AS rn
                   FROM pd$r) WHERE rn = 1)$update"""
    }
    // encode names: in split-universe mode the full-frame assignment
    // CTEs (aE/resE/paE) feed the finals; otherwise the training
    // assignments ARE the encode
    val (aF, paF) = if (trainWhere.isDefined) ("aE", "paE") else (s"a$C", s"pa$R")
    val encodeFull = trainWhere.map { _ =>
      s"""dE AS (SELECT vid, cid, sum((q - cq) * (q - cq)) AS d
               FROM comp JOIN c${C - 1} USING (pos) GROUP BY vid, cid),
         aE AS (SELECT vid, cid FROM (
                  SELECT vid, cid, row_number() OVER (
                    PARTITION BY vid ORDER BY d, cid) AS rn
                  FROM dE) WHERE rn = 1),
         resE AS (SELECT comp.vid AS vid, comp.sub AS sub,
                    comp.pos AS pos, comp.q - c.cq AS q
                  FROM comp JOIN aE a ON comp.vid = a.vid
                    JOIN c${C - 1} c ON c.cid = a.cid AND c.pos = comp.pos),
         pdE AS (SELECT vid, sub, cid, sum((q - cq) * (q - cq)) AS d
                 FROM resE JOIN pc${R - 1} USING (pos)
                 GROUP BY vid, sub, cid),
         paE AS (SELECT vid, sub, cid, d FROM (
                   SELECT vid, sub, cid, d, row_number() OVER (
                     PARTITION BY vid, sub ORDER BY d, cid) AS rn
                   FROM pdE) WHERE rn = 1)"""
    }.toSeq
    val lst = s"lst AS (SELECT vid, cid AS list_id FROM $aF)"
    val body = (Seq(prelude) ++ coarse ++ Seq(residual) ++ pq ++
      encodeFull ++ Seq(lst)).mkString("WITH ", ",\n         ", "")
    if (serveTopK <= 0)
      body + s"""
         SELECT p.vid AS vid, l.list_id AS list_id, p.sub AS sub,
                CAST(p.cid AS INTEGER) AS code, CAST(p.d AS BIGINT) AS sqdist
         FROM $paF p JOIN lst l ON p.vid = l.vid"""
    else
      body + s""",
         qc AS (SELECT vid AS qid, sub, pos, q FROM comp WHERE vid < 3),
         qd AS (SELECT qid, cid, sum((q - cq) * (q - cq)) AS d
                FROM qc JOIN c${C - 1} USING (pos) GROUP BY qid, cid),
         probe AS (SELECT qid, cid AS list_id FROM (
                     SELECT qid, cid, row_number() OVER (
                       PARTITION BY qid ORDER BY d, cid) AS rn
                     FROM qd) WHERE rn <= $nProbe),
         qres AS (SELECT qc.qid AS qid, probe.list_id AS list_id,
                    qc.sub AS sub, qc.pos AS pos, qc.q - c.cq AS qr
                  FROM qc JOIN probe ON qc.qid = probe.qid
                    JOIN c${C - 1} c ON c.cid = probe.list_id
                      AND c.pos = qc.pos),
         dt AS (SELECT qid, list_id, sub, cid,
                  sum((qr - cq) * (qr - cq)) AS dtv
                FROM qres JOIN pc${R - 1} USING (pos)
                GROUP BY qid, list_id, sub, cid),
         sc AS (SELECT dt.qid AS qid, p.vid AS vid, sum(dtv) AS adc
                FROM $paF p JOIN lst l ON p.vid = l.vid
                  JOIN dt ON dt.list_id = l.list_id AND dt.sub = p.sub
                    AND dt.cid = p.cid
                GROUP BY dt.qid, p.vid)""" + (rerank match {
        case None => s"""
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(adc AS BIGINT) AS adc_sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, adc, row_number() OVER (
                 PARTITION BY qid ORDER BY adc, vid) AS rk
               FROM sc WHERE qid <> vid$deleteAnd)
         WHERE rk <= $serveTopK"""
        case Some(rr) => s""",
         candk AS (SELECT qid, vid FROM (
                     SELECT qid, vid, row_number() OVER (
                       PARTITION BY qid ORDER BY adc, vid) AS rk
                     FROM sc WHERE qid <> vid$deleteAnd) WHERE rk <= $rr),
         ex AS (SELECT ck.qid AS qid, comp.vid AS vid,
                  sum((qcf.q - comp.q) * (qcf.q - comp.q)) AS d
                FROM comp JOIN candk ck ON comp.vid = ck.vid
                  JOIN qc qcf ON qcf.qid = ck.qid AND qcf.pos = comp.pos
                GROUP BY ck.qid, comp.vid)
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(d AS BIGINT) AS sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, d, row_number() OVER (
                 PARTITION BY qid ORDER BY d, vid) AS rk
               FROM ex) WHERE rk <= $serveTopK"""
      })
  }

  private def kmeansOracle(k: Int, rounds: Int): String = {
    val prelude =
      s"""comp AS (SELECT vec_id AS vid, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         init AS (SELECT vec_id AS vid,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
                  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
         c0 AS (SELECT cid, pos, q AS cq FROM init JOIN comp USING (vid))"""
    val perRound = (1 to rounds).map { r =>
      val update =
        if (r == rounds) ""
        else s""",
         c$r AS (SELECT cid, pos,
                   CAST(floor((2.0 * sum(q) + count(*)) / (2.0 * count(*))) AS BIGINT) AS cq
                 FROM a$r JOIN comp USING (vid) GROUP BY cid, pos)"""
      s"""d$r AS (SELECT vid, cid, sum((q - cq) * (q - cq)) AS d
               FROM comp JOIN c${r - 1} USING (pos) GROUP BY vid, cid),
         a$r AS (SELECT vid, cid, d FROM (
                   SELECT vid, cid, d, row_number() OVER (
                     PARTITION BY vid ORDER BY d, cid) AS rn
                   FROM d$r) WHERE rn = 1)$update"""
    }
    (Seq(prelude) ++ perRound).mkString("WITH ", ",\n         ", "\n") +
      s"""SELECT vid AS vec_id, CAST(cid AS INTEGER) AS cluster_id,
                 CAST(d AS BIGINT) AS sqdist FROM a$rounds"""
  }

  /** The d/r CTE tail over `p(query_id, neighbor_id, qv, cv)`: exact
    * decimal-folded cosine per pair, then each query's top `k`
    * neighbors with the (cosine DESC, neighbor_id) total order. */
  private def cosineTopK(k: Int): String =
    s"""d AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM p, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                      dotv/(sqrt(nq)*sqrt(nc)) AS cos,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC, neighbor_id) AS rk
               FROM d)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rk
         FROM r WHERE rk <= $k"""

  /** Brute-force cosine top-`k` of the first 5 vectors — q_ann_brute,
    * and the exhaustive-probe IVF identity (q_ann_ivf, q_ann_ivf_disk). */
  private def bruteTopKOracle(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c
               ON query_id <> neighbor_id),
         ${cosineTopK(k)}"""

  /** Same-bucket brute force: cosine top-3 of the first 5 vectors among
    * the vectors sharing their first `bits` sign bits — q_ann_lsh (8
    * bits) and the sign-quantizer IVF faces (q_ann_ivf_pruned,
    * q_ann_ivf_append, q_ann_ivf_dist at 4 bits). */
  private def sameBucketTop3Oracle(bits: Int): String =
    s"""WITH b AS (SELECT vec_id, embedding,
             ${signBucketSql(bits)} AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
               WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
         p AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c USING (bucket)
               WHERE query_id <> neighbor_id),
         ${cosineTopK(3)}"""

  val specs: Seq[QuerySpec] = Seq(
    // ── Embedding compression for serving: exact-decimal L2 norm +
    //    symmetric absmax int8 quantization with an EXPLICIT ⌊x+0.5⌋
    //    half-way rule (ext.Similarity) — pure map work, no shuffle.
    //    `qv` is emitted as the canonical comma-joined string (not
    //    array<int>): the driver's compare harness row-sorts with pandas,
    //    which cannot hash numpy arrays — the VALUES are unchanged, only
    //    the wire encoding is scalar.
    QuerySpec("q_embed_quant", (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("abs_max", graft.ext.Similarity.absMax(col("embedding")))
      e.select(col("vec_id"),
        round(graft.ext.Similarity.l2Norm(col("embedding")), 4).as("l2"),
        col("abs_max"),
        when(col("abs_max") > 0,
          array_join(transform(
            graft.ext.Similarity.int8Quantize(col("embedding"), col("abs_max")),
            x => x.cast("string")), ","))
          .as("qv"))
    },
      // the same decimal-accumulated norm as q_ann_brute; the quantizer's
      // half-way rule is the explicit floor(x + 0.5), not round()
      """WITH e AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS am
           FROM embeddings),
         n AS (SELECT vec_id,
             CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
                           * CAST(embedding[i] AS DOUBLE)
                           AS DECIMAL(30,15))) AS DOUBLE) AS nq
           FROM e, UNNEST(range(1, len(embedding) + 1)) t(i)
           GROUP BY 1)
         SELECT e.vec_id,
                CASE WHEN embedding IS NULL THEN NULL
                     ELSE round(sqrt(coalesce(nq, 0)), 4) END AS l2,
                am AS abs_max,
                CASE WHEN am > 0 THEN array_to_string(list_transform(embedding,
                  x -> CAST(CAST(floor(CAST(x AS DOUBLE) / am * 127.0 + 0.5)
                            AS INTEGER) AS VARCHAR)), ',') END AS qv
         FROM e LEFT JOIN n ON e.vec_id = n.vec_id"""),

    // ── Embedding isotropy diagnostic (ext.Gram.isotropy): the
    //    covariance participation ratio (tr C)²/tr C² from the one-pass
    //    gram summary, INTEGER-EXACT (no eigensolve, no floats) — the
    //    gated number behind this round's OPQ finding: PR/dim ≈ 0.9
    //    here (near-isotropic), so rotations can't buy PQ recall on
    //    this corpus; capacity can.
    QuerySpec("q_embed_isotropy", (s, dir) =>
      graft.ext.Gram.isotropy(Tables.embeddings(s, dir), "embedding"),
      // the gram CTEs + exact numerator arithmetic: num = s·n − m_i·m_j,
      // floor-scaled by 1e4 (// floors, matching the operator's
      // pmod/decimal floor-div), squares through HUGEINT, PR as one
      // integer division — zero float operations anywhere
      """WITH comp AS (SELECT vec_id, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         up AS (SELECT a.pos AS i, b.pos AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s
                FROM comp a JOIN comp b
                ON a.vec_id = b.vec_id AND a.pos <= b.pos
                GROUP BY 1, 2),
         fm AS (SELECT pos AS j, CAST(sum(q) AS BIGINT) AS s
                FROM comp GROUP BY 1),
         cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         num AS (SELECT up.i, up.j,
                  (up.s * (SELECT n FROM cnt) - fi.s * fj.s) // 10000 AS num
                 FROM up JOIN fm fi ON fi.j = up.i
                         JOIN fm fj ON fj.j = up.j),
         tr AS (SELECT
                  CAST(sum(CASE WHEN i = j THEN num END) AS BIGINT) AS tr_c,
                  sum(CASE WHEN i = j THEN CAST(num AS HUGEINT) * num
                           ELSE 2 * CAST(num AS HUGEINT) * num END) AS tr_c2,
                  CAST(min(CASE WHEN i = j THEN num END) AS BIGINT) AS var_num_min,
                  CAST(max(CASE WHEN i = j THEN num END) AS BIGINT) AS var_num_max,
                  CAST(max(j) + 1 AS INTEGER) AS dim
                FROM num)
         SELECT (SELECT n FROM cnt) AS n, dim,
                CAST((CAST(tr_c AS HUGEINT) * tr_c * 10000) // tr_c2 AS BIGINT) AS pr_x10000,
                var_num_min, var_num_max
         FROM tr"""),

    // ── Integer-exact distributed Lloyd k-means over the embeddings
    //    (ext.KMeans = PQ training with one subspace): k=4, two
    //    assignment passes, 10⁻⁶-grid BIGINT distances and half-up
    //    integer centroid means — bit-reproducible where float Lloyd's
    //    is shuffle-order-dependent.
    QuerySpec("q_kmeans", (s, dir) =>
      graft.ext.KMeans.assignments(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 4, rounds = 2),
      // unrolled Lloyd rounds on the 10⁻⁶ BIGINT grid: identical
      // quantization, tie rule (d, cid), and half-up centroid division as
      // the operator — empty clusters drop out of the update aggregate in
      // both engines, so the semantics need no special-casing
      kmeansOracle(k = 4, rounds = 2)),

    // ── Exact second-moment (gram) matrix of the embeddings (ext.Gram):
    //    the one-pass dim×dim corpus summary PCA eigendecomposes —
    //    upper-triangle products expand IN-ROW (no self-join, no N·dim
    //    shuffle), partial aggregation exchanges dim² rows per
    //    partition. First-moment and count rows ride the same pass as
    //    i = −1 sentinels.
    QuerySpec("q_gram", (s, dir) =>
      graft.ext.Gram.secondMoment(Tables.embeddings(s, dir),
        "embedding"),
      // the oracle takes the self-join road the operator's in-row
      // expansion avoids — identical quantization, identical sums
      """WITH comp AS (SELECT vec_id, i - 1 AS pos,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
             FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         up AS (SELECT a.pos AS i, b.pos AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s
                FROM comp a JOIN comp b
                ON a.vec_id = b.vec_id AND a.pos <= b.pos
                GROUP BY 1, 2),
         fm AS (SELECT -1 AS i, pos AS j, CAST(sum(q) AS BIGINT) AS s
                FROM comp GROUP BY 2),
         cnt AS (SELECT -1 AS i, -1 AS j, CAST(count(*) AS BIGINT) AS s
                 FROM embeddings)
         SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, s FROM up
         UNION ALL SELECT CAST(i AS INTEGER), CAST(j AS INTEGER), s FROM fm
         UNION ALL SELECT CAST(i AS INTEGER), CAST(j AS INTEGER), s FROM cnt"""),

    // ── ANN: brute-force cosine top-k for a small probe batch (baseline).
    QuerySpec("q_ann_brute", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
    },
      bruteTopKOracle(k = 5)),

    // ── ANN: sign-LSH bucketed top-k (the 100 TB path).
    QuerySpec("q_ann_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, bucketBits = 8)
    },
      sameBucketTop3Oracle(bits = 8)),

    // ── Range (radius) search: every neighbor within grid sqdist ≤ r²
    //    of a query — the FAISS range_search face; the dedup contract
    //    "drop anything within distance r" that top-k can't express
    //    (it truncates dense regions, pads sparse ones). Integer-exact
    //    on the 10⁻⁶ grid via three codegen'd decimal dot folds
    //    (qq − 2qc + cc, every term < 2⁵³); one broadcast-NLJ corpus
    //    pass, no shuffle, no window, no per-component row blowup.
    QuerySpec("q_ann_radius", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.RangeSearch.exact(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", r2 = 1450000000000L)
    },
      // range search: exact BIGINT grid sqdist, pairs under the radius —
      // and the probed face at full probes answers IDENTICALLY (the
      // exhaustive-probe identity), so both rows share this oracle
      rangeSearchOracle),

    // ── Range search over the IVF-probed path (the persisted/100 TB
    //    serve: only the probed lists' partitions are read). Driver
    //    contract = the exhaustive-probe identity (nProbe = nLists ≡
    //    the exact face, the q_ann_ivf discipline); pruned-probe
    //    subset/recall behavior is spec-gated (RangeSearchSpec).
    QuerySpec("q_ann_radius_probed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
        nLists = 4)
      graft.ext.RangeSearch.probed(model, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", r2 = 1450000000000L, nProbe = 4)
    },
      rangeSearchOracle),

    // ── ANN: IVF (k-means coarse quantizer, probe nearest lists). The
    //    DRIVER-HASHABLE contract is the exhaustive-probe identity:
    //    nProbe = nLists must recover brute-force top-k EXACTLY (same
    //    floats, same tie order), which hash-verifies the whole index
    //    machinery — the quantizer assignment partitions the corpus with
    //    no row lost or duplicated, probe-list selection covers, and the
    //    scoring path is bit-identical to the brute twin. Pruned-probe
    //    recall (nProbe < nLists) has no deterministic floor on uniform
    //    random embeddings (measured 0–3 hits@3 at nProbe=4/16 across
    //    SFs) and is spec-gated on clustered data (IvfIndexSpec).
    QuerySpec("q_ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // build once, then search — the model serves any number of probe
      // batches without refitting the quantizer (at scale: model.save /
      // IvfIndex.load over a list_id-partitioned layout).
      val model = graft.ext.IvfIndex.build(emb, "vec_id", "embedding",
        nLists = 16)
      graft.ext.IvfIndex.search(model, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nProbe = 16)
    },
      // exhaustive-probe IVF (nProbe = nLists) ≡ brute force — the oracle
      // IS the brute-force top-3; see the query comment for why pruned
      // recall has no deterministic floor on uniform random embeddings
      bruteTopKOracle(k = 3)),

    // ── ANN: IVF over the PERSISTED index layout — save partitioned by
    //    list_id, reload, search. With nProbe = nLists this query reads
    //    every list BY DESIGN (the exhaustive-probe identity hash-proves
    //    the partitioned save/load round-trip preserves every corpus row
    //    and float exactly); the partition-PRUNED serving read path is
    //    benchmarked and hash-gated separately in q_ann_ivf_pruned, and
    //    plan-asserted in IvfIndexSpec's scanned-files tests.
    QuerySpec("q_ann_ivf_disk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // unique per invocation: a fixed shared path would let a concurrent
      // run's overwrite-save delete index files under this run's scan
      val idxPath = tempIndexDir("ivf_idx", dir)
      graft.ext.IvfIndex.build(emb, "vec_id", "embedding", nLists = 16)
        .save(idxPath)
      val loaded = graft.ext.IvfIndex.load(s, idxPath)
      graft.ext.IvfIndex.search(loaded, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nProbe = 16)
    },
      // the save/load round-trip must reproduce the in-memory index exactly
      bruteTopKOracle(k = 3)),

    // ── ANN: PRUNED-probe serving over the persisted layout — the
    //    realistic vector-store read path (probe ≪ lists, scan a strict
    //    subset of partitions). Uses the deterministic sign-pattern
    //    quantizer (IvfIndex.buildSign): nProbe = 1 probes exactly the
    //    query's own sign bucket, so the result is same-bucket brute
    //    force and hash-checkable in SQL — unlike the k-means pruned
    //    probe, whose recall has no deterministic floor. 16 lists, ≤5
    //    probed: the lists scan prunes to the probed partitions (static
    //    isin; IvfIndexSpec asserts numFiles < total on this path).
    QuerySpec("q_ann_ivf_pruned", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = tempIndexDir("ivf_sign", dir)
      graft.ext.IvfIndex.buildSign(emb, "vec_id", "embedding", bits = 4)
        .save(idxPath)
      val loaded = graft.ext.IvfIndex.load(s, idxPath)
      graft.ext.IvfIndex.search(loaded, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, nProbe = 1)
    },
      // pruned probe with the sign quantizer ≡ same-bucket brute force
      // (4-bit bucket, same decimal-fold cosine as q_ann_lsh)
      sameBucketTop3Oracle(bits = 4)),

    // ── ANN index INSERT path: build the sign-quantizer index on half
    //    the corpus (even vec_ids), persist, assign the other half to the
    //    existing lists WITHOUT refitting (IvfIndex.assignTo — the
    //    first list of the nearest-list rule every probe applies), land
    //    it as its own `batch=1` wave (dynamic partition overwrite —
    //    crash/replay-idempotent, manifest-committed after the data),
    //    reload the pinned {0,1} snapshot, and serve a pruned probe over
    //    the union.
    //    The oracle is the same same-bucket brute force over ALL
    //    embeddings as q_ann_ivf_pruned — hash-proving inserted rows
    //    land in exactly the lists probes scan, and the wave append
    //    preserves every row.
    QuerySpec("q_ann_ivf_append", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = tempIndexDir("ivf_app", dir)
      graft.ext.IvfIndex.buildSign(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", bits = 4).save(idxPath)
      val loaded = graft.ext.IvfIndex.load(s, idxPath)
      graft.ext.IvfIndex.appendSave(idxPath,
        graft.ext.IvfIndex.assignTo(loaded,
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding"),
        wave = 1L)
      graft.ext.IvfIndex.search(graft.ext.IvfIndex.load(s, idxPath),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nProbe = 1)
    },
      // insert path: half built + half appended must serve the SAME
      // same-bucket brute-force results as one full build
      sameBucketTop3Oracle(bits = 4)),

    // ── Product quantization (PqIndex): the memory-bound billion-scale
    //    ANN path — each vector stored as m small codes instead of D
    //    floats (64-dim float32 = 256 B → m=4 codes = 4 B), queries
    //    answered by ADC against an m·k broadcast distance table, never
    //    re-reading a corpus float. Training (per-subspace integer
    //    Lloyd's on the KMeans grid), encode, and serving are ALL
    //    hash-gated — the oracle is the k-means unroll with a `sub`
    //    key. sqdist in the code table = exact per-subspace residual
    //    (Σ = the PQ distortion diagnostic).
    QuerySpec("q_pq_codes", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 4, k = 4, rounds = 2)
      graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
    },
      // PQ: training + encode hash-gated as the full code table; serving
      // hash-gated as the ADC top-k — the kmeans unroll with a sub key
      pqOracle(m = 4, k = 4, rounds = 2, serveTopK = 0)),

    // ── PQ ADC serving: top-10 neighbors of 3 corpus queries under the
    //    asymmetric distance (exact query subvectors vs corpus CODES).
    //    Deterministically hash-checkable because the whole train→
    //    encode→serve path is integer-exact — no recall floor needed,
    //    the ADC answer itself is the contract.
    QuerySpec("q_ann_pq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 4, k = 4, rounds = 2)
      val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
      graft.ext.PqIndex.adcTopK(codes, cb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
    },
      pqOracle(m = 4, k = 4, rounds = 2, serveTopK = 10)),

    // ── Seeded ±1 random projection (RandomProjection): JL dimension
    //    reduction with the md5 coin — reproducible across engines,
    //    so the projected integer table itself hash-gates (no
    //    RNG-matrix implementation can offer that).
    QuerySpec("q_random_projection", (s, dir) =>
      graft.ext.RandomProjection.project(Tables.embeddings(s, dir),
        "vec_id", "embedding", outDims = 8),
      // seeded ±1 projection: the md5-nibble coin replayed per (pos, j)
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         p AS (SELECT vid, pos, q, j FROM comp, UNNEST(range(8)) t(j)),
         s AS (SELECT vid, j,
                 CASE WHEN (strpos('0123456789abcdef',
                     substr(md5(concat_ws('|', 42, pos, j)), 1, 1)) - 1)
                     % 2 = 0
                   THEN q ELSE -q END AS term
               FROM p)
         SELECT vid, CAST(j AS INTEGER) AS j,
                CAST(sum(term) AS BIGINT) AS y
         FROM s GROUP BY vid, j"""),

    // ── Greedy k-center coreset (Coreset): diverse-exemplar selection
    //    for curation — farthest-point traversal with exact BIGINT
    //    distances, ties to the lowest id; the selection ORDER and
    //    each pick's max-min radius both hash-gate.
    QuerySpec("q_coreset", (s, dir) =>
      graft.ext.Coreset.kCenter(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 6),
      // greedy k-center: unrolled farthest-point rounds
      coresetOracle(k = 6)),

    // ── Coreset COVERAGE map: every vector routed to its nearest of
    //    the 6 chosen exemplars — the assignment that turns a coreset
    //    into strata (sampling quotas, routing keys). The exemplar set
    //    is the k-center run's own picks (bounded collect of k ids).
    QuerySpec("q_coreset_assign", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val picks = graft.ext.Coreset.kCenter(emb,
        "vec_id", "embedding", k = 6)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      graft.ext.Coreset.assign(emb, "vec_id", "embedding", picks)
    },
      // coverage assignment against the same unrolled picks
      coresetOracle(k = 6, assign = true)),

    // ── Balanced stratum sample off the coverage map: the 2 nearest
    //    vectors per exemplar (ties by id) — the deterministic
    //    "representatives per region" draw a curation pipeline uses
    //    for eval panels and spot checks; k-center picks the regions,
    //    the coverage map routes, the window cuts the quota.
    QuerySpec("q_coreset_sample", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val picks = graft.ext.Coreset.kCenter(emb,
        "vec_id", "embedding", k = 6)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val w = Window.partitionBy(col("exemplar_id"))
        .orderBy(col("sqdist"), col("vec_id"))
      graft.ext.Coreset.assign(emb, "vec_id", "embedding", picks)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("exemplar_id"), col("vec_id"), col("sqdist"),
          col("rk"))
    },
      // the 2-per-exemplar quota over the assignment
      s"""SELECT exemplar_id, vec_id, sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT exemplar_id, vec_id, sqdist, row_number() OVER (
                 PARTITION BY exemplar_id ORDER BY sqdist, vec_id) AS rk
               FROM (${coresetOracle(k = 6, assign = true)}))
         WHERE rk <= 2"""),

    // ── SQ8 scalar quantization (ScalarQuant): per-DIMENSION affine
    //    ranges + 8-bit codes — 4× smaller than float32, the third leg
    //    of the quantization family (PQ / IVF-PQ / SQ8). Ranges, codes,
    //    and the reconstructed-corpus serve are ALL integer-exact and
    //    hash-gated.
    QuerySpec("q_sq8_codes", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.ScalarQuant.encode(emb, "vec_id", "embedding",
        graft.ext.ScalarQuant.ranges(emb, "vec_id", "embedding"))
    },
      // SQ8: per-dim min/max ranges, clamped affine codes, midpoint
      // reconstruction — every division non-negative, so // ≡ div
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         b AS (SELECT pos, min(q) AS qmin, max(q) AS qmax
               FROM comp GROUP BY pos)
         SELECT vid, CAST(pos AS INTEGER) AS pos,
                CAST((255 * (least(greatest(q, qmin), qmax) - qmin))
                     // greatest(qmax - qmin, 1) AS INTEGER) AS code
         FROM comp JOIN b USING (pos)"""),

    QuerySpec("q_ann_sq8", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val rng = graft.ext.ScalarQuant.ranges(emb, "vec_id", "embedding")
      graft.ext.ScalarQuant.adcTopK(
        graft.ext.ScalarQuant.encode(emb, "vec_id", "embedding", rng),
        rng, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
    },
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         b AS (SELECT pos, min(q) AS qmin, max(q) AS qmax
               FROM comp GROUP BY pos),
         e AS (SELECT vid, pos,
                 (255 * (least(greatest(q, qmin), qmax) - qmin))
                   // greatest(qmax - qmin, 1) AS code
               FROM comp JOIN b USING (pos)),
         r AS (SELECT vid, pos,
                 qmin + ((2 * code + 1) * (qmax - qmin)) // 510 AS rq
               FROM e JOIN b USING (pos)),
         qc AS (SELECT vid AS qid, pos, q AS qq FROM comp WHERE vid < 3),
         d AS (SELECT qid, r.vid AS vid,
                 sum((qq - rq) * (qq - rq)) AS adc
               FROM r JOIN qc ON r.pos = qc.pos GROUP BY qid, r.vid)
         SELECT qid AS query_id, vid AS neighbor_id,
                CAST(adc AS BIGINT) AS adc_sqdist, CAST(rk AS INTEGER) AS rk
         FROM (SELECT qid, vid, adc, row_number() OVER (
                 PARTITION BY qid ORDER BY adc, vid) AS rk
               FROM d WHERE qid <> vid) WHERE rk <= 10"""),

    // ── SQ8 recall audit: same contract as q_pq_recall — the 8-bit
    //    reconstruction keeps far more fidelity than the toy PQ
    //    codebook, and the hash-gated counts SHOW it (near-perfect
    //    intersection at these SFs), which is exactly the comparison a
    //    quantization choice should be made on.
    QuerySpec("q_sq8_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val rng = graft.ext.ScalarQuant.ranges(emb, "vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 3)
      val adc = graft.ext.ScalarQuant.adcTopK(
        graft.ext.ScalarQuant.encode(emb, "vec_id", "embedding", rng),
        rng, q, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb, q,
        "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    },
      // SQ8 recall audit: reconstruction ranking vs the exact brute
      // ranking, per-query intersection counts
      """WITH comp AS (SELECT vec_id AS vid, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
         b AS (SELECT pos, min(q) AS qmin, max(q) AS qmax
               FROM comp GROUP BY pos),
         e AS (SELECT vid, pos,
                 (255 * (least(greatest(q, qmin), qmax) - qmin))
                   // greatest(qmax - qmin, 1) AS code
               FROM comp JOIN b USING (pos)),
         r AS (SELECT vid, pos,
                 qmin + ((2 * code + 1) * (qmax - qmin)) // 510 AS rq
               FROM e JOIN b USING (pos)),
         qc AS (SELECT vid AS qid, pos, q AS qq FROM comp WHERE vid < 3),
         d AS (SELECT qid, r.vid AS vid,
                 sum((qq - rq) * (qq - rq)) AS adc
               FROM r JOIN qc ON r.pos = qc.pos GROUP BY qid, r.vid),
         adck AS (SELECT qid, vid FROM (
                    SELECT qid, vid, row_number() OVER (
                      PARTITION BY qid ORDER BY adc, vid) AS rk
                    FROM d WHERE qid <> vid) WHERE rk <= 10),
         bd AS (SELECT qc.qid AS qid, comp.vid AS vid,
                  sum((qq - q) * (qq - q)) AS dx
                FROM comp JOIN qc ON comp.pos = qc.pos
                GROUP BY qc.qid, comp.vid),
         brutek AS (SELECT qid, vid FROM (
                      SELECT qid, vid, row_number() OVER (
                        PARTITION BY qid ORDER BY dx, vid) AS rk
                      FROM bd WHERE qid <> vid) WHERE rk <= 10)
         SELECT a.qid AS query_id, CAST(count(bk.vid) AS INTEGER) AS hits,
                CAST(10 AS INTEGER) AS k
         FROM adck a LEFT JOIN brutek bk
           ON a.qid = bk.qid AND a.vid = bk.vid
         GROUP BY a.qid"""),

    // ── PQ recall AUDIT: ADC top-10 vs the exact-grid brute top-10,
    //    per-query intersection counts — approximation quality is a
    //    first-class, hash-gated output, not a hope. Both rankings are
    //    deterministic (ties by id), so the counts replay exactly.
    QuerySpec("q_pq_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 4, k = 4, rounds = 2)
      val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
      val q = emb.filter(col("vec_id") < 3)
      val adc = graft.ext.PqIndex.adcTopK(codes, cb, q,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb, q,
        "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    },
      // PQ recall audit: both rankings from the same comp CTE
      pqRecallOracle(m = 4, k = 4, rounds = 2, topK = 10)),

    // ── OPQ-style rotation ahead of PQ, recall-audited: the EXACT
    //    RATIONAL rotation (seeded 3-4-5 Givens chain — integer
    //    arithmetic end-to-end, the only rotation a hash gate can
    //    replay) feeds the standard PQ faces and the hits count against
    //    ORIGINAL-space brute ground truth. Honest reading, documented
    //    in COVERAGE.md: these embeddings are near-isotropic, so the
    //    rotated counts sit in the same band as q_pq_recall — the row
    //    gates the rotation+PQ+audit MECHANICS; the recall LEVER on
    //    isotropic data is capacity (q_pq_recall_tuned below), and the
    //    parametric OPQ face (Opq.fitParametric) earns its keep on
    //    correlated corpora (OpqSpec's fixture).
    QuerySpec("q_opq_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val rot = graft.ext.Opq.rationalRotation(seed = 7, dim, steps = 16)
      val rotated = graft.ext.Opq.rotateExact(emb, "vec_id", "embedding",
        rot).localCheckpoint()
      val cb = graft.ext.PqIndex.codebooks(rotated, "vec_id", "rvec",
        m = 4, k = 4, rounds = 2)
      val codes = graft.ext.PqIndex.encode(rotated, "vec_id", "rvec", cb)
      val adc = graft.ext.PqIndex.adcTopK(codes, cb,
        rotated.filter(col("vec_id") < 3), "vec_id", "rvec", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    },
      opqRecallOracle(seed = 7, dim = 64, steps = 16,
        m = 4, k = 4, rounds = 2, topK = 10)),

    // ── The HONEST recall lever on this corpus: codebook capacity.
    //    m=16×k=16 (64 bits/vector vs the toy row's 8) lifts the gated
    //    intersection totals 6/4/4 → 13/11/12 across the three SFs —
    //    measured first, then pinned here; rotation cannot do that on
    //    an isotropic spectrum (eigenvalues 0.028…0.016, simulated
    //    OPQ/RR deltas ±1 — see COVERAGE.md).
    QuerySpec("q_pq_recall_tuned", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = graft.ext.PqIndex.codebooks(emb, "vec_id", "embedding",
        m = 16, k = 16, rounds = 4)
      val codes = graft.ext.PqIndex.encode(emb, "vec_id", "embedding", cb)
      val adc = graft.ext.PqIndex.adcTopK(codes, cb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val ex = graft.ext.PqIndex.exactTopK(emb,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      adc.join(ex, col("query_id") === col("q2") &&
          col("neighbor_id") === col("n2"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("n2")).cast("int").as("hits"))
        .withColumn("k", lit(10))
    },
      pqRecallOracle(m = 16, k = 16, rounds = 4, topK = 10)),

    // ── PQ capacity SWEEP, gated (X140 discipline): the r14 isotropy
    //    finding (q_embed_isotropy PR/dim 0.88–0.97) says CAPACITY, not
    //    rotation, is the recall lever on this corpus — this row
    //    measures the recall/memory trade as data: three codebook
    //    capacities (8 → 32 → 40 bits/vector), same queries, same
    //    brute ground truth, per-query gated intersection counts. The
    //    memory column is the 100 TB design input: recall buys bytes
    //    per vector, and the row makes the exchange rate a hash-gated
    //    measurement instead of a hope.
    QuerySpec("q_pq_recall_capacity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the three capacity configs are INDEPENDENT train→encode→serve
      // chains whose training collects run at construction time —
      // build them on the ConcurrentJobs fan (guide §2.6, the
      // q_countmin_serve precedent) so one config's training tail
      // back-fills the others'; the union below is index-ordered, so
      // the result frame (and its rows) are identical to the
      // sequential build
      val cfgs = Seq(("m4k4", 8, 4, 4), ("m8k16", 32, 8, 16),
        ("m8k32", 40, 8, 32))
      val built =
        new Array[org.apache.spark.sql.DataFrame](cfgs.size)
      graft.model.ConcurrentJobs.awaitAll(
        cfgs.zipWithIndex.map { case ((cfg, bits, m, k), i) => () => {
          built(i) = pqRecallDf(emb, m = m, k = k, rounds = 2)
            .select(lit(cfg).as("cfg"),
              lit(bits).cast("int").as("bits_per_vec"),
              col("query_id"), col("hits"), col("k"))
        }}: _*)
      built.reduce(_ unionByName _)
    },
      // capacity sweep: three full train→ADC→gate replays, one per
      // codebook capacity, each a derived table over the shared
      // pqRecallOracle body (DuckDB allows WITH inside a subquery)
      Seq(("m4k4", 8, 4, 4), ("m8k16", 32, 8, 16), ("m8k32", 40, 8, 32))
        .map { case (cfg, bits, m, k) =>
          s"""SELECT '$cfg' AS cfg, CAST($bits AS INTEGER) AS bits_per_vec,
                query_id, hits, k
              FROM (${pqRecallOracle(m = m, k = k, rounds = 2, topK = 10)})"""
        }.mkString("\n UNION ALL \n")),

    // ── IVF-PQ (IvfPq): the coarse-quantizer + residual-PQ composition
    //    (FAISS IVFPQ) — codes are residuals from the routed list's
    //    centroid, so memory (m codes/vector) and serve work
    //    (nProbe/nLists of the corpus) shrink together. Train, encode,
    //    probe, and ADC-serve are ALL hash-gated: the oracle unrolls
    //    the k-means CTEs twice (full-vector coarse pass, sub-keyed
    //    residual pass) plus probe/distance-table CTEs.
    QuerySpec("q_ivfpq_codes", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.IvfPq.trainEncode(emb, "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)._2
    },
      // IVF-PQ: the double k-means unroll (coarse full-vector pass, then
      // sub-keyed rounds over the residual frame) + probe and ADC CTEs
      ivfPqOracle(nLists = 4, coarseRounds = 2,
        m = 4, k = 4, pqRounds = 2, nProbe = 0, serveTopK = 0)),

    // ── IVF-PQ ADC serving: top-10 of 3 corpus queries probing their 2
    //    nearest lists. A neighbor in an unprobed list is invisible —
    //    that approximation IS the operator; the oracle replays the
    //    same probe rule, so the answer is still deterministic.
    QuerySpec("q_ann_ivfpq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, codes) = graft.ext.IvfPq.trainEncode(emb,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.adcTopK(codes, model,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, nProbe = 2)
    },
      ivfPqOracle(nLists = 4, coarseRounds = 2,
        m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10)),

    // ── The FAISS "OPQ..,IVF..,PQ.." factory composition: the exact-
    //    rational rotation feeds the UNCHANGED IVF-PQ faces (coarse
    //    routing, residual codebooks, probed ADC all operate on the
    //    rotated grid), and the whole chain still hash-gates — the
    //    rotation CTEs simply replace the oracle's comp prelude.
    QuerySpec("q_ann_opq_ivfpq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val rot = graft.ext.Opq.rationalRotation(seed = 7, dim, steps = 16)
      val rotated = graft.ext.Opq.rotateExact(emb, "vec_id", "embedding",
        rot).localCheckpoint()
      val (model, codes) = graft.ext.IvfPq.trainEncode(rotated,
        "vec_id", "rvec",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.adcTopK(codes, model,
        rotated.filter(col("vec_id") < 3), "vec_id", "rvec",
        k = 10, nProbe = 2)
    },
      // the factory composition: rotation CTEs swap in as the comp prelude
      ivfPqOracle(nLists = 4, coarseRounds = 2,
        m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
        rotate = Some((7L, 64, 16)))),

    // ── IVF-PQ on-disk APPEND + pruned serve: build on ⅔ of the
    //    corpus, persist, encode the remainder against the LOADED
    //    model and land it as wave 1, reload, serve with static
    //    partition pruning. The oracle replays codebooks trained on
    //    the ⅔ universe but encode/serve over everything — so the
    //    whole save → append → pinned-reload → pruned-ADC path is
    //    hash-exact, not just spec-gated.
    QuerySpec("q_ann_ivfpq_append", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = tempIndexDir("ivfpq_app", dir)
      val train = emb.filter(col("vec_id") % 3 =!= 2)
      val (model, trainCodes) = graft.ext.IvfPq.trainEncode(train,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.save(model, trainCodes, idxPath)
      val loaded = graft.ext.IvfPq.load(s, idxPath)
      graft.ext.IvfPq.appendSave(idxPath,
        // no checkpoint: the encoded wave has exactly one consumer
        // (the wave write) — a blocking materialization job bought
        // nothing (guide §5: persist only what is reused)
        graft.ext.IvfPq.encode(emb.filter(col("vec_id") % 3 === 2),
          "vec_id", "embedding", loaded.model),
        wave = 1L)
      graft.ext.IvfPq.searchPruned(graft.ext.IvfPq.load(s, idxPath),
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, nProbe = 2)
    },
      // split-universe replay: codebooks train on ⅔, encode/serve on all
      ivfPqOracle(nLists = 4, coarseRounds = 2,
        m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
        trainWhere = Some("vec_id % 3 <> 2"))),

    // ── IVF-PQ two-stage REFINED serve: ADC proposes 30 candidates,
    //    the exact quantized distance re-ranks them to the top-10 —
    //    the production refine pattern that buys back quantization
    //    recall at a bounded exact-compute price (queries × 30 rows
    //    of float-width work; the corpus-wide scan stays code-only).
    QuerySpec("q_ann_ivfpq_refine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, codes) = graft.ext.IvfPq.trainEncode(emb,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.adcRefineTopK(codes, model,
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding",
        k = 10, nProbe = 2, rerank = 30)
    },
      // two-stage refine: ADC top-30 candidates, exact re-rank to 10
      ivfPqOracle(nLists = 4, coarseRounds = 2,
        m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
        rerank = Some(30))),

    // ── IVF-PQ on-disk DELETE + pruned serve: persist, tombstone
    //    every fifth vector, reload, serve — masked vids vanish and
    //    the ranks close up. The oracle is the same serve replay with
    //    the tombstoned vids excluded before ranking.
    QuerySpec("q_ann_ivfpq_delete", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxPath = tempIndexDir("ivfpq_del", dir)
      val (model, codes) = graft.ext.IvfPq.trainEncode(emb,
        "vec_id", "embedding",
        nLists = 4, coarseRounds = 2, m = 4, k = 4, pqRounds = 2)
      graft.ext.IvfPq.save(model, codes, idxPath)
      graft.ext.IvfPq.deleteSave(idxPath,
        emb.filter(col("vec_id") % 5 === 1).select(col("vec_id")),
        "vec_id", wave = 1L)
      graft.ext.IvfPq.searchPruned(graft.ext.IvfPq.load(s, idxPath),
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, nProbe = 2)
    },
      // delete mask: tombstoned vids excluded before ranking
      ivfPqOracle(nLists = 4, coarseRounds = 2,
        m = 4, k = 4, pqRounds = 2, nProbe = 2, serveTopK = 10,
        deleteWhere = Some("vid % 5 = 1"))),

    // ── ANN: DISTRIBUTED probe selection (IvfIndex.searchDistributed) —
    //    each query row explodes its nearest lists in-row and joins the
    //    corpus directly, with no collect of (query, list) pairs as in
    //    search, so the query batch can be arbitrarily large. Sign
    //    quantizer + nProbe = 1 keeps the result same-bucket brute
    //    force, hash-gated by the SAME SQL oracle as q_ann_ivf_pruned —
    //    proving the distributed face probes exactly the lists search
    //    does.
    QuerySpec("q_ann_ivf_dist", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.ext.IvfIndex.buildSign(emb, "vec_id", "embedding",
        bits = 4)
      graft.ext.IvfIndex.searchDistributed(model,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nProbe = 1)
    },
      // distributed probe selection ≡ same-bucket brute force — identical
      // oracle to q_ann_ivf_pruned (the collecting search twin)
      sameBucketTop3Oracle(bits = 4)),

    // ── Exact pairwise co-moment matrix (ext.Comoments): BIGINT
    //    (n, Σx, Σy, Σxy) for all 10 feature pairs per return flag —
    //    in-row products, ONE fully partial-aggregatable hash
    //    aggregate, groups×pairs rows shuffled. Money at scale 1,
    //    ratios at 100 (overflow headroom documented in the operator).
    QuerySpec("q_comoments", (s, dir) =>
      graft.ext.Comoments.comoments(Tables.lineitem(s, dir),
        keys = Seq("l_returnflag"), feats = comomentFeats),
      // generated from the SAME feature grid the operator runs
      // (comomentFeats): one UNION ALL arm per unordered pair, identical
      // half-up quantization, sums cast from DuckDB's HUGEINT to BIGINT
      comomentOracle),

    // ── Embedding truncation recall (ext.EmbedEval): the top-10 cosine
    //    neighbors at 16 of 64 dims vs the full ranking, per query —
    //    the exact price of a 4× index-size cut, measured before
    //    anything is discarded. Both rankings are the decimal-exact
    //    brute-force machinery, so the overlap is deterministic.
    QuerySpec("q_trunc_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.EmbedEval.truncationRecall(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dims = 16, k = 10)
    },
      // both rankings replayed with the decimal-exact dot (the q_ann_brute
      // parity), truncation as the same 1-based list slice, overlap
      // counted on (query, neighbor) with zero-overlap queries kept
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         pf AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c
                ON query_id <> neighbor_id),
         df_ AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM pf, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         fr AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number()
                    OVER (PARTITION BY query_id
                          ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC,
                                neighbor_id) AS rk
                  FROM df_) WHERE rk <= 10),
         qt AS (SELECT vec_id AS query_id, embedding[1:16] AS qv
                FROM embeddings WHERE vec_id < 8),
         ct AS (SELECT vec_id AS neighbor_id, embedding[1:16] AS cv
                FROM embeddings),
         pt AS (SELECT query_id, neighbor_id, qv, cv FROM qt JOIN ct
                ON query_id <> neighbor_id),
         dt AS (SELECT query_id, neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM pt, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1, 2),
         tr AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number()
                    OVER (PARTITION BY query_id
                          ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC,
                                neighbor_id) AS rk
                  FROM dt) WHERE rk <= 10),
         ov AS (SELECT t.query_id, count(*) AS n
                FROM tr t JOIN fr f USING (query_id, neighbor_id)
                GROUP BY 1)
         SELECT qq.query_id,
                CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
                10 AS k
         FROM (SELECT DISTINCT query_id FROM qt) qq
         LEFT JOIN ov USING (query_id)""")
  )
}
