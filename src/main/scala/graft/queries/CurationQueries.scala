package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis}
import graft.model.Tables
import graft.queries.MediaQueries.{MediaAudioOff, MediaVideoOff, audioFpCtes,
  imageFpCtes, mediaPairGraph, videoFpCtes}

/** Training-corpus curation: sampling and selection, decontamination,
  * packing and splits, the trainable quality gate and the end-to-end
  * curation funnel reports. */
object CurationQueries {

  /** The perceptron feature columns (order = weight indices 1..4). */
  private val PerceptronX = Seq("x_one", "x_sw", "x_punct", "x_len")

  /** The perceptron feature frame: micro-unit density features over
    * the qualityTCte integers, labeled by the quality threshold the
    * gate is distilling. Integer division is non-negative on both
    * sides by construction (w ≥ 1 — a split always yields ≥ 1 token —
    * and greatest(c, 1)), so Spark `div` ≡ DuckDB `//`. Shared by
    * q_perceptron (training) and q_perceptron_score (inference). */
  private def perceptronFeatures(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("w"),
        length(col("text")).cast("long").as("c"),
        TextAnalysis.punctCount(col("text")).cast("long").as("p"),
        TextAnalysis.markerCount(col("text"), ExtConfig.stopwords)
          .cast("long").as("m"),
        TextAnalysis.qualityScore(col("text"), ExtConfig.stopwords).as("q"))
      .select(col("doc_id"),
        when(col("q") >= 0.55, 1L).otherwise(-1L).as("y"),
        lit(1000000L).as("x_one"),
        expr("(m * 1000000) div w").as("x_sw"),
        expr("(p * 1000000) div greatest(c, 1)").as("x_punct"),
        (least(col("w"), lit(50L)) * lit(20000L)).as("x_len"))

  /** DOC-space drop list from the media keep election: a doc appears
    * when ANY of its attached media (all three families key media by
    * the owning doc_id) lost its cluster's keep-min election. Bounded
    * by the media count — broadcastable by construction. */
  private def mediaDropDocs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.ext.Components.connectedAdaptive(
        mediaPairGraph(s, dir), "doc_a", "doc_b")
      .filter(col("node") =!= col("component"))
      .select((col("node") - when(col("node") >= MediaVideoOff,
          lit(MediaVideoOff))
        .when(col("node") >= MediaAudioOff, lit(MediaAudioOff))
        .otherwise(lit(0L))).as("doc_id"))
      .distinct()

  /** The funnel gate CTEs (dw through gated: per-doc signals,
    * p1..p6 flags, keep-min dedup) — shared by q_corpus_funnel and
    * q_e2e_curation. Requires $qualityTCte earlier in the WITH. */
  // a def, not a val: it interpolates qualityFormulaSql, which is
  // declared LATER in this object — a val here would capture null
  // during initialization (measured: the oracle silently computed
  // `null AS quality` and zeroed every stage past 2)
  private def funnelGatedCtes: String =
    s"""dw AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
           FROM documents),
         ref AS (SELECT w FROM dw WHERE doc_id % 10 = 0),
         uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(w) AS w1 FROM ref) GROUP BY 1),
         bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS cb
                FROM (SELECT w[i] || ' ' || w[i+1] AS gram
                      FROM ref, UNNEST(range(1, len(w))) t(i)) GROUP BY 1),
         consts AS (SELECT CAST((SELECT count(*) FROM uni) AS BIGINT) AS v,
                           CAST((SELECT sum(cu) FROM uni) AS BIGINT) AS n),
         cand AS (SELECT doc_id, w FROM dw WHERE len(w) >= 1),
         ft AS (SELECT doc_id, CAST(1 AS BIGINT) AS toks,
                 CAST(floor((ln(COALESCE(cu, 0) + 1) - ln(n + v)) * 1000000)
                   AS BIGINT) AS t2
                FROM (SELECT doc_id, w[1] AS w1 FROM cand)
                LEFT JOIN uni USING (w1), consts),
         bg AS (SELECT doc_id, w1, gram, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS gram
                      FROM cand, UNNEST(range(1, len(w))) t(i))
                GROUP BY 1, 2, 3),
         bt AS (SELECT doc_id, cnt AS toks,
                 CAST(floor(cnt * (ln(COALESCE(cb, 0) + 1)
                                   - ln(COALESCE(cu, 0) + v)) * 1000000)
                   AS BIGINT) AS t2
                FROM bg LEFT JOIN bi USING (gram)
                        LEFT JOIN uni USING (w1), consts),
         ppl AS (SELECT doc_id,
                  CAST((-20000 * CAST(sum(t2) AS BIGINT)
                        + 1000000 * CAST(sum(toks) AS BIGINT))
                       // (2000000 * CAST(sum(toks) AS BIGINT))
                       AS DOUBLE) / 10000.0 AS nll
                 FROM (SELECT * FROM ft UNION ALL SELECT * FROM bt)
                 GROUP BY 1),
         sig AS (SELECT d.doc_id, d.lang, t.w AS toks,
                  $qualityFormulaSql AS quality,
                  CAST(floor((2*(len(string_split_regex(lower(trim(d.text)), '\\s+'))
                       - len(list_distinct(string_split_regex(lower(trim(d.text)), '\\s+'))))*10000
                       + greatest(len(string_split_regex(lower(trim(d.text)), '\\s+')), 1))
                      / (2*greatest(len(string_split_regex(lower(trim(d.text)), '\\s+')), 1)))
                    AS DOUBLE) / 10000 AS dup_frac,
                  md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp,
                  ppl.nll
                 FROM documents d JOIN t ON d.doc_id = t.doc_id
                 LEFT JOIN ppl ON d.doc_id = ppl.doc_id),
         flag AS (SELECT *,
                  (lang IN ('en', 'de', 'fr')) AS p1,
                  (p1 AND toks BETWEEN 20 AND 90) AS p2,
                  (p2 AND quality >= 0.55) AS p3,
                  (p3 AND dup_frac <= 0.65) AS p4,
                  (p4 AND COALESCE(nll <= 3.6, false)) AS p5
                 FROM sig),
         keepmin AS (SELECT fp, min(doc_id) AS keep_id FROM flag
                     WHERE p5 GROUP BY 1),
         gated AS (SELECT flag.*,
                    (p5 AND flag.doc_id = keep_id) AS p6
                   FROM flag LEFT JOIN keepmin USING (fp))"""

  /** The batch-perceptron replay: the quality-signal feature CTE plus
    * one (margin, update, weights) CTE triple per round — all BIGINT.
    * `score = false` emits the trained weight vector (long format);
    * `score = true` adds one more margin pass under the final weights
    * and emits per-doc (margin, pred). */
  private def perceptronOracle(rounds: Int, score: Boolean,
      avg: Boolean = false): String = {
    val w0 =
      s"""f AS (SELECT doc_id,
             CASE WHEN $qualityFormulaSql >= 0.55 THEN 1 ELSE -1 END AS y,
             CAST(1000000 AS BIGINT) AS xo,
             (m * 1000000) // w AS xs,
             (p * 1000000) // greatest(c, 1) AS xp,
             least(w, 50) * 20000 AS xl
           FROM t),
         w0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS vo,
                       CAST(0 AS BIGINT) AS vs, CAST(0 AS BIGINT) AS vp,
                       CAST(0 AS BIGINT) AS vl)"""
    val last = if (score) rounds + 1 else rounds
    val perRound = (1 to last).map { r =>
      val accum = // the averaged face: running Σᵣ wᵣ alongside the walk
        if (!avg || r == rounds + 1) ""
        else {
          val prev = if (r == 1) "w0" else s"a${r - 1}" // a0 ≡ w0 (zeros)
          s""",
         a$r AS (SELECT av.b + wv.b AS b, av.vo + wv.vo AS vo,
                        av.vs + wv.vs AS vs, av.vp + wv.vp AS vp,
                        av.vl + wv.vl AS vl
                 FROM $prev av, w$r wv)"""
        }
      val tail =
        if (r == rounds + 1) "" // score-only margin pass: no update CTEs
        else s""",
         u$r AS (SELECT
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y END), 0) AS BIGINT) AS db,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xo END), 0) AS BIGINT) AS do_,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xs END), 0) AS BIGINT) AS ds,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xp END), 0) AS BIGINT) AS dp,
             CAST(coalesce(sum(CASE WHEN y * mg <= 0 THEN y * xl END), 0) AS BIGINT) AS dl
           FROM g$r),
         w$r AS (SELECT wv.b + u.db AS b, wv.vo + u.do_ AS vo,
                        wv.vs + u.ds AS vs, wv.vp + u.dp AS vp,
                        wv.vl + u.dl AS vl
                 FROM w${r - 1} wv, u$r u)$accum"""
      // the score-only pass reads the AVERAGED weights when avg is on
      val src = if (r == rounds + 1 && avg) s"a$rounds" else s"w${r - 1}"
      s"""g$r AS (SELECT f.*,
             wv.b + wv.vo * xo + wv.vs * xs + wv.vp * xp + wv.vl * xl AS mg
           FROM f, $src wv)$tail"""
    }
    val wsrc = if (avg) s"a$rounds" else s"w$rounds"
    val finalSelect =
      if (score)
        s"""SELECT doc_id, mg AS margin,
             CAST(CASE WHEN mg > 0 THEN 1 ELSE -1 END AS INTEGER) AS pred
           FROM g$last"""
      else
        (0 to 4).zip(Seq("b", "vo", "vs", "vp", "vl")).map { case (j, v) =>
          s"SELECT CAST($j AS INTEGER) AS j, $v AS weight FROM $wsrc"
        }.mkString(" UNION ALL ")
    (Seq(qualityTCte, w0) ++ perRound)
      .mkString("WITH ", ",\n         ", "\n") + finalSelect
  }

  val specs: Seq[QuerySpec] = Seq(
    // ── Diversity-quota selection (composition: Similarity.signBucket +
    //    Sampling.fixedSizePerGroup): at most 2 vectors per sign-LSH
    //    bucket, hash-ranked — the cheap "spread the sample across
    //    embedding space" curation draw (a bucket = one coarse region;
    //    the quota stops any dense region from dominating the sample).
    QuerySpec("q_diverse_sample", (s, dir) =>
      graft.ext.Sampling.fixedSizePerGroup(
        Tables.embeddings(s, dir).select(col("vec_id"),
          graft.ext.Similarity.signBucket(col("embedding"), 8).as("bucket")),
        keys = Seq("bucket"), idCol = "vec_id", n = 2)
        .withColumn("rk", col("rk").cast("long")),
      // same sign-bucket arithmetic as the q_ann_lsh oracle; same md5 rank
      // order as q_sample_n (fixed-length lowercase hex sorts identically
      // to its numeric value, so the 8-char prefix IS the rank key)
      s"""WITH b AS (SELECT vec_id,
             ${signBucketSql(8)} AS bucket
           FROM embeddings),
         r AS (SELECT vec_id, bucket,
                 row_number() OVER (PARTITION BY bucket
                   ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                            vec_id) AS rk
               FROM b)
         SELECT vec_id, bucket, rk FROM r WHERE rk <= 2"""),

    // ── Token-budget mixture selection (ext.Sampling.tokenBudget): each
    //    language keeps hash-ranked docs until its token budget is spent
    //    — the "recipe in tokens" selector a pretraining mix actually
    //    specifies. Budgets bite at every SF (en 300 tokens ≈ 10 docs).
    QuerySpec("q_token_budget", (s, dir) =>
      graft.ext.Sampling.tokenBudget(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        domainCol = "lang", idCol = "doc_id", tokenCol = "n_tokens",
        budgets = Map("en" -> 300L, "de" -> 150L, "es" -> 150L,
          "fr" -> 150L, "zh" -> 100L)),
      // same md5 rank order as the operator — fixed-length lowercase hex
      // sorts identically to its numeric value, so the 8-nibble prefix
      // string IS the rank key; same ws-token count as q_token_count
      """WITH d AS (SELECT doc_id, lang,
             CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                  AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
           FROM d)
         SELECT doc_id, lang, n_tokens, tokens_before
         FROM c
         WHERE tokens_before < CASE lang WHEN 'en' THEN 300
                                         WHEN 'de' THEN 150
                                         WHEN 'es' THEN 150
                                         WHEN 'fr' THEN 150
                                         WHEN 'zh' THEN 100 ELSE 0 END"""),

    // ── DSIR importance selection (ext.Dsir.selectTopK): score raw docs
    //    by the hashed-ngram log-likelihood ratio against a target corpus
    //    (every 10th doc plays the target), keep the top 200. Bucket
    //    distributions broadcast; exact BIGINT quantized sums make the
    //    ranking total and engine-reproducible; TakeOrderedAndProject.
    QuerySpec("q_dsir", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      graft.ext.Dsir.selectTopK(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 200, buckets = 256)
    },
      // mirrors Dsir.weights exactly: same 4-nibble md5 bucket arithmetic
      // as q_split, same ln-term formula SHAPE (left-assoc, integer args),
      // same floor(·1e6) BIGINT quantization as q_entropy; totals cast out
      // of HUGEINT before the ln
      """WITH dw AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         g AS (SELECT doc_id, unnest(w) AS g FROM dw
               UNION ALL
               SELECT doc_id, w[i] || ' ' || w[i+1] AS g
               FROM dw, UNNEST(range(1, len(w))) t(i)),
         b AS (SELECT doc_id,
                ((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1)) % 256
                 AS bucket
               FROM g),
         feat AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
         rfeat AS (SELECT * FROM feat WHERE doc_id % 10 <> 0),
         tfeat AS (SELECT * FROM feat WHERE doc_id % 10 = 0),
         rdist AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc
                   FROM rfeat GROUP BY 1),
         tdist AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
                   FROM tfeat GROUP BY 1),
         tot AS (SELECT CAST((SELECT sum(rc) FROM rdist) AS BIGINT) AS rtot,
                        CAST((SELECT sum(tc) FROM tdist) AS BIGINT) AS ttot),
         terms AS (SELECT doc_id, cnt,
                CAST(floor(cnt * (ln(COALESCE(tc, 0) + 1)
                                  - ln(ttot + 256)
                                  - ln(rc + 1)
                                  + ln(rtot + 256)) * 1000000) AS BIGINT) AS t
               FROM rfeat JOIN rdist USING (bucket)
                          LEFT JOIN tdist USING (bucket), tot),
         s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feat,
                      CAST(sum(t) AS BIGINT) AS sq
               FROM terms GROUP BY 1)
         SELECT doc_id, n_feat,
                round(CAST(sq AS DOUBLE) / 1000000.0, 4) + 0.0 AS logw
         FROM s ORDER BY sq DESC, doc_id LIMIT 200"""),

    // ── Exactly-50-per-type deterministic sample: rank by the 32-bit id
    //    hash inside each group (ext.Sampling.fixedSizePerGroup) — the
    //    fixed-size eval-set draw, exact counts where stratified's coin
    //    flip gives rates.
    QuerySpec("q_sample_n", (s, dir) =>
      graft.ext.Sampling.fixedSizePerGroup(
        Tables.events(s, dir).select(col("event_id"), col("event_type")),
        keys = Seq("event_type"), idCol = "event_id", n = 50)
        .withColumn("rk", col("rk").cast("long")),
      // same 8-nibble md5 rank order as the operator; row_number under a
      // total order, exact top-50 per type
      """WITH b AS (SELECT event_id, event_type,
                 (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 8, 1)) - 1) AS bucket
               FROM events),
         r AS (SELECT event_id, event_type,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY bucket, event_id) AS rk
               FROM b)
         SELECT event_id, event_type, rk FROM r WHERE rk <= 50"""),

    // ── Deterministic uniform negative sampling for contrastive
    //    training: k=3 hash-derived negatives per (order, part) positive,
    //    item domain broadcast as a one-row aggregate — per-row codegen
    //    arithmetic, no shuffle of the positives (ext.NegativeSampling).
    QuerySpec("q_neg_sample", (s, dir) => {
      val pos = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") <= 6000)
        .select(col("l_orderkey").as("entity"), col("l_partkey").as("item"))
      graft.ext.NegativeSampling.uniformNegatives(
        pos, "entity", "item", Tables.part(s, dir), "p_partkey", k = 3)
        .withColumn("j", col("j").cast("long"))
    },
      // same 8-nibble md5 bucket arithmetic as q_split (4 nibbles), item
      // domain from the part table, self-collisions dropped
      """WITH mx AS (SELECT max(p_partkey) AS m FROM part),
         p AS (SELECT l_orderkey AS entity, l_partkey AS item
               FROM lineitem WHERE l_orderkey <= 6000),
         x AS (SELECT entity, item, j,
                      md5(concat_ws(':', entity, item, j)) AS h
               FROM p, (SELECT unnest(range(3)) AS j)),
         b AS (SELECT entity, item, j,
                 (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) AS bucket
               FROM x)
         SELECT entity, item, j, bucket % (SELECT m FROM mx) + 1 AS neg_item
         FROM b WHERE bucket % (SELECT m FROM mx) + 1 <> item"""),

    // ── Decontamination: n-gram containment of held-out docs in the
    //    training corpus vocabulary (train/test overlap check). Probes =
    //    every 10th doc; corpus = the rest.
    QuerySpec("q_contamination", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.ngramContainment(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3)
    },
      """WITH cw AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
                     FROM documents WHERE doc_id % 10 <> 0),
         vocab AS (SELECT DISTINCT w[i]||' '||w[i+1]||' '||w[i+2] AS s
                   FROM cw, UNNEST(range(1, len(w)-1)) t(i)),
         pw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                FROM documents WHERE doc_id % 10 = 0),
         ps AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM pw, UNNEST(range(1, len(w)-1)) t(i)),
         hits AS (SELECT doc_id, count(*) AS n_hit FROM ps
                  WHERE s IN (SELECT s FROM vocab) GROUP BY 1),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM ps GROUP BY 1)
         SELECT sizes.doc_id, n_sh, COALESCE(n_hit, 0) AS n_hit,
                round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_sh, 4) AS containment
         FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id"""),

    // ── Sequence packing: concat-and-chunk pack assignment under a
    //    256-token budget, sharded by language (deterministic window
    //    arithmetic — reproducible on any cluster and in plain SQL).
    QuerySpec("q_pack", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ext.Packing.packSequences(docs, "doc_id", "n_tokens", "lang", 256L)
    },
      """WITH d AS (SELECT doc_id, lang,
                len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
              FROM documents),
         c AS (SELECT lang, doc_id, n_tokens,
                CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
               FROM d)
         SELECT lang, doc_id, n_tokens,
                CAST(floor(start_tok / 256.0) AS BIGINT) AS pack_id,
                start_tok % 256 AS pack_offset
         FROM c"""),

    // ── Deterministic train/val/test split: content-hash buckets, same
    //    assignment on every run / cluster / engine (no rand(), no seed
    //    bookkeeping) — reproducible dataset splits are a first-class
    //    training-pipeline requirement.
    QuerySpec("q_split", (s, dir) =>
      graft.ext.Splits.hashSplit(
          Tables.documents(s, dir).select(col("doc_id")),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")),
      // split boundaries: floor(0.8*65536)=52428, floor(0.9*65536)=58982;
      // bucket = first 4 md5 nibbles (Spark computes the same value via conv)
      """WITH b AS (SELECT doc_id,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents)
         SELECT doc_id,
                CASE WHEN bucket < 52428 THEN 'train'
                     WHEN bucket < 58982 THEN 'val'
                     ELSE 'test' END AS split
         FROM b"""),

    // ── Deterministic training-order shuffle (ext.Splits.shardOrder):
    //    hash-bucket shard + md5-rank position within it — reproducible
    //    visit order, one SHARD-partitioned window, no global sort.
    QuerySpec("q_shuffle_shard", (s, dir) =>
      graft.ext.Splits.shardOrder(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", 8),
      // same 4-nibble bucket arithmetic as q_split; pos ranks by the raw
      // md5 string (fixed-width lowercase hex = byte order in both engines)
      """WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 8
                 AS shard
              FROM documents)
         SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) AS BIGINT) AS pos
         FROM b"""),

    // ── Cross-doc boilerplate scrub (ext.Boilerplate): the C4-style
    //    line-dedup filter over fixed-width word segments (this corpus
    //    has no newlines — the segmenter is the only corpus-specific
    //    knob). Segment df is one hash agg; the boilerplate set is
    //    BROADCAST back; the corpus shuffles once, for reassembly.
    QuerySpec("q_boilerplate", (s, dir) =>
      graft.ext.Boilerplate.scrub(Tables.documents(s, dir), "doc_id",
        "text", width = 5, minDocs = 2),
      // segment / df-count / filter / ordered-reassembly mirrored:
      // range() is 0-based like Spark's sequence, list slices are 1-based
      // inclusive and clamp like Spark's slice; string_agg ORDER BY
      // seg_idx == array_sort(collect_list(struct(seg_idx, seg)))
      """WITH w AS (SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
         seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                   array_to_string(ws[(i*5+1):(i*5+5)], ' ') AS seg
                 FROM w, UNNEST(range((len(ws) + 4) // 5)) AS t(i)),
         bl AS (SELECT seg FROM seg GROUP BY seg
                HAVING count(DISTINCT doc_id) >= 2),
         m AS (SELECT s.doc_id, s.seg_idx, s.seg,
                      b.seg IS NOT NULL AS is_bl
               FROM seg s LEFT JOIN bl b ON s.seg = b.seg)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
                CAST(count(*) FILTER (WHERE NOT is_bl) AS BIGINT) AS n_kept,
                COALESCE(string_agg(seg, ' ' ORDER BY seg_idx)
                         FILTER (WHERE NOT is_bl), '') AS clean_text
         FROM m GROUP BY doc_id"""),

    // ── The whole curation funnel as a 6-row audit report
    //    (ext.CurationFunnel): lang → length → quality → repetition →
    //    perplexity → exact-dedup, sequential gates, per-stage doc and
    //    token drop counters — the ingest run report, composed entirely
    //    from this library's per-doc signals.
    QuerySpec("q_corpus_funnel", (s, dir) => {
      val d = Tables.documents(s, dir)
      graft.ext.CurationFunnel.report(
        d, d.filter(col("doc_id") % 10 === 0), "doc_id", "text", "lang",
        keepLangs = Seq("en", "de", "fr"), minTokens = 20L, maxTokens = 90L,
        minQuality = 0.55, stopwords = ExtConfig.stopwords,
        maxDupFrac = 0.65, maxNll = 3.6)
    },
      // composes the proven oracle fragments: quality t-CTE + half-up
      // formula, the q_ngram_lm LM CTEs (candidates = ALL docs here), the
      // fingerprint normalization, and DuckDB lateral column references
      // for the sequential gates; HUGEINT sums cast to BIGINT
      s"""WITH $qualityTCte,
         $funnelGatedCtes,
         wide AS (SELECT count(*) AS c0,
                  count(*) FILTER (WHERE p1) AS c1,
                  count(*) FILTER (WHERE p2) AS c2,
                  count(*) FILTER (WHERE p3) AS c3,
                  count(*) FILTER (WHERE p4) AS c4,
                  count(*) FILTER (WHERE p5) AS c5,
                  count(*) FILTER (WHERE COALESCE(p6, false)) AS c6,
                  CAST(COALESCE(sum(toks) FILTER (WHERE NOT p1), 0) AS BIGINT) AS td1,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p1 AND NOT p2), 0) AS BIGINT) AS td2,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p2 AND NOT p3), 0) AS BIGINT) AS td3,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p3 AND NOT p4), 0) AS BIGINT) AS td4,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p4 AND NOT p5), 0) AS BIGINT) AS td5,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p5 AND NOT COALESCE(p6, false)), 0) AS BIGINT) AS td6
                 FROM gated)
         SELECT CAST(1 AS BIGINT) AS stage, 'lang' AS gate, c0 AS n_in,
                c1 AS n_kept, c0 - c1 AS n_dropped, td1 AS tokens_dropped FROM wide
         UNION ALL SELECT 2, 'length', c1, c2, c1 - c2, td2 FROM wide
         UNION ALL SELECT 3, 'quality', c2, c3, c2 - c3, td3 FROM wide
         UNION ALL SELECT 4, 'repetition', c3, c4, c3 - c4, td4 FROM wide
         UNION ALL SELECT 5, 'perplexity', c4, c5, c4 - c5, td5 FROM wide
         UNION ALL SELECT 6, 'dedup', c5, c6, c5 - c6, td6 FROM wide"""),

    // ── END-TO-END curation (the demo row a real user reads first):
    //    the six text gates + the media near-dup gate + mixture +
    //    token budgets + packing, ONE audited report — every stage's
    //    counters hash-gate against a full SQL replay (funnel CTEs +
    //    the recursive media closure + the mix/budget/pack rules).
    QuerySpec("q_e2e_curation", (s, dir) => {
      val d = Tables.documents(s, dir)
      graft.ext.CurationE2e.report(
        d, d.filter(col("doc_id") % 10 === 0), "doc_id", "text", "lang",
        keepLangs = Seq("en", "de", "fr"), minTokens = 20L, maxTokens = 90L,
        minQuality = 0.55, stopwords = ExtConfig.stopwords,
        maxDupFrac = 0.65, maxNll = 3.6,
        mediaDrop = mediaDropDocs(s, dir),
        upFactors = Map("en" -> 1.5, "de" -> 0.5),
        budgets = Map("en" -> 300L, "de" -> 150L, "fr" -> 150L),
        packTokens = 128L)
    },
      // the WHOLE pipeline replayed: funnel gates + the recursive media
      // closure (doc-space drop list) + the mix/budget/pack rules — all
      // BIGINT counters
      s"""WITH RECURSIVE $qualityTCte,
         $funnelGatedCtes,
         ${imageFpCtes("i_")},
         ${audioFpCtes("a_")},
         ${videoFpCtes("v_")},
         pairs AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM i_fp a JOIN i_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaAudioOff, b.doc_id + $MediaAudioOff
           FROM a_fp a JOIN a_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaVideoOff, b.doc_id + $MediaVideoOff
           FROM v_fp a JOIN v_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3),
         $closureOracle,
         mdrop AS (SELECT DISTINCT node
                    - CASE WHEN node >= $MediaVideoOff THEN $MediaVideoOff
                           WHEN node >= $MediaAudioOff THEN $MediaAudioOff
                           ELSE 0 END AS doc_id
                   FROM comp WHERE node <> cluster_id),
         g7 AS (SELECT gated.*,
                  (COALESCE(p6, false) AND
                   gated.doc_id NOT IN (SELECT doc_id FROM mdrop)) AS p7
                FROM gated),
         wide AS (SELECT count(*) AS c0,
                  count(*) FILTER (WHERE p1) AS c1,
                  count(*) FILTER (WHERE p2) AS c2,
                  count(*) FILTER (WHERE p3) AS c3,
                  count(*) FILTER (WHERE p4) AS c4,
                  count(*) FILTER (WHERE p5) AS c5,
                  count(*) FILTER (WHERE COALESCE(p6, false)) AS c6,
                  count(*) FILTER (WHERE p7) AS c7,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p1), 0) AS BIGINT) AS t1,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p2), 0) AS BIGINT) AS t2,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p3), 0) AS BIGINT) AS t3,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p4), 0) AS BIGINT) AS t4,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p5), 0) AS BIGINT) AS t5,
                  CAST(COALESCE(sum(toks) FILTER (WHERE COALESCE(p6, false)), 0) AS BIGINT) AS t6,
                  CAST(COALESCE(sum(toks) FILTER (WHERE p7), 0) AS BIGINT) AS t7
                 FROM g7),
         surv AS (SELECT doc_id, lang, toks FROM g7 WHERE p7),
         mixn AS (SELECT doc_id, lang, toks,
                  CASE lang WHEN 'en' THEN 1 + CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                            WHEN 'de' THEN CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                            ELSE 1 END AS n
                  FROM (SELECT doc_id, lang, toks,
                        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
                        FROM surv)),
         mix AS (SELECT doc_id, lang, toks,
                   unnest(range(CAST(n AS BIGINT))) AS copy_idx
                 FROM mixn WHERE n >= 1),
         bud AS (SELECT doc_id, lang, toks, copy_idx,
                  CAST(COALESCE(sum(toks) OVER (PARTITION BY lang
                    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                             doc_id, copy_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS tokens_before
                 FROM mix),
         kept AS (SELECT doc_id, lang, toks, copy_idx FROM bud
                  WHERE tokens_before <
                    CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 150
                              WHEN 'fr' THEN 150 ELSE 0 END),
         pk AS (SELECT lang, toks,
                  CAST(floor(CAST(COALESCE(sum(toks) OVER (
                    PARTITION BY lang
                    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                             doc_id, copy_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) / 128.0) AS BIGINT) AS pack_id
                FROM kept),
         s8 AS (SELECT (SELECT c7 FROM wide) AS n_in,
                  count(*) AS n_out,
                  CAST(COALESCE(sum(toks), 0) AS BIGINT) AS tokens_out
                FROM mix),
         s9 AS (SELECT (SELECT count(*) FROM mix) AS n_in,
                  count(*) AS n_out,
                  CAST(COALESCE(sum(toks), 0) AS BIGINT) AS tokens_out
                FROM kept),
         s10 AS (SELECT (SELECT count(*) FROM kept) AS n_in,
                  count(DISTINCT (lang, pack_id)) AS n_out,
                  CAST(COALESCE(sum(toks), 0) AS BIGINT) AS tokens_out
                 FROM pk)
         SELECT CAST(1 AS BIGINT) AS stage, 'lang' AS gate, c0 AS n_in,
                c1 AS n_out, t1 AS tokens_out FROM wide
         UNION ALL SELECT 2, 'length', c1, c2, t2 FROM wide
         UNION ALL SELECT 3, 'quality', c2, c3, t3 FROM wide
         UNION ALL SELECT 4, 'repetition', c3, c4, t4 FROM wide
         UNION ALL SELECT 5, 'perplexity', c4, c5, t5 FROM wide
         UNION ALL SELECT 6, 'dedup', c5, c6, t6 FROM wide
         UNION ALL SELECT 7, 'media_dedup', c6, c7, t7 FROM wide
         UNION ALL SELECT 8, 'mixture', n_in, n_out, tokens_out FROM s8
         UNION ALL SELECT 9, 'token_budget', n_in, n_out, tokens_out FROM s9
         UNION ALL SELECT 10, 'pack', n_in, n_out, tokens_out FROM s10"""),

    // ── Split-leakage audit (ext.Splits.leakageAudit): a simulated
    //    re-crawl (every doc duplicated under a shifted id) is split by
    //    id hash; fingerprints spanning ≥2 splits are the leaked groups —
    //    the train/val contamination check run after any id-keyed split.
    QuerySpec("q_split_leakage", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .localCheckpoint() // both union branches read it
      val corpus = docs.unionAll(docs.select(
        (col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.ext.Splits.leakageAudit(corpus, "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },
      // same bucket arithmetic as q_split over the doubled corpus;
      // string_agg(DISTINCT ... ORDER BY) == array_join(array_sort(collect_set))
      """WITH corpus AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
         b AS (SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM corpus),
         s AS (SELECT doc_id, fp,
                CASE WHEN bucket < 52428 THEN 'train'
                     WHEN bucket < 58982 THEN 'val'
                     ELSE 'test' END AS split
              FROM b)
         SELECT fp, count(*) AS n_docs,
                count(DISTINCT split) AS n_splits,
                string_agg(DISTINCT split, ',' ORDER BY split) AS splits,
                min(doc_id) AS first_id
         FROM s GROUP BY fp HAVING count(DISTINCT split) >= 2"""),

    // ── Deterministic stratified sampling: per-stratum keep rates decided
    //    by the id's md5 bucket (same scheme as q_split) — a reproducible
    //    "data recipe" filter, not a rand() draw.
    QuerySpec("q_stratified_sample", (s, dir) =>
      graft.ext.Sampling.stratified(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25)),
      // same md5-nibble bucket as q_split; en keeps bucket<32768 (0.5),
      // de bucket<16384 (0.25), other strata keep everything
      """WITH b AS (SELECT doc_id, lang,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents)
         SELECT doc_id, lang FROM b
         WHERE bucket < CASE lang WHEN 'en' THEN 32768
                                  WHEN 'de' THEN 16384
                                  ELSE 65536 END"""),

    // ── Corpus mixing: fractional up/down-sampling by repeat factor —
    //    en×1.5 (every row once, half twice), de×0.5 (half the rows),
    //    others unchanged; copy_idx spreads the duplicates downstream.
    QuerySpec("q_mix_upsample", (s, dir) =>
      graft.ext.Sampling.upsample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 1.5, "de" -> 0.5)),
      // en: 1 copy + bucket<32768 gets a 2nd; de: bucket<32768 keeps 1; rest 1
      """WITH b AS (SELECT doc_id, lang,
                (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents),
         n AS (SELECT doc_id, lang,
                CASE lang WHEN 'en' THEN 1 + CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                          WHEN 'de' THEN CASE WHEN bucket < 32768 THEN 1 ELSE 0 END
                          ELSE 1 END AS n
               FROM b)
         SELECT doc_id, lang, unnest(range(CAST(n AS BIGINT))) AS copy_idx
         FROM n WHERE n >= 1"""),

    // ── TRAINABLE linear gate: integer-exact batch perceptron that
    //    DISTILLS the composite quality scorer into a cheap filter —
    //    label = (qualityScore ≥ 0.55, the CurationFunnel threshold),
    //    features = micro-unit densities (stopword, punct, capped
    //    length) + a scaled constant. Trains past the 78.6% majority
    //    baseline to ~89% at sf0.1 in 8 rounds — real learning, and
    //    because the rounds are a fixed BIGINT recurrence, the WEIGHTS
    //    hash-gate (q_perceptron) and so do per-doc margins +
    //    predictions (q_perceptron_score) — a float SGD classifier
    //    could never make this claim.
    QuerySpec("q_perceptron", (s, dir) => {
      import s.implicits._
      val m = graft.ext.Perceptron.train(perceptronFeatures(s, dir),
        "y", PerceptronX, rounds = 8)
      m.w.toSeq.zipWithIndex.map { case (v, j) => (j, v) }
        .toDF("j", "weight")
    },
      // the batch-perceptron unroll over the quality-signal features:
      // weights after 3 rounds, and per-doc margins/predictions under
      // the trained model
      perceptronOracle(rounds = 8, score = false)),

    QuerySpec("q_perceptron_score", (s, dir) => {
      val f = perceptronFeatures(s, dir)
      val m = graft.ext.Perceptron.train(f, "y", PerceptronX, rounds = 8)
      m.predict(f, "doc_id")
    },
      perceptronOracle(rounds = 8, score = true)),

    // ── AVERAGED perceptron (Collins 2002): weights = Σᵣ wᵣ — the
    //    ×rounds scaling of the average, sign- and order-identical to
    //    the averaged classifier but BIGINT-exact, so the variance-
    //    damped model hash-gates too (weights AND its served margins).
    QuerySpec("q_perceptron_avg", (s, dir) => {
      import s.implicits._
      val m = graft.ext.Perceptron.trainAveraged(
        perceptronFeatures(s, dir), "y", PerceptronX, rounds = 8)
      m.w.toSeq.zipWithIndex.map { case (v, j) => (j, v) }
        .toDF("j", "weight")
    },
      // the averaged face: running Σᵣ wᵣ CTEs alongside the same walk
      perceptronOracle(rounds = 8, score = false, avg = true)),

    QuerySpec("q_perceptron_avg_score", (s, dir) => {
      val f = perceptronFeatures(s, dir)
      val m = graft.ext.Perceptron.trainAveraged(f, "y", PerceptronX,
        rounds = 8)
      m.predict(f, "doc_id")
    },
      perceptronOracle(rounds = 8, score = true, avg = true)),

    // ── Weighted exactly-25-per-lang draw (ext.Sampling A-ES): rank by
    //    ln(u)/n_chars over the deterministic 32-bit id coin — length-
    //    proportional inclusion, seedless and SQL-replayable; one
    //    ordered window on the group key.
    QuerySpec("q_weighted_sample", (s, dir) =>
      graft.ext.Sampling.weightedFixedSize(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        keys = Seq("lang"), idCol = "doc_id", weightCol = "n_chars",
        n = 25)
        .withColumn("rk", col("rk").cast("long")),
      // the q_sample_n md5-bucket arithmetic feeding the A-ES key
      // ln(u)/weight rounded to 10 dp (the accepted ln-ulp class), same
      // (key desc, id) order and the same weight>0 drop
      """WITH b AS (SELECT doc_id, lang, n_chars,
                 (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1) AS bucket
               FROM documents WHERE n_chars > 0),
         k AS (SELECT doc_id, lang, n_chars,
                 round(ln((bucket + 1) / 4294967296.0)
                       / CAST(n_chars AS DOUBLE), 10) AS ky
               FROM b),
         r AS (SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY ky DESC, doc_id) AS rk
               FROM k)
         SELECT doc_id, lang, n_chars, rk FROM r WHERE rk <= 25""")
  )
}
