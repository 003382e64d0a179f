package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.ext.{Dedup, TextAnalysis}
import graft.model.Tables

/** Near- and exact-duplicate detection over `documents` and `embeddings`:
  * fingerprints, n-gram/MinHash/SimHash pairs, duplicate clusters and
  * their incremental and serving faces, span-level dedup. */
object DedupQueries {

  /** Sign-bucket embedding pair CTE block (b, p, d — yields
    * `d(doc_a, doc_b, dotv, na2, nb2)` for same-bucket id-ordered
    * pairs) — shared by q_embed_dedup and q_semdedup. */
  private val embedPairCtes: String =
    s"""b AS (SELECT vec_id, embedding,
             ${signBucketSql(8)} AS bucket
           FROM embeddings),
         p AS (SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
                      a.embedding AS va, b2.embedding AS vb
               FROM b a JOIN b b2
               ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
         d AS (SELECT doc_a, doc_b,
                 CAST(sum(CAST(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS na2,
                 CAST(sum(CAST(CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nb2
               FROM p, UNNEST(range(1, len(va) + 1)) t(i)
               GROUP BY 1, 2)"""

  /** The exact repeated-span discovery, replayed in SQL — shared by
    * q_exact_spans and q_span_cuts (which folds the same spans into
    * per-doc cut intervals). */
  private val exactSpansOracle: String =
    """WITH words AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 md5(array_to_string(w[i:i+7], ' ')) AS g
               FROM words, UNNEST(range(1, len(w) - 6)) t(i)
               WHERE len(w) >= 8),
         m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
               FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id),
         isl AS (SELECT doc_a, doc_b, diag, pos_a, pos_b,
                   pos_a - row_number()
                     OVER (PARTITION BY doc_a, doc_b, diag
                           ORDER BY pos_a) AS isl
                 FROM m)
         SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS start_a,
                CAST(min(pos_b) AS BIGINT) AS start_b,
                CAST(count(*) + 7 AS BIGINT) AS len_tokens
         FROM isl GROUP BY doc_a, doc_b, diag, isl""".stripMargin

  /** Shared by q_minhash_lsh and q_dedup_clusters (which closes over the
    * same pair graph) — one source of truth for the pair semantics. */
  private val minhashLshOracle: String =
    """WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         sig AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS sg
                 FROM sh, UNNEST(range(12)) t(h) GROUP BY 1, 2),
         bands AS (SELECT doc_id, CAST(floor(h/4) AS INT) AS band,
                          md5(string_agg(h||':'||sg, '|' ORDER BY h||':'||sg)) AS bsig
                   FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5"""

  /** Per-cluster rows of the closure over the MinHash-LSH pair graph —
    * shared by q_dedup_clusters and q_dedup_clusters_star. */
  private val dedupClustersOracle: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle
         SELECT cluster_id, count(*) AS n_docs,
                string_agg(CAST(node AS VARCHAR), ','
                           ORDER BY CAST(node AS VARCHAR)) AS members
         FROM comp GROUP BY cluster_id"""

  /** (node, component) labels of the closure over the MinHash-LSH pair
    * graph — shared by q_cc_incr and q_cc_serve. */
  private val ccLabelsOracle: String =
    s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle
         SELECT node, cluster_id AS component FROM comp"""

  val specs: Seq[QuerySpec] = Seq(
    // ── Document fingerprinting: md5 over normalized text.
    QuerySpec("q_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      """SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents"""),

    // ── Exact dedup: hash-groupBy keep-min-id (corpus unioned with a
    //    shifted copy of itself so every group genuinely has 2 members).
    QuerySpec("q_dedup_exact", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.exact(docs.union(copies), "doc_id", "text")
    },
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text FROM documents)
         GROUP BY 1"""),

    // ── N-gram Jaccard near-dup pairs via prefix-filtered inverted index
    //    (AllPairs-style candidate generation — lossless for J ≥ t, so the
    //    oracle is the plain all-shared-shingle-pairs formulation and stays
    //    bit-identical at every scale factor without modeling the prefix).
    QuerySpec("q_ngram_jaccard", (s, dir) =>
      // broadcastCandidates: the prefix filters leave a small pair list
      // on this corpus (measured ~125 k candidates at sf0.1) — the
      // verify joins go map-side against the docset table
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, broadcastCandidates = true),
      """WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5"""),

    // ── N-gram Jaccard with the hot-key cap DERIVED from a Count-Min
    //    sketch (X63 guards stop taking cap lists on caller faith): one
    //    md5-bucket sketch pass over the postings, shingles estimating
    //    ≥ 20 drop from candidate generation. LOSSY by design, so —
    //    unlike q_ngram_jaccard — the oracle must model the prefix
    //    windows exactly: a pair whose only in-prefix shared shingles
    //    are capped is gone even if rarer shared shingles exist beyond
    //    the prefixes. The SQL replays sketch, cap list, rank windows,
    //    and full-set verification.
    QuerySpec("q_ngram_sketch_capped", (s, dir) =>
      Dedup.ngramJaccardPairsSketchCapped(Tables.documents(s, dir),
        "doc_id", "text", n = 3, threshold = 0.5, minEst = 20),
      // sketch-derived cap: the CM sketch, the est >= minEst hot list, the
      // per-doc (df, shingle) rank windows, the in-prefix non-hot shared-
      // shingle candidates, and full-set Jaccard verification — the prefix
      // MUST be modeled here because the cap makes candidate generation
      // lossy (a pair whose only in-prefix shared shingles are hot is
      // dropped even when rarer shared shingles exist past the prefix)
      {
        val arg = "'42|'||CAST(t.i AS VARCHAR)||'|'||s"
        val bucket =
          s"""((strpos('0123456789abcdef', substr(md5($arg), 1, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(md5($arg), 2, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(md5($arg), 3, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5($arg), 4, 1)) - 1)) % 65536"""
        s"""WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         cells AS (SELECT t.i AS i, $bucket AS j
                   FROM sh CROSS JOIN range(4) t(i)),
         sk AS (SELECT i, j, count(*) AS cnt FROM cells GROUP BY 1, 2),
         keys AS (SELECT DISTINCT s FROM sh),
         qb AS (SELECT s, t.i AS i, $bucket AS j
                FROM keys CROSS JOIN range(4) t(i)),
         est AS (SELECT qb.s AS s, min(coalesce(sk.cnt, 0)) AS est
                 FROM qb LEFT JOIN sk ON sk.i = qb.i AND sk.j = qb.j
                 GROUP BY 1),
         hot AS (SELECT s FROM est WHERE est >= 20),
         dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
         rk AS (SELECT sh.doc_id, sh.s, dfreq.df,
                  row_number() OVER (PARTITION BY sh.doc_id
                                     ORDER BY dfreq.df, sh.s) AS rk,
                  count(*) OVER (PARTITION BY sh.doc_id) AS n
                FROM sh JOIN dfreq USING (s)),
         pr AS (SELECT doc_id, s FROM rk
                WHERE rk <= CAST(floor(0.5 * n + 1e-9) AS INT) + 1
                  AND s NOT IN (SELECT s FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id),
         inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
                     count(*) AS c
                   FROM sh sa JOIN sh sb ON sa.s = sb.s
                     AND sa.doc_id < sb.doc_id
                   JOIN cand ON cand.doc_a = sa.doc_id
                     AND cand.doc_b = sb.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5"""
      }),

    // ── MinHash + LSH banding with exact-Jaccard verification.
    QuerySpec("q_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true),
      minhashLshOracle),

    // ── MinHash-LSH with the SKETCH-DERIVED hot-band cap (X162's
    //    Count-Min derivation extended to the band keys, VERDICT r14
    //    #6): bands estimating ≥ 3 docs drop from candidate generation
    //    — at every SF the cap bites (the df=3 flood bands go, df=2
    //    bands survive), and the oracle models sketch, cap list, and
    //    banding exactly, so the LOSSY pair set still hash-gates.
    QuerySpec("q_minhash_sketch_capped", (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true, bandHotMinEst = Some(3L)),
      // the band-key Count-Min cap modeled IN the oracle (the
      // q_ngram_sketch_capped discipline): sketch over the (band, bsig)
      // postings, est >= 3 keys drop before banding, then the standard
      // candidate + exact-Jaccard verification over the SURVIVING postings
      {
        val arg = "'42|'||CAST(t.i AS VARCHAR)||'|'||k"
        val bucket =
          s"""((strpos('0123456789abcdef', substr(md5($arg), 1, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(md5($arg), 2, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(md5($arg), 3, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5($arg), 4, 1)) - 1)) % 65536"""
        s"""WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
                        FROM documents),
         sh AS (SELECT DISTINCT doc_id, w[i]||' '||w[i+1]||' '||w[i+2] AS s
                FROM words, UNNEST(range(1, len(w)-1)) t(i)),
         sig AS (SELECT doc_id, h, min(md5(h || '|' || s)) AS sg
                 FROM sh, UNNEST(range(12)) t(h) GROUP BY 1, 2),
         bands AS (SELECT doc_id, CAST(floor(h/4) AS INT) AS band,
                          md5(string_agg(h||':'||sg, '|' ORDER BY h||':'||sg)) AS bsig
                   FROM sig GROUP BY 1, 2),
         bk AS (SELECT doc_id, band, bsig,
                       CAST(band AS VARCHAR)||':'||bsig AS k
                FROM bands),
         cells AS (SELECT t.i AS i, $bucket AS j
                   FROM bk CROSS JOIN range(4) t(i)),
         sk AS (SELECT i, j, count(*) AS cnt FROM cells GROUP BY 1, 2),
         keys AS (SELECT DISTINCT k FROM bk),
         qb AS (SELECT k, t.i AS i, $bucket AS j
                FROM keys CROSS JOIN range(4) t(i)),
         est AS (SELECT qb.k AS k, min(coalesce(sk.cnt, 0)) AS est
                 FROM qb LEFT JOIN sk ON sk.i = qb.i AND sk.j = qb.j
                 GROUP BY 1),
         hot AS (SELECT k FROM est WHERE est >= 3),
         bc AS (SELECT doc_id, band, bsig FROM bk
                WHERE k NOT IN (SELECT k FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bc a JOIN bc b
                  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
                   GROUP BY 1, 2),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
         SELECT doc_a, doc_b,
                round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         FROM inter
         JOIN cnt na ON doc_a = na.doc_id
         JOIN cnt nb ON doc_b = nb.doc_id
         WHERE CAST(c AS DOUBLE)/(na.n + nb.n - c) >= 0.5"""
      }),

    // ── Near-dup pairs → dedup CLUSTERS: connected components over the
    //    minhash pair graph (transitive closure), one row per cluster with
    //    its min-id label, size, and sorted member list — the form a
    //    keep-one-representative policy actually consumes (a raw pair list
    //    mishandles chains A-B-C). Adaptive components (ext.Components):
    //    min-label propagation while the graph is shallow, automatic
    //    large-star/small-star fallback if a boilerplate CHAIN pushes the
    //    diameter past the budget; oracle = recursive-CTE closure over
    //    the SAME pair SQL.
    QuerySpec("q_dedup_clusters", (s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
      graft.ext.Components.connectedAdaptive(pairs, "doc_a", "doc_b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(array_sort(collect_set(col("node").cast("string"))), ",")
            .as("members"))
        .select(col("component").as("cluster_id"), col("n_docs"),
          col("members"))
    },
      // transitive closure of the SAME pair query via a recursive CTE, then
      // per-component min label / size / sorted member list
      dedupClustersOracle),

    // ── Incremental cluster maintenance (Components.incrementalUpdate):
    //    the near-dup pair stream split 3:1 into history and a batch;
    //    standing labels + batch fold-in must equal the from-scratch
    //    closure over ALL pairs — history is never re-clustered, only
    //    label-mapped through a broadcast merge mapping.
    QuerySpec("q_cc_incr", (s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val old = pairs.where((col("doc_a") + col("doc_b")) % 4 =!= 0)
      val batch = pairs.where((col("doc_a") + col("doc_b")) % 4 === 0)
      graft.ext.Components.incrementalUpdate(
        graft.ext.Components.connectedAdaptive(old, "doc_a", "doc_b"),
        batch, "doc_a", "doc_b")
    },
      // history + batch fold-in ≡ the closure over ALL pairs: the oracle
      // has no notion of the split, so any label the incremental path
      // fails to merge (or merges wrongly) hash-mismatches
      ccLabelsOracle),

    // ── The SERVING face of streaming CC maintenance (streaming/
    //    CcStream): the same near-dup pairs fold in as two successive
    //    batches through CcStream.applyBatch — each committing an
    //    immutable GraphStorage snapshot — and the result is read BACK
    //    through the snapshot store (CcStream.labels), exactly how a
    //    continuously-ingesting dedup pipeline consumes its keep/drop
    //    labels. Same from-scratch-closure oracle as q_cc_incr: the
    //    batch split, the store round-trip, and the pointer flip must
    //    all be invisible in the final labeling. Re-running in one JVM
    //    re-folds the same edges — a semantic no-op (merging merged
    //    components), so the query is repeat-safe by construction.
    QuerySpec("q_cc_serve", (s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val labelsRoot = scratchDir(s, "q_cc_serve")
      graft.streaming.CcStream.applyBatch(
        pairs.where((col("doc_a") + col("doc_b")) % 4 =!= 0),
        "doc_a", "doc_b", labelsRoot)
      graft.streaming.CcStream.applyBatch(
        pairs.where((col("doc_a") + col("doc_b")) % 4 === 0),
        "doc_a", "doc_b", labelsRoot)
      graft.streaming.CcStream.labels(s, labelsRoot)
    },
      // two-batch fold through the snapshot store ≡ the same closure:
      // the store round-trip must be invisible in the labeling
      ccLabelsOracle),

    // ── Same clusters via STAR CONTRACTION (Components.connectedStar):
    //    hash-proves the O(log N)-round high-diameter algorithm against
    //    the identical recursive-closure oracle — the q_skew_agg pattern
    //    (variant algorithm ≡ same oracle), so the 100 TB fallback path
    //    is driver-verified, not just spec-gated.
    QuerySpec("q_dedup_clusters_star", (s, dir) => {
      val pairs = Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id",
        "text", shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
      graft.ext.Components.connectedStar(pairs, "doc_a", "doc_b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(array_sort(collect_set(col("node").cast("string"))), ",")
            .as("members"))
        .select(col("component").as("cluster_id"), col("n_docs"),
          col("members"))
    },
      // identical closure oracle — the star-contraction variant must land
      // on the same component structure as min-label propagation
      dedupClustersOracle),

    // ── INCREMENTAL near-dup: dedup a new batch (odd doc_ids) against a
    //    prebuilt corpus minhash index (even doc_ids) WITHOUT re-reading
    //    corpus text — the continuous-ingestion shape (persisted index +
    //    broadcast batch probe). Emits exactly the full-recompute pairs
    //    that touch the batch; oracle = the full pair SQL filtered to
    //    ≥1 odd endpoint. Both indexes checkpointed here so each text
    //    parse happens once (in production the corpus index is parquet).
    QuerySpec("q_dedup_incr", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpusIdx = Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        shingleN = 3, numHashes = 12).localCheckpoint()
      val batchIdx = Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        shingleN = 3, numHashes = 12).localCheckpoint()
      Dedup.minhashLshPairsIncremental(corpusIdx, batchIdx, "doc_id",
        bandSize = 4, threshold = 0.5)
    },
      // the incremental batch-vs-index pairs must equal the full recompute
      // restricted to pairs touching the batch (odd ids)
      s"""WITH pairs AS ($minhashLshOracle)
         SELECT doc_a, doc_b, jaccard FROM pairs
         WHERE doc_a % 2 = 1 OR doc_b % 2 = 1"""),

    // ── Streaming near-dup filter, BATCH face (streaming/StreamingNearDup
    //    .filterBatch): survivors of a new batch (odd doc_ids) against the
    //    prebuilt corpus index (even doc_ids) under the stream's keep-min
    //    drop policy — drop a batch doc iff it pairs with an indexed doc
    //    or a smaller-id batch doc. Pairs from the same incremental LSH
    //    as q_dedup_incr; the micro-batch/index-accumulation twin is
    //    spec-gated (StreamingNearDupSpec).
    QuerySpec("q_neardup_filter", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpusIdx = Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        shingleN = 3, numHashes = 12).localCheckpoint()
      graft.streaming.StreamingNearDup.filterBatch(corpusIdx,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    },
      // the stream's keep-min drop policy over the incremental pair set:
      // an odd (batch) doc drops as the larger side of ANY pair, or as
      // the smaller side of a pair whose larger side is even (indexed)
      s"""WITH pairs AS ($minhashLshOracle),
         dropped AS (
           SELECT doc_b AS doc_id FROM pairs WHERE doc_b % 2 = 1
           UNION
           SELECT doc_a FROM pairs
           WHERE doc_a % 2 = 1 AND doc_b % 2 = 0)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 2 = 1
           AND doc_id NOT IN (SELECT doc_id FROM dropped)"""),

    // ── Entity resolution end-to-end, in the shape that scales: resolve
    //    the DISTINCT display-name dictionary (EditSim dist-1 pairs →
    //    Components closure → canonical member), then roll RECORDS up by
    //    resolved entity — records never enter the pair expansion, so a
    //    million records sharing one alias cost the dictionary exactly
    //    one row. Aliases are "lang#digit" over documents: the ten
    //    digit variants chain per lang, and en#d ~ es#d is a genuine
    //    cross-label dist-1 bridge the closure must follow (fr/de/zh
    //    stay separate — raw serial names would degenerate to ONE
    //    entity through digit chains).
    QuerySpec("q_entity_groups", (s, dir) => {
      val recs = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("lang"), lit("#"), (col("doc_id") % 10)).as("alias"))
      val dict = recs.groupBy(col("alias"))
        .agg(min(col("doc_id")).as("alias_id"), count(lit(1)).as("n_recs"))
        .localCheckpoint() // feeds pairing, the rollup, and naming
      val pairs = graft.ext.EditSim.dist1Pairs(dict, "alias_id", "alias")
      val comp = graft.ext.Components.connectedAdaptive(pairs, "id_a", "id_b")
      val ent = dict.join(comp, dict("alias_id") === comp("node"), "left_outer")
        .select(col("alias_id"), col("n_recs"),
          coalesce(col("component"), col("alias_id")).as("entity_id"))
      ent.groupBy(col("entity_id"))
        .agg(sum(col("n_recs")).as("n_members"),
          count(lit(1)).as("n_aliases"))
        .join(dict.select(col("alias_id").as("entity_id"),
          col("alias").as("canonical_name")), "entity_id")
        .select(col("entity_id"), col("canonical_name"),
          col("n_aliases"), col("n_members"))
    },
      // dictionary-level dist-1 blocking → closure → record rollup, all
      // replayed from the unblocked quadratic pair set over the dictionary
      s"""WITH RECURSIVE recs AS (SELECT doc_id,
                    lang || '#' || CAST(doc_id % 10 AS VARCHAR) AS alias
                  FROM documents),
         dict AS (SELECT alias, min(doc_id) AS alias_id,
                         count(*) AS n_recs
                  FROM recs GROUP BY alias),
         pairs AS (SELECT a.alias_id AS doc_a, b.alias_id AS doc_b
                   FROM dict a JOIN dict b ON a.alias_id < b.alias_id
                   WHERE levenshtein(a.alias, b.alias) <= 1),
         $closureOracle,
         ent AS (SELECT d.alias_id, d.n_recs,
                        coalesce(c.cluster_id, d.alias_id) AS entity_id
                 FROM dict d LEFT JOIN comp c ON c.node = d.alias_id)
         SELECT e.entity_id, d2.alias AS canonical_name,
                CAST(count(*) AS BIGINT) AS n_aliases,
                CAST(sum(e.n_recs) AS BIGINT) AS n_members
         FROM ent e JOIN dict d2 ON d2.alias_id = e.entity_id
         GROUP BY 1, 2"""),

    // ── Exact edit-distance-1 pairs over supplier names (ext.EditSim):
    //    FastSS deletion-neighborhood blocking (L+1 in-row variants,
    //    codegen) + exact levenshtein verify — the oracle is the plain
    //    O(n²) join, so a single missed candidate hash-mismatches.
    QuerySpec("q_edit_pairs", (s, dir) =>
      graft.ext.EditSim.dist1Pairs(
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        "s_suppkey", "s_name")
        .select(col("id_a").as("supp_a"), col("id_b").as("supp_b"),
          col("dist")),
      // the deliberately quadratic twin: blocking completeness is proven
      // by NOT blocking in the oracle
      """WITH s AS (SELECT s_suppkey AS id, s_name AS name FROM supplier)
         SELECT a.id AS supp_a, b.id AS supp_b,
                CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
         FROM s a JOIN s b ON a.id < b.id
         WHERE levenshtein(a.name, b.name) <= 1"""),

    // ── The full keep-one-representative dedup POLICY: clusters ranked by
    //    quality score, highest-quality member keeps (ties → smallest id),
    //    the rest are the drop list — what a curation pipeline actually
    //    materializes from near-dup detection.
    QuerySpec("q_dedup_keep", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 12, bandSize = 4, threshold = 0.5,
        broadcastCandidates = true)
      val comp = graft.ext.Components.connectedAdaptive(pairs, "doc_a", "doc_b")
      val qual = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text"), ExtConfig.stopwords)
          .as("quality"))
      // keeper via a map-side-combinable min_by aggregate + join back,
      // not a per-component sort window: a near-dup FLOOD is one giant
      // cluster, and Window.partitionBy(component) would sort the whole
      // flood in a single task; min_by over struct(-quality, node) is
      // the same (quality desc, node asc) argmin and partial-aggregates.
      // coalesce(−quality, +∞): qualityScore is NULL for empty/null
      // text, and a null struct field sorts FIRST ascending — the
      // replaced window's (quality desc, node) put nulls LAST, so the
      // null-quality doc must sort past every real score, never win
      // the keeper slot (advice r16, low)
      val scored = comp.join(qual, comp("node") === qual("doc_id"))
      val keepers = scored.groupBy(col("component"))
        .agg(expr("min_by(node, struct(coalesce(-quality, double('inf')), node))")
          .as("__keep"))
      scored.join(keepers, Seq("component"))
        .select(col("component").as("cluster_id"), col("node").as("doc_id"),
          col("quality"), (col("node") === col("__keep")).as("is_keeper"))
    },
      // closure + the q_quality_score formula + per-cluster argmax
      s"""WITH RECURSIVE pairs AS ($minhashLshOracle),
         $closureOracle,
         $qualityTCte,
         qual AS (SELECT doc_id, $qualityFormulaSql AS quality FROM t),
         ranked AS (SELECT cluster_id, node AS doc_id, quality,
                row_number() OVER (PARTITION BY cluster_id
                  ORDER BY quality DESC, node) AS rk
              FROM comp JOIN qual ON node = qual.doc_id)
         SELECT cluster_id, doc_id, quality, rk = 1 AS is_keeper
         FROM ranked"""),

    // ── Exact duplicated-span pairs via winnowed fingerprints
    //    (ext.SpanDedup): every 8-token span md5'd, window-min selection
    //    thins positions ~2/(W+1)=40%, posting-list pair expansion — the
    //    substring-level dedup family (license blocks, boilerplate),
    //    complementing the whole-doc MinHash/SimHash families.
    QuerySpec("q_span_dedup", (s, dir) =>
      graft.ext.SpanDedup.sharedSpanPairs(Tables.documents(s, dir),
        "doc_id", "text", spanTokens = 8, winnowWindow = 4),
      // same tokenization, same per-position md5, same window-min winnowing
      // (ROWS CURRENT..3 FOLLOWING ≡ Spark rowsBetween(0, 3)), same
      // posting join — md5 hex and its string order agree across engines
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
           FROM documents),
         s AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(w[i:i+7], ' ')) AS fp
               FROM t, UNNEST(range(1, len(w) - 8 + 2)) u(i)
               WHERE len(w) >= 8),
         sel AS (SELECT DISTINCT doc_id,
                   min(fp) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                     AS fp
                 FROM s)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2"""),

    // ── EXACT repeated-substring discovery (ext.ExactSpans): every
    //    maximal ≥8-token shared span between two docs with exact
    //    0-based boundaries — the TWO-SIDED guarantee winnowed
    //    q_span_dedup trades away (it detects overlap; this reports
    //    all of it, the suffix-array span-removal cut list). Shape:
    //    one md5-window join + one diagonal gaps-and-islands window +
    //    one aggregate; completeness is spec-gated against a
    //    brute-force longest-common-extension reference
    //    (ExactSpansSpec).
    QuerySpec("q_exact_spans", (s, dir) =>
      graft.ext.ExactSpans.repeatedSpans(Tables.documents(s, dir),
        "doc_id", "text", minTokens = 8),
      // the full window join + diagonal gaps-and-islands, replayed
      // literally: md5 of the identical space-joined 8-token window in
      // both engines, islands keyed by pos − row_number at one diagonal
      exactSpansOracle),

    // ── The per-document CUT LIST over those spans: both sides'
    //    token ranges merged into maximal disjoint intervals (running-
    //    max gaps-and-islands) — what a span-removal rewrite actually
    //    excises.
    QuerySpec("q_span_cuts", (s, dir) =>
      graft.ext.ExactSpans.cutList(
        graft.ext.ExactSpans.repeatedSpans(Tables.documents(s, dir),
          "doc_id", "text", minTokens = 8)),
      // the same spans, both sides' ranges merged per doc by the
      // running-max interval fold
      s"""WITH spans AS ($exactSpansOracle),
         sides AS (
           SELECT doc_a AS doc_id, start_a AS s,
                  start_a + len_tokens AS e FROM spans
           UNION ALL
           SELECT doc_b, start_b, start_b + len_tokens FROM spans),
         mk AS (SELECT doc_id, s, e,
                  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS runmax
                FROM sides),
         isl2 AS (SELECT doc_id, s, e,
                    sum(CASE WHEN runmax IS NULL OR s > runmax
                        THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
                  FROM mk)
         SELECT doc_id, CAST(min(s) AS BIGINT) AS "start",
                CAST(max(e) AS BIGINT) AS "end"
         FROM isl2 GROUP BY doc_id, isl"""),

    // ── SimHash 32-bit fingerprints (occurrence-weighted md5 bit votes).
    QuerySpec("q_simhash", (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text"),
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         h AS (SELECT doc_id, substr(md5(word), 1, 16) AS hh FROM w),
         bits AS (SELECT doc_id, j,
                strpos('0123456789abcdef',
                       substr(hh, 1 + CAST(floor(j/4) AS INT), 1)) - 1 AS nib
              FROM h, UNNEST(range(63)) t(j)),
         votes AS (SELECT doc_id, j,
                sum(CASE WHEN ((nib >> CAST(3 - j%4 AS INT)) & 1) = 1
                         THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY 1, 2)
         SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id"""),

    // ── SimHash near-dup pairs: 8-bit band join + exact hamming verify.
    QuerySpec("q_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3),
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         h AS (SELECT doc_id, substr(md5(word), 1, 16) AS hh FROM w),
         bits AS (SELECT doc_id, j,
                strpos('0123456789abcdef',
                       substr(hh, 1 + CAST(floor(j/4) AS INT), 1)) - 1 AS nib
              FROM h, UNNEST(range(63)) t(j)),
         votes AS (SELECT doc_id, j,
                sum(CASE WHEN ((nib >> CAST(3 - j%4 AS INT)) & 1) = 1
                         THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
         bands AS (SELECT doc_id, simhash, b,
                          (simhash >> CAST(b * 16 AS INT)) & 65535 AS chunk
                   FROM fp, UNNEST(range(4)) t(b)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                         bit_count(xor(a.simhash, b2.simhash)) AS hamming
                  FROM bands a JOIN bands b2
                  ON a.b = b2.b AND a.chunk = b2.chunk
                     AND a.doc_id < b2.doc_id)
         SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3"""),

    // ── SimHash pairs with the sketch-derived hot-CHUNK cap — the
    //    bandHotMinEst discipline on the Hamming family's (b, chunk)
    //    keys (df reaches ~28 on the most popular chunk: the cap
    //    bites at every SF; recall loss is pigeonhole-bounded and the
    //    oracle replays the same sketch + drop rule).
    QuerySpec("q_simhash_sketch_capped", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3, chunkHotMinEst = Some(10L)),
      // the chunk-key Count-Min cap modeled in the oracle: sketch over
      // the (b, chunk) postings, est >= 10 keys drop before pairing
      {
        val arg = "'42|'||CAST(t.i AS VARCHAR)||'|'||k"
        val bucket =
          s"""((strpos('0123456789abcdef', substr(md5($arg), 1, 1)) - 1) * 4096 +
             (strpos('0123456789abcdef', substr(md5($arg), 2, 1)) - 1) * 256 +
             (strpos('0123456789abcdef', substr(md5($arg), 3, 1)) - 1) * 16 +
             (strpos('0123456789abcdef', substr(md5($arg), 4, 1)) - 1)) % 65536"""
        s"""WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
              FROM documents),
         h AS (SELECT doc_id, substr(md5(word), 1, 16) AS hh FROM w),
         bits AS (SELECT doc_id, j,
                strpos('0123456789abcdef',
                       substr(hh, 1 + CAST(floor(j/4) AS INT), 1)) - 1 AS nib
              FROM h, UNNEST(range(63)) t(j)),
         votes AS (SELECT doc_id, j,
                sum(CASE WHEN ((nib >> CAST(3 - j%4 AS INT)) & 1) = 1
                         THEN 1 ELSE -1 END) AS v
              FROM bits GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
         bandsr AS (SELECT doc_id, simhash, b,
                          (simhash >> CAST(b * 16 AS INT)) & 65535 AS chunk
                   FROM fp, UNNEST(range(4)) t(b)),
         bk AS (SELECT doc_id, simhash, b, chunk,
                       CAST(b AS VARCHAR)||':'||CAST(chunk AS VARCHAR) AS k
                FROM bandsr),
         cells AS (SELECT t.i AS i, $bucket AS j
                   FROM bk CROSS JOIN range(4) t(i)),
         sk AS (SELECT i, j, count(*) AS cnt FROM cells GROUP BY 1, 2),
         keys AS (SELECT DISTINCT k FROM bk),
         qb AS (SELECT k, t.i AS i, $bucket AS j
                FROM keys CROSS JOIN range(4) t(i)),
         est AS (SELECT qb.k AS k, min(coalesce(sk.cnt, 0)) AS est
                 FROM qb LEFT JOIN sk ON sk.i = qb.i AND sk.j = qb.j
                 GROUP BY 1),
         hot AS (SELECT k FROM est WHERE est >= 10),
         bc AS (SELECT doc_id, simhash, b, chunk FROM bk
                WHERE k NOT IN (SELECT k FROM hot)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                         bit_count(xor(a.simhash, b2.simhash)) AS hamming
                  FROM bc a JOIN bc b2
                  ON a.b = b2.b AND a.chunk = b2.chunk
                     AND a.doc_id < b2.doc_id)
         SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3"""
      }),

    // ── Embedding-cosine near-dup pairs within sign-LSH buckets.
    QuerySpec("q_embed_dedup", (s, dir) =>
      Dedup.embeddingCosinePairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.3, bucketBits = 8),
      s"""WITH $embedPairCtes
         SELECT doc_a, doc_b,
                round(dotv/(sqrt(na2)*sqrt(nb2)), 4) AS cosine
         FROM d WHERE dotv/(sqrt(na2)*sqrt(nb2)) >= 0.3"""),

    // ── SemDeDup (ext.SemDedup): the same pair graph closed into
    //    duplicate groups (distributed components), keeper = group
    //    minimum — emits the drop list a curation pipeline anti-joins
    //    against the corpus. Oracle: recursive transitive closure over
    //    the identical pair SQL.
    QuerySpec("q_semdedup", (s, dir) =>
      graft.ext.SemDedup.dropList(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.3, bucketBits = 8),
      // SemDeDup = the embed pair graph above, closed transitively; the
      // keeper is the component minimum, so the drop list is exactly
      // "every node that is not its own cluster id"
      s"""WITH RECURSIVE $embedPairCtes,
         pairs AS (SELECT doc_a, doc_b FROM d
                   WHERE dotv/(sqrt(na2)*sqrt(nb2)) >= 0.3),
         $closureOracle
         SELECT node AS vec_id, cluster_id AS kept_id
         FROM comp WHERE node <> cluster_id"""),

    // ── C4-style segment dedup WITH reconstruction (ext.SegmentDedup):
    //    8-token blocks, global keep-first by (doc_id, bidx), cleaned
    //    text reassembled — min-struct hash aggregates (map-side
    //    combined) instead of a hot-key window, two shuffles total.
    //    The boilerplate-removal pass that REWRITES documents, vs
    //    q_span_dedup which only detects overlap.
    QuerySpec("q_segment_dedup", (s, dir) =>
      graft.ext.SegmentDedup.dedupSegments(Tables.documents(s, dir),
        "doc_id", "text", blockTokens = 8),
      // same 8-token blocking (DuckDB's 1-based truncating list slice ≡
      // Spark's slice), keep-first expressed as the row_number twin of the
      // operator's min-struct aggregate, same ordered reassembly — a
      // single block kept or dropped differently anywhere in the corpus
      // hash-mismatches the reconstructed text
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         x AS (SELECT doc_id, (len(toks) + 7) // 8 AS n_blocks, toks FROM t),
         b AS (SELECT doc_id, n_blocks,
                 unnest(range(0, n_blocks)) AS bidx, toks FROM x),
         s AS (SELECT doc_id, bidx,
                 array_to_string(toks[bidx*8+1 : bidx*8+8], ' ') AS block
               FROM b),
         k AS (SELECT doc_id, bidx, block,
                 row_number() OVER (PARTITION BY block
                                    ORDER BY doc_id, bidx) AS rn
               FROM s),
         r AS (SELECT doc_id,
                 count(*) FILTER (WHERE rn = 1) AS n_kept,
                 string_agg(block, ' ' ORDER BY bidx)
                   FILTER (WHERE rn = 1) AS text_kept
               FROM k GROUP BY doc_id)
         SELECT x.doc_id, CAST(x.n_blocks AS INTEGER) AS n_blocks,
                CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
                COALESCE(r.text_kept, '') AS text_kept
         FROM x LEFT JOIN r ON x.doc_id = r.doc_id""")
  )
}
