package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.ext.{Fusion, Relevance, Similarity, TextAnalysis}
import graft.model.Tables

/** Text analysis over `documents`: tokenization, BM25 (batch and
  * persisted-index faces), keywords, collocations, language ID, quality
  * scoring and tokenizer training/encoding. */
object TextQueries {

  /** Shared between q_bm25 (full corpus) and q_bm25_indexed (matching
    * docs only — the serving equivalence gate). */
  private val bm25Oracle: String =
    """WITH w AS (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS ws
                FROM documents),
           base AS (SELECT doc_id, len(ws) AS dl,
                  len(list_filter(ws, x -> x = 'spark')) AS tf_0,
                  len(list_filter(ws, x -> x = 'table')) AS tf_1,
                  len(list_filter(ws, x -> x = 'join'))  AS tf_2
                FROM w),
           stats AS (SELECT
                  CAST(count(*) AS DOUBLE) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) AS sum_dl,
                  CAST(count(CASE WHEN tf_0 > 0 THEN 1 END) AS DOUBLE) AS df_0,
                  CAST(count(CASE WHEN tf_1 > 0 THEN 1 END) AS DOUBLE) AS df_1,
                  CAST(count(CASE WHEN tf_2 > 0 THEN 1 END) AS DOUBLE) AS df_2
                FROM base)
           SELECT doc_id, dl, tf_0, tf_1, tf_2,
                  round(
                    ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
                      * (CAST(tf_0 AS DOUBLE) * 2.2)
                      / (CAST(tf_0 AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                  + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
                      * (CAST(tf_1 AS DOUBLE) * 2.2)
                      / (CAST(tf_1 AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                  + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
                      * (CAST(tf_2 AS DOUBLE) * 2.2)
                      / (CAST(tf_2 AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs)))),
                  4) AS bm25
           FROM base, stats"""

  /** The unigram-LM EM replay: candidate seeding, per-round quantized
    * scores, canonical-path Viterbi via full segmentation enumeration
    * (words are histogram-short, so the path count is tiny; the
    * OPERATOR'S Viterbi is linear — enumeration is oracle-only), usage
    * recount. Mirrors ext/UnigramLm term for term. */
  private def unigramTrainOracle(rounds: Int, vocabSize: Int,
      maxLen: Int, encode: Boolean = false): String = {
    // AS MATERIALIZED on every CTE a reach$r recursion reads: DuckDB
    // inlines un-hinted CTEs into the recursive plan and re-evaluates
    // the whole corpus regex-split PER ITERATION — the sf1 gate
    // measured the encode oracle at 25+ min; hinted, it runs in 0.6 s
    // with identical results (the hint is evaluation strategy only).
    val base =
      s"""hist AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wcount
           FROM (SELECT regexp_replace(
                   unnest(string_split_regex(lower(trim(text)), '\\s+')),
                   '[^a-z0-9]', '', 'g') AS word FROM documents)
           WHERE word <> '' GROUP BY 1),
         cand AS MATERIALIZED (SELECT piece, CAST(sum(wcount) AS BIGINT) AS freq
           FROM (SELECT unnest(flatten(list_transform(range(1, ${maxLen + 1}),
                   l -> list_transform(range(1, len(word) - l + 2),
                        i -> word[i : i + l - 1])))) AS piece, wcount
                 FROM hist)
           GROUP BY 1),
         topk AS (SELECT piece, freq FROM cand
                  ORDER BY freq DESC, piece LIMIT $vocabSize),
         c0 AS MATERIALIZED (SELECT piece, max(freq) AS cnt FROM (
                  SELECT piece, freq FROM topk
                  UNION ALL
                  SELECT piece, freq FROM cand WHERE len(piece) = 1)
                GROUP BY piece)"""
    // encode = one extra score derivation + reach/seg over the SAME
    // word universe (the c{rounds+1} CTE this emits is unreferenced
    // and therefore never evaluated)
    val lastRound = if (encode) rounds + 1 else rounds
    val perRound = (1 to lastRound).map { r =>
      s"""s$r AS MATERIALIZED (SELECT piece,
             CAST(floor((ln(cnt + 1) - ln(tot.t + tot.v)) * 1000000)
                  AS BIGINT) AS s
           FROM c${r - 1}, (SELECT CAST(sum(cnt) AS BIGINT) AS t,
                                   count(*) AS v FROM c${r - 1}) tot),
         reach$r(word, wcount, i, score, path) AS (
           SELECT word, wcount, 0, CAST(0 AS BIGINT), '' FROM hist
           UNION ALL
           SELECT r.word, r.wcount, r.i + len(v.piece), r.score + v.s,
                  r.path || (CASE WHEN r.path = '' THEN '' ELSE ' ' END)
                         || v.piece
           FROM reach$r r JOIN s$r v
             ON r.i + len(v.piece) <= len(r.word)
            AND v.piece = r.word[r.i + 1 : r.i + len(v.piece)]),
         seg$r AS MATERIALIZED (SELECT word, wcount, path FROM (
             SELECT word, wcount, path,
                    row_number() OVER (PARTITION BY word
                                       ORDER BY score DESC, path) AS rk
             FROM reach$r WHERE i = len(word)) WHERE rk = 1),
         c$r AS MATERIALIZED (SELECT c.piece, CAST(COALESCE(u.n, 0) AS BIGINT) AS cnt
           FROM c${r - 1} c LEFT JOIN (
             SELECT piece, sum(wcount) AS n
             FROM (SELECT unnest(string_split(path, ' ')) AS piece, wcount
                   FROM seg$r)
             GROUP BY 1) u ON u.piece = c.piece)"""
    }
    val finalSelect =
      if (!encode) s"SELECT piece, cnt AS n_uses FROM c$rounds"
      else
        s"""SELECT d.doc_id AS doc_id,
             CAST(COALESCE(sum(t.tok), 0) AS BIGINT) AS n_tokens
           FROM documents d
           LEFT JOIN (
             SELECT w.doc_id AS doc_id, tk.tok AS tok
             FROM (SELECT doc_id, regexp_replace(
                     unnest(string_split_regex(lower(trim(text)), '\\s+')),
                     '[^a-z0-9]', '', 'g') AS word FROM documents) w
             JOIN (SELECT word, len(string_split(path, ' ')) AS tok
                   FROM seg$lastRound) tk
               ON w.word = tk.word AND w.word <> '') t
             ON t.doc_id = d.doc_id
           GROUP BY d.doc_id"""
    (Seq(base) ++ perRound).mkString("WITH RECURSIVE ", ",\n      ", "\n") +
      finalSelect
  }

  /** The BPE-train oracle: the SAME k greedy merge rounds the engine
    * runs, unrolled as a generated CTE chain (pair counts → total-order
    * argmax → leftmost-non-overlapping replace, per round). Generated
    * rather than hand-written so the round count stays in one place. */
  private def bpeTrainOracle(rounds: Int): String = {
    val v0 =
      """v0 AS (
        SELECT regexp_replace(word, '(.)', '(\1)', 'g') AS enc,
               count(*) AS wcount
        FROM (SELECT regexp_replace(
                unnest(string_split_regex(lower(trim(text)), '\s+')),
                '[^a-z0-9]', '', 'g') AS word FROM documents)
        WHERE word <> '' GROUP BY 1)"""
    val perRound = (1 to rounds).map { n =>
      s"""p$n AS (
        SELECT string_split(pr, chr(9))[1] AS l,
               string_split(pr, chr(9))[2] AS r,
               CAST(sum(wcount) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_transform(range(1, len(sym)),
                  i -> sym[i] || chr(9) || sym[i+1])) AS pr, wcount
              FROM (SELECT string_split(trim(enc, '()'), ')(') AS sym,
                           wcount FROM v${n - 1}))
        GROUP BY 1, 2),
      w$n AS (SELECT l, r, cnt FROM p$n ORDER BY cnt DESC, l, r LIMIT 1),
      v$n AS (SELECT replace(enc, '('||l||')('||r||')', '('||l||r||')') AS enc,
                     wcount FROM v${n - 1}, w$n)"""
    }
    val finals = (1 to rounds)
      .map(n => s"SELECT $n AS merge_rank, l AS lhs, r AS rhs, " +
        s"cnt AS pair_count FROM w$n")
      .mkString(" UNION ALL ")
    (Seq(v0) ++ perRound).mkString("WITH ", ",\n      ", "\n") + finals
  }

  /** [[bm25Oracle]] restricted to the docs a query term touches —
    * shared by q_bm25_indexed and q_bm25_append. */
  private val bm25MatchingOracle: String =
    s"""SELECT * FROM ($bm25Oracle)
         WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0"""

  val specs: Seq[QuerySpec] = Seq(
    // ════ ext/: LLM-training-data pipeline operators (SURVEY §7.1 ext/) ════

    // ── Token counting: whitespace + BPE-ish pre-tokenizer counts.
    QuerySpec("q_token_count", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens")),
      """SELECT doc_id,
                len(string_split_regex(lower(trim(text)), '\s+')) AS ws_tokens,
                len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe_tokens
         FROM documents"""),

    // ── BM25 relevance of every document against a 3-term query: per-doc
    //    tf/dl are codegen array arithmetic, corpus stats (N, Σdl, df)
    //    are ONE single-row aggregate broadcast back — retrieval-style
    //    scoring with zero per-term shuffles (ext.Relevance).
    QuerySpec("q_bm25", (s, dir) =>
      Relevance.bm25(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("spark", "table", "join")),
      // expression tree mirrors Relevance.bm25 verbatim (same association
      // order — double + and * are order-sensitive); ln args are exact
      // integer-derived doubles, round(,4) absorbs sub-ulp libm drift
      bm25Oracle),

    // ── Top-5 TF-IDF keywords per document: one token-histogram
    //    aggregate (materialized once), df joined back on the word key,
    //    rank-limit window for the per-doc cut (ext.Relevance). Topic
    //    tagging for corpus curation.
    QuerySpec("q_keywords", (s, dir) =>
      Relevance.tfidfKeywords(Tables.documents(s, dir), "doc_id", "text",
        k = 5),
      // rank over the ROUNDED score (+ word tie-break). Residual parity
      // risk, accepted with eyes open: ln may differ by an ulp between
      // libms, which flips the 4th decimal only within an ulp of a .xxxx5
      // boundary (same accepted class as q_bm25); verified hash-identical
      // at all three SFs on this corpus
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT doc_id, word, tf,
                round(CAST(tf AS DOUBLE) *
                      ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                         / CAST(df AS DOUBLE)), 4) AS tfidf
              FROM tf JOIN df USING (word)),
         ranked AS (SELECT doc_id, word, tf, tfidf,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, word) AS rk
              FROM scored)
         SELECT doc_id, word, tf, tfidf, rk FROM ranked WHERE rk <= 5"""),

    // ── Bigram collocations by PMI over the document corpus: tokenized
    //    corpus materialized once, in-row bigram expansion, two
    //    word-keyed aggregates, stats joined back on the word key
    //    (ext.Collocations). Multi-word-expression mining for tokenizer
    //    vocab building.
    QuerySpec("q_pmi", (s, dir) =>
      graft.ext.Collocations.pmiBigrams(Tables.documents(s, dir),
        "doc_id", "text", minCount = 3),
      // PMI expression tree mirrored VERBATIM (casts + left-to-right
      // association) so the IEEE chain and round-4 are bit-identical
      """WITH d AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
                    FROM documents),
         tok AS (SELECT unnest(ws) AS word FROM d),
         uni AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
         t AS (SELECT count(*) AS t FROM tok),
         bg AS (SELECT ws[i] AS x, ws[i + 1] AS y
                FROM d, UNNEST(range(1, len(ws))) r(i)),
         b AS (SELECT count(*) AS b FROM bg),
         bi AS (SELECT x, y, count(*) AS cxy FROM bg
                GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT bi.x, bi.y, bi.cxy,
                round(ln((CAST(cxy AS DOUBLE)
                          * (CAST((SELECT t FROM t) AS DOUBLE)
                             * CAST((SELECT t FROM t) AS DOUBLE)))
                         / (CAST((SELECT b FROM b) AS DOUBLE)
                            * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))),
                      4) + 0 AS pmi
         FROM bi JOIN uni ux ON bi.x = ux.word
                 JOIN uni uy ON bi.y = uy.word"""),

    // ── Unicode NFC canonicalization via the native codegen expression
    //    (functions.NfcNormalize ≡ DuckDB nfc_normalize): decomposed
    //    sequences injected per-row, then composed — without this pass,
    //    visually identical docs hash as distinct and escape dedup.
    QuerySpec("q_nfc", (s, dir) => {
      graft.functions.NfcNormalize.register(s)
      // the prefix is DECOMPOSED in source (e + U+0301 combining acute,
      // twice) — the normalizer composes it, so len_norm = len_raw − 2
      Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("résumé "), col("text")).as("dirty"))
        .select(col("doc_id"),
          call_function("nfc_normalize", col("dirty")).as("norm_text"),
          length(col("dirty")).as("len_raw"),
          length(call_function("nfc_normalize", col("dirty"))).as("len_norm"))
    },
      // chr(769) = U+0301 COMBINING ACUTE — the same decomposed prefix the
      // Spark side carries as a source literal; nfc_normalize composes it
      """WITH d AS (SELECT doc_id,
             're' || chr(769) || 'sume' || chr(769) || ' ' || text AS dirty
           FROM documents)
         SELECT doc_id, nfc_normalize(dirty) AS norm_text,
                length(dirty) AS len_raw,
                length(nfc_normalize(dirty)) AS len_norm
         FROM d"""),

    // ── CCNet-style perplexity filter (ext.NgramLm.perplexity): bigram
    //    LM trained on the clean tenth of the corpus scores the rest by
    //    per-token NLL. LM tables are reference-sized; exact quantized
    //    BIGINT sums as everywhere.
    QuerySpec("q_ngram_lm", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      graft.ext.NgramLm.perplexity(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("nll"))
    },
      // mirrors NgramLm.perplexity: same ln-term shapes (integer args,
      // left-assoc), floor(·1e6) BIGINT quantization, first token scored
      // by the unigram model, bigram terms conditioned on w1's count
      """WITH dw AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
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
         cand AS (SELECT doc_id, w FROM dw
                  WHERE doc_id % 10 <> 0 AND len(w) >= 1),
         ft AS (SELECT doc_id, CAST(1 AS BIGINT) AS toks,
                 CAST(floor((ln(COALESCE(cu, 0) + 1) - ln(n + v)) * 1000000)
                   AS BIGINT) AS t
                FROM (SELECT doc_id, w[1] AS w1 FROM cand)
                LEFT JOIN uni USING (w1), consts),
         bg AS (SELECT doc_id, w1, gram, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS gram
                      FROM cand, UNNEST(range(1, len(w))) t(i))
                GROUP BY 1, 2, 3),
         bt AS (SELECT doc_id, cnt AS toks,
                 CAST(floor(cnt * (ln(COALESCE(cb, 0) + 1)
                                   - ln(COALESCE(cu, 0) + v)) * 1000000)
                   AS BIGINT) AS t
                FROM bg LEFT JOIN bi USING (gram)
                        LEFT JOIN uni USING (w1), consts),
         s AS (SELECT doc_id, CAST(sum(toks) AS BIGINT) AS n_tokens,
                      CAST(sum(t) AS BIGINT) AS sq
               FROM (SELECT * FROM ft UNION ALL SELECT * FROM bt)
               GROUP BY 1)
         SELECT doc_id, n_tokens,
                CAST((-20000 * sq + 1000000 * n_tokens)
                     // (2000000 * n_tokens) AS DOUBLE) / 10000.0 AS nll
         FROM s"""),

    // ── Nucleus (top-p) coverage: per source, the smallest word set
    //    covering ≥ 90% of tokens — EXACT integer threshold compare
    //    (10·(cum−w) < 9·total), so no float boundary can flip
    //    membership (ext.Coverage.nucleus over an aggregated table).
    QuerySpec("q_top_share", (s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.ext.TextAnalysis.words(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
      graft.ext.Coverage.nucleus(wc, Seq("source"), "word", "cnt",
        pNum = 9, pDen = 10)
    },
      // the exact-integer nucleus rule: kept iff 10*(cum - cnt) < 9*total
      // under (cnt DESC, word) — plus the half-up share like quality_score
      """WITH w AS (SELECT source,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents),
         cw AS (SELECT source, word, count(*) AS cnt FROM w
                WHERE word <> '' GROUP BY 1, 2),
         x AS (SELECT source, word, cnt,
                CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS total,
                CAST(sum(cnt) OVER (PARTITION BY source
                  ORDER BY cnt DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
               FROM cw)
         SELECT source, word, cnt, total, cum,
                CAST(floor((2*cnt*10000 + total) / (2*total)) AS DOUBLE)
                  / 10000 AS share_4dp
         FROM x WHERE 10 * (cum - cnt) < 9 * total"""),

    // ── Per-document Shannon word entropy (bits/token): one explode +
    //    two map-side-combinable aggregates; the transcendental sum is
    //    quantized to exact BIGINTs so distributed addition order cannot
    //    flip a bit (ext.TextAnalysis.entropy). Diversity quality signal.
    QuerySpec("q_entropy", (s, dir) =>
      graft.ext.TextAnalysis.entropy(Tables.documents(s, dir),
        "doc_id", "text"),
      // same 1e-6 quantization before the sum: per-word log2 terms floor
      // to BIGINTs, so the Σ is exact in both engines regardless of order.
      // ln(x)/ln(2), NOT log2(): Spark's LOG2 computes Math.log(x)/
      // Math.log(2) while DuckDB's log2() is libm log2 — measured to
      // differ by 1 ulp on some integer inputs, which floor() would
      // amplify into an off-by-one sq. ln ≡ ln is the BM25-proven identity.
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents),
         c AS (SELECT doc_id, w, count(*) AS c FROM w
               WHERE w <> '' GROUP BY 1, 2),
         s AS (SELECT doc_id,
                CAST(sum(CAST(floor(c * (ln(c) / ln(2)) * 1000000) AS BIGINT))
                  AS BIGINT) AS sq,
                CAST(sum(c) AS BIGINT) AS n_tokens
               FROM c GROUP BY 1)
         SELECT doc_id, n_tokens,
                round(ln(n_tokens) / ln(2)
                      - (CAST(sq AS DOUBLE) / 1000000.0) / n_tokens, 4) + 0
                  AS entropy
         FROM s"""),

    // ── PII redaction with per-rule audit counts: the corpus is word
    //    salad, so deterministic contact strings are constructed from
    //    doc_id first, then scrubbed (ext.Redact — ordered rules, pure
    //    per-row regex, no shuffle).
    QuerySpec("q_redact", (s, dir) => {
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com host 10.0."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 97).cast("string"),
          lit(" tel 555-867-5309")).as("text"))
      graft.ext.Redact.scrub(withPii, "doc_id", "text")
    },
      // staged CTEs mirror the ordered-rule contract: each rule counts on
      // the text as it stood when it ran (t0 → t1 → t2)
      """WITH d0 AS (SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com host 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.'
                     || CAST(doc_id % 97 AS VARCHAR)
                     || ' tel 555-867-5309' AS t0
              FROM documents),
         d1 AS (SELECT doc_id, t0,
                regexp_replace(t0, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                               '<EMAIL>', 'g') AS t1 FROM d0),
         d2 AS (SELECT doc_id, t0, t1,
                regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                               '<IP>', 'g') AS t2 FROM d1)
         SELECT doc_id,
                regexp_replace(t2,
                  '(\+?1[-. ])?(\(\d{3}\) ?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b',
                  '<PHONE>', 'g') AS redacted,
                len(regexp_extract_all(t0,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
                len(regexp_extract_all(t1,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
                len(regexp_extract_all(t2,
                  '(\+?1[-. ])?(\(\d{3}\) ?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b'))
                  AS n_phone
         FROM d2"""),

    // ── Gopher-style repetition quality signals: duplicate-word fraction
    //    + most-frequent-bigram coverage, everything keyed per document
    //    (codegen array arithmetic + one doc-local histogram; nothing
    //    corpus-global — ext.Repetition).
    QuerySpec("q_repetition", (s, dir) =>
      graft.ext.Repetition.stats(Tables.documents(s, dir), "doc_id", "text"),
      // bigram = word || lead(word) over doc position (unnest zips with
      // generate_subscripts); fractions use the integer half-up formulation
      """WITH d AS (SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
         base AS (SELECT doc_id, len(ws) AS n_words,
                len(list_distinct(ws)) AS n_distinct FROM d),
         w AS (SELECT doc_id, unnest(ws) AS word,
                generate_subscripts(ws, 1) AS pos FROM d),
         b AS (SELECT doc_id, word || ' ' ||
                lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
              FROM w),
         c AS (SELECT doc_id, bigram, count(*) AS n_occ FROM b
              WHERE bigram IS NOT NULL GROUP BY doc_id, bigram),
         top AS (SELECT doc_id, bigram AS top_bigram, n_occ,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n_occ DESC, bigram) AS rk
              FROM c)
         SELECT base.doc_id,
                floor((2*(n_words - n_distinct)*10000 + greatest(n_words, 1))
                      / (2*greatest(n_words, 1))) / 10000.0 AS dup_word_frac,
                top_bigram,
                coalesce(floor((2*n_occ*10000 + greatest(n_words - 1, 1))
                      / (2*greatest(n_words - 1, 1))) / 10000.0, 0.0)
                  AS top_bigram_frac
         FROM base LEFT JOIN (SELECT * FROM top WHERE rk = 1) t
           USING (doc_id)"""),

    // ── BPE merge statistics (ext.BpeStats): adjacent char-pair counts
    //    computed from the word-frequency table, not the corpus — the
    //    classic BPE trick that bounds the explode by vocabulary size.
    //    Top-50 under the (cnt desc, pair asc) total order.
    QuerySpec("q_bpe_pairs", (s, dir) =>
      graft.ext.BpeStats.topPairs(Tables.documents(s, dir), "text", 50),
      // vocabulary-weighted char-pair counting mirrored: range(1, len) is
      // 1..len-1, substr by character in both engines; overlapping pairs
      // count once per position ("aaa" contributes two "aa")
      """WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS wcnt
              FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                      AS word FROM documents)
              WHERE word <> '' GROUP BY 1),
         p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, wcnt
               FROM wc, UNNEST(range(1, len(word))) t(i)
               WHERE len(word) >= 2),
         pc AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
                FROM p GROUP BY 1)
         SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 50"""),

    // ── Vocabulary drift (ext.Drift.vocabKl): per-word smoothed-KL
    //    contributions between the full corpus and its en-slice — the
    //    "did this filter shift the distribution?" check before shipping
    //    a dataset revision. Σ contrib = KL in micro-nats.
    QuerySpec("q_vocab_drift", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Drift.vocabKl(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
    },
      // smoothed-KL contribution tree mirrored verbatim; HUGEINT totals
      // cast to double match Spark's driver-side literals exactly
      """WITH a AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
                    FROM documents),
         ca AS (SELECT word, count(*) AS c_a FROM a GROUP BY 1),
         b AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
               FROM documents WHERE lang = 'en'),
         cb AS (SELECT word, count(*) AS c_b FROM b GROUP BY 1),
         j AS (SELECT COALESCE(ca.word, cb.word) AS word,
                      COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
               FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
         t AS (SELECT sum(c_a) AS ta, sum(c_b) AS tb, count(*) AS v FROM j)
         SELECT word, c_a, c_b,
                round(((CAST(c_a + 1 AS DOUBLE)
                        / CAST((SELECT ta + v FROM t) AS DOUBLE))
                       * ln((CAST(c_a + 1 AS DOUBLE)
                             / CAST((SELECT ta + v FROM t) AS DOUBLE))
                            / (CAST(c_b + 1 AS DOUBLE)
                               / CAST((SELECT tb + v FROM t) AS DOUBLE))))
                      * 1000000.0, 4) + 0 AS contrib_unats
         FROM j"""),

    // ── Vocabulary statistics (tokenizer-training shape): corpus-wide
    //    token frequency + document frequency, top 100 under a TOTAL
    //    order (count desc, then word) so the cut is deterministic.
    QuerySpec("q_vocab_topk", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.words(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occ").desc, col("word"))
        .limit(100),
      """WITH w AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
              FROM documents)
         SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
         FROM w GROUP BY word
         ORDER BY n_occ DESC, word LIMIT 100"""),

    // ── Quality scoring: length / punctuation / stopword-ratio composite.
    QuerySpec("q_quality_score", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_words"),
        TextAnalysis.qualityScore(col("text"), ExtConfig.stopwords).as("quality")),
      // quality is exact integer arithmetic + explicit half-up rounding —
      // round(double, 4) disagrees between engines at .xxxx5 boundaries
      s"""WITH $qualityTCte
         SELECT doc_id, w AS n_words,
                $qualityFormulaSql AS quality
         FROM t"""),

    // ── Language ID: marker-token voting with lexicographic tie-break.
    QuerySpec("q_lang_id", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text"), ExtConfig.langMarkers).as("predicted")),
      """WITH s AS (SELECT doc_id, lang,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['der','die','das','und'], x))) AS s_de,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['the','a','of','and'], x))) AS s_en,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['el','los','que'], x))) AS s_es,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['le','les','une'], x))) AS s_fr,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 x -> list_contains(['de','shi','le'], x))) AS s_zh
           FROM documents)
         SELECT doc_id, lang,
                CASE WHEN s_de >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_en >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_es >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                     WHEN s_fr >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                     WHEN s_zh >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                     ELSE 'und' END AS predicted
         FROM s"""),

    // ── Dictionary phrase tagging (ext.DictTag): whole-token window
    //    matching via per-length n-gram equi join — one corpus scan,
    //    candidates bounded by true hits (never doc×phrase), the
    //    blocklist/entity-tagging curation face.
    QuerySpec("q_dict_tag", (s, dir) => {
      val phrases = s.createDataFrame(Seq(
        ("p_fast", "fast"),
        ("p_hash_join", "hash join"),
        ("p_table_scan", "table scan"),
        ("p_slow_query", "slow query"),
        ("p_sort_merge", "sort merge"),
        ("p_big_table_scan", "big table scan"))).toDF("pid", "phrase")
      graft.ext.DictTag.tagPhrases(Tables.documents(s, dir),
        "doc_id", "text", phrases, "pid", "phrase")
    },
      // the same windows from the same tokenization, lengths unrolled;
      // DuckDB range(1, 0) is empty so short docs need no guard (Spark's
      // descending sequence() does — handled operator-side)
      """WITH ph(pid, phrase) AS (VALUES
           ('p_fast', 'fast'), ('p_hash_join', 'hash join'),
           ('p_table_scan', 'table scan'), ('p_slow_query', 'slow query'),
           ('p_sort_merge', 'sort merge'),
           ('p_big_table_scan', 'big table scan')),
         toks AS (SELECT doc_id, string_split_regex(lower(trim(text)),
                    '\s+') AS tk FROM documents),
         g1 AS (SELECT doc_id, tk[i] AS gram
                FROM toks, UNNEST(range(1, len(tk) + 1)) t(i)),
         g2 AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS gram
                FROM toks, UNNEST(range(1, len(tk))) t(i)),
         g3 AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
                FROM toks, UNNEST(range(1, len(tk) - 1)) t(i)),
         g AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
               UNION ALL SELECT * FROM g3)
         SELECT g.doc_id AS doc, ph.pid AS phrase_id,
                CAST(count(*) AS BIGINT) AS n_hits
         FROM g JOIN ph ON g.gram = ph.phrase
         GROUP BY 1, 2"""),

    // ── Exact lexical cosine pairs (ext.LexCosine) on a 1/20 doc
    //    sample: integer tf vectors over the df≤200-projected
    //    vocabulary, inverted-index pairing, τ=4/5 decided by integer
    //    cross-multiplication — the sparse complement to q_embed_dedup
    //    (and the exact face of what MinHash approximates).
    QuerySpec("q_lex_cosine", (s, dir) =>
      graft.ext.LexCosine.tfCosinePairs(
        Tables.documents(s, dir).filter(col("doc_id") % 20 === 3),
        "doc_id", "text", tauNum = 4, tauDen = 5, maxTermDF = 200),
      // identical vocabulary projection, identical integer threshold —
      // the ceil-division identity q²·n² ≥ m ⟺ n² ≥ ⌈m/q²⌉ lets both
      // engines stay inside BIGINT
      """WITH d AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 20 = 3),
         tok0 AS (SELECT doc_id, word AS term, count(*) AS tf FROM (
                SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
                  '\s+')) AS word FROM d)
              WHERE word <> '' GROUP BY 1, 2),
         dfs AS (SELECT term, count(*) AS df FROM tok0 GROUP BY 1),
         tok AS (SELECT t.doc_id, t.term, t.tf FROM tok0 t
                 JOIN dfs USING (term) WHERE dfs.df <= 200),
         norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS nn
                   FROM tok GROUP BY 1),
         num AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        CAST(sum(a.tf * b.tf) AS BIGINT) AS num
                 FROM tok a JOIN tok b
                 ON a.term = b.term AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
         SELECT doc_a, doc_b, num, na.nn AS norm_a, nb.nn AS norm_b,
                round(num / sqrt(CAST(na.nn AS DOUBLE)
                                 * CAST(nb.nn AS DOUBLE)), 4) AS cos4
         FROM num JOIN norms na ON na.doc_id = num.doc_a
                  JOIN norms nb ON nb.doc_id = num.doc_b
         WHERE num * num >= (16 * na.nn * nb.nn + 24) // 25"""),

    // ── Distributed BPE tokenizer training (ext.Bpe): the corpus is
    //    reduced to a word histogram once, then each merge round is one
    //    pair-count aggregate over that vocabulary-sized table plus a
    //    1-row argmax collect under a TOTAL order (count desc, lhs,
    //    rhs). The oracle replays the identical 8 rounds as a generated
    //    CTE chain, so the whole learned merge table is hash-checked —
    //    training itself, not just a summary statistic.
    QuerySpec("q_bpe_train", (s, dir) => {
      val merges = graft.ext.Bpe.learn(
        Tables.documents(s, dir), "text", rounds = 8)
      s.createDataFrame(merges)
        .select(col("rank").as("merge_rank"), col("lhs"), col("rhs"),
          col("count").as("pair_count"))
    },
      bpeTrainOracle(rounds = 8)),

    // ── Unigram-LM (SentencePiece-style) tokenizer training
    //    (ext.UnigramLm) — the OTHER production tokenizer family: seed
    //    vocabulary = top-48 substrings (≤4 chars) of the word
    //    histogram by occurrence mass ∪ all single chars, then 2
    //    Viterbi-EM rounds with µ-quantized integer log-prob scores
    //    (the NgramLm ln-of-integers discipline). The oracle replays
    //    BOTH rounds as a generated CTE chain — candidate seeding,
    //    score quantization, canonical-path Viterbi (enumerated
    //    segmentations, ORDER BY score DESC, path), usage recount —
    //    so the whole trained table is hash-checked, the q_bpe_train
    //    posture for EM.
    QuerySpec("q_unigram_train", (s, dir) =>
      graft.ext.UnigramLm.train(Tables.documents(s, dir), "text",
        vocabSize = 48, maxPieceLen = 4, rounds = 2),
      // both EM rounds replayed: integer ln args quantize identically,
      // and the canonical Viterbi path re-derives by enumerating every
      // segmentation and taking (score DESC, path ASC) — provably the
      // operator's shortest-piece-first tie rule
      unigramTrainOracle(rounds = 2, vocabSize = 48, maxLen = 4)),

    // ── Unigram-LM ENCODE (the inference face, pairing q_bpe_encode):
    //    per-doc token counts under the canonical Viterbi against the
    //    trained score table — train and encode hash-gate together, so
    //    a drift in either the EM rounds or the segmentation tie-break
    //    breaks the row. The oracle extends the train unroll with one
    //    more score derivation + reach CTE over the word universe.
    QuerySpec("q_unigram_encode", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scores = graft.ext.UnigramLm.scoreTable(
        graft.ext.UnigramLm.train(docs, "text",
          vocabSize = 48, maxPieceLen = 4, rounds = 2))
      graft.ext.UnigramLm.tokenCounts(docs, "doc_id", "text",
        scores, maxPieceLen = 4)
    },
      // the train unroll + one more score derivation + a reach CTE over
      // the word universe; per-doc counts left-join so empty docs keep
      // their zero row
      unigramTrainOracle(rounds = 2, vocabSize = 48, maxLen = 4,
        encode = true)),

    // ── BPE encoding with a FIXED merge list (the inference face of
    //    ext.Bpe): greedy leftmost-non-overlapping application as a
    //    codegen replace chain over the "(sym)(sym)" encoding; per-doc
    //    token counts after 5 merges. Same literals on both sides, so
    //    any deviation in application order or overlap handling
    //    hash-mismatches.
    QuerySpec("q_bpe_encode", (s, dir) => {
      val merges5 = Seq("e" -> "r", "i" -> "n", "o" -> "w",
        "o" -> "r", "s" -> "t")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.ext.TextAnalysis.words(col("text"))).as("word"))
        .select(col("doc_id"),
          regexp_replace(col("word"), "[^a-z0-9]", "").as("word"))
        .filter(col("word") =!= "")
        .select(col("doc_id"),
          graft.ext.Bpe.encodeWith(col("word"), merges5).as("enc"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(graft.ext.Bpe.tokenCountOf(col("enc")).cast("long"))
            .as("n_tokens"))
    },
      """WITH w AS (SELECT doc_id,
                regexp_replace(unnest(string_split_regex(lower(trim(text)), '\s+')),
                               '[^a-z0-9]', '', 'g') AS word
              FROM documents),
         e0 AS (SELECT doc_id, regexp_replace(word, '(.)', '(\1)', 'g') AS enc
                FROM w WHERE word <> ''),
         e1 AS (SELECT doc_id, replace(enc, '(e)(r)', '(er)') AS enc FROM e0),
         e2 AS (SELECT doc_id, replace(enc, '(i)(n)', '(in)') AS enc FROM e1),
         e3 AS (SELECT doc_id, replace(enc, '(o)(w)', '(ow)') AS enc FROM e2),
         e4 AS (SELECT doc_id, replace(enc, '(o)(r)', '(or)') AS enc FROM e3),
         e5 AS (SELECT doc_id, replace(enc, '(s)(t)', '(st)') AS enc FROM e4)
         SELECT doc_id, count(*) AS n_words,
                CAST(sum(len(enc) - len(replace(enc, '(', ''))) AS BIGINT)
                  AS n_tokens
         FROM e5 GROUP BY doc_id"""),

    // ── Hybrid retrieval (ext.Fusion): BM25 sparse top-50 ⊕ dense
    //    cosine top-50 (query = embedding 0) fused by reciprocal-rank
    //    fusion, k=60 — contributions quantized to integer µ-units
    //    BEFORE the per-doc sum, so the fused ranking is shuffle-order-
    //    proof. Corpus-sized work stays in the retrievers; fusion
    //    touches only the pre-cut lists.
    QuerySpec("q_hybrid_search", (s, dir) => {
      val sparse = Fusion.rankList(
        Relevance.bm25(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("spark", "table", "join"))
          .select(col("doc_id"), col("bm25")),
        "doc_id", "bm25", n = 50)
      val dense = Similarity.bruteForceTopK(Tables.embeddings(s, dir),
          Tables.embeddings(s, dir).filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rk"))
      Fusion.rrfFused(Seq(sparse -> "rank", dense -> "rk"),
        "doc_id", k = 60, topN = 20)
    },
      // sparse arm = the q_bm25 pipeline ranked over the ROUNDED score
      // (q_keywords' accepted ulp class); dense arm = the q_ann_brute
      // decimal-exact cosine ranking for query 0; fusion in integer
      // µ-units — identical quantization, k=60, and (rrf desc, id) order
      """WITH w AS (SELECT doc_id,
                string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
         base AS (SELECT doc_id, len(ws) AS dl,
                len(list_filter(ws, x -> x = 'spark')) AS tf_0,
                len(list_filter(ws, x -> x = 'table')) AS tf_1,
                len(list_filter(ws, x -> x = 'join'))  AS tf_2
              FROM w),
         stats AS (SELECT
                CAST(count(*) AS DOUBLE) AS n_docs,
                CAST(sum(dl) AS DOUBLE) AS sum_dl,
                CAST(count(CASE WHEN tf_0 > 0 THEN 1 END) AS DOUBLE) AS df_0,
                CAST(count(CASE WHEN tf_1 > 0 THEN 1 END) AS DOUBLE) AS df_1,
                CAST(count(CASE WHEN tf_2 > 0 THEN 1 END) AS DOUBLE) AS df_2
              FROM base),
         sc AS (SELECT doc_id,
                round(
                  ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0)
                    * (CAST(tf_0 AS DOUBLE) * 2.2)
                    / (CAST(tf_0 AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0)
                    * (CAST(tf_1 AS DOUBLE) * 2.2)
                    / (CAST(tf_1 AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))
                + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0)
                    * (CAST(tf_2 AS DOUBLE) * 2.2)
                    / (CAST(tf_2 AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs)))),
                4) AS bm25
              FROM base, stats),
         sr AS (SELECT doc_id, rnk FROM (
                  SELECT doc_id, row_number()
                    OVER (ORDER BY bm25 DESC, doc_id) AS rnk FROM sc)
                WHERE rnk <= 50),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv
               FROM embeddings WHERE vec_id <> 0),
         d AS (SELECT neighbor_id,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS dotv,
                 CAST(sum(CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nq,
                 CAST(sum(CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) AS nc
               FROM c, q, UNNEST(range(1, len(qv) + 1)) t(i)
               GROUP BY 1),
         dr AS (SELECT neighbor_id AS doc_id, rnk FROM (
                  SELECT neighbor_id, row_number()
                    OVER (ORDER BY dotv/(sqrt(nq)*sqrt(nc)) DESC,
                          neighbor_id) AS rnk FROM d)
                WHERE rnk <= 50),
         contrib AS (
           SELECT doc_id,
                  CAST(floor(1e12 / (60 + rnk) + 0.5) AS BIGINT) AS c
           FROM sr
           UNION ALL
           SELECT doc_id,
                  CAST(floor(1e12 / (60 + rnk) + 0.5) AS BIGINT)
           FROM dr),
         f AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lists,
                 CAST(sum(c) AS BIGINT) AS rrf_micro
               FROM contrib GROUP BY doc_id)
         SELECT doc_id, n_lists, rrf_micro, CAST(rnk AS INTEGER) AS rank
         FROM (SELECT doc_id, n_lists, rrf_micro, row_number()
                 OVER (ORDER BY rrf_micro DESC, doc_id) AS rnk FROM f)
         WHERE rnk <= 20"""),

    // ── Cross-source vocabulary overlap (ext.GroupOverlap): exact
    //    |A|,|B|,|A∩B| and µ-Jaccard for every lang pair — computed
    //    ELEMENT-KEYED (per-word group sets, in-row pair explode
    //    bounded by C(groups,2)), never a groups×groups join. The
    //    duplication-pressure diagnostic before dedup.
    QuerySpec("q_group_overlap", (s, dir) =>
      graft.ext.GroupOverlap.pairwise(
        Tables.documents(s, dir).select(col("lang"),
          explode(TextAnalysis.words(col("text"))).as("word")),
        "lang", "word"),
      // distinct (lang, word) memberships, pairs under the same ascending
      // string order the operator's sorted group sets produce, µ-Jaccard
      // as the same half-up integer division
      """WITH ge AS (SELECT DISTINCT lang AS g,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS e
              FROM documents WHERE lang IS NOT NULL),
         sizes AS (SELECT g, count(*) AS n FROM ge GROUP BY g),
         pairs AS (SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_common
                   FROM ge a JOIN ge b ON a.e = b.e AND a.g < b.g
                   GROUP BY 1, 2)
         SELECT g_a, g_b, sa.n AS n_a, sb.n AS n_b, n_common,
                CAST((2 * 1000000 * n_common + (sa.n + sb.n - n_common))
                     // (2 * (sa.n + sb.n - n_common)) AS BIGINT)
                  AS jaccard_micro
         FROM pairs JOIN sizes sa ON sa.g = g_a
                    JOIN sizes sb ON sb.g = g_b"""),

    // ── Persisted BM25 posting index, built then served in one face
    //    (ext.PostingIndex — the sparse twin of q_ann_ivf_disk): build
    //    pays the corpus scan once into bucket-partitioned postings +
    //    doclens + df/stats; the query reads ONLY its terms' buckets
    //    (partition-pruned, contracted) and must reproduce the scan
    //    scorer's floats bit-for-bit on every matching doc.
    QuerySpec("q_bm25_indexed", (s, dir) => {
      val path = scratchDir(s, "q_bm25_indexed")
      graft.ext.PostingIndex.build(Tables.documents(s, dir),
        "doc_id", "text", path, termBuckets = 64)
      graft.ext.PostingIndex.scoreQuery(s, path,
        terms = Seq("spark", "table", "join"), termBuckets = 64)
    },
      // the indexed serving path must reproduce the scan scorer's exact
      // floats on every doc a query term touches — same oracle, restricted
      // to matching docs (the index never reads the rest)
      bm25MatchingOracle),

    // ── Lucene-semantics DELETE, driver-visible: build, tombstone
    //    every doc_id % 7 == 0, serve. Masked docs vanish from the
    //    results while the survivors' scores stay computed against the
    //    FULL corpus statistics (stale df/N/avgdl until compaction) —
    //    which is exactly what the oracle expresses: the full-corpus
    //    bm25 replay with the deleted ids excluded from the ROWS only.
    QuerySpec("q_bm25_delete", (s, dir) => {
      val path = scratchDir(s, "q_bm25_delete")
      val docs = Tables.documents(s, dir)
      graft.ext.PostingIndex.build(docs, "doc_id", "text", path,
        termBuckets = 64)
      graft.ext.PostingIndex.deleteSave(path,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
        "doc_id", wave = 1L)
      graft.ext.PostingIndex.scoreQuery(s, path,
        terms = Seq("spark", "table", "join"), termBuckets = 64)
    },
      // delete mask: full-corpus statistics (the subquery is the SAME
      // bm25 replay), deleted ids excluded from the rows only — the
      // stale-stats Lucene contract in one WHERE clause
      s"""SELECT * FROM ($bm25Oracle)
         WHERE (tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0)
           AND doc_id % 7 <> 0"""),

    // ── Incremental index growth (ext.PostingIndex.append): build on
    //    two-thirds of the corpus, fold the rest in WITHOUT re-reading
    //    the indexed docs — the wave lands as its own `batch=1`
    //    partition in all four tables via dynamic partition overwrite
    //    (crash/replay-idempotent; serving sums df/stats across waves;
    //    nothing merges in place, nothing renames) — then serve. Must
    //    equal build-on-everything bit-for-bit: the SAME oracle as
    //    q_bm25_indexed.
    QuerySpec("q_bm25_append", (s, dir) => {
      val path = scratchDir(s, "q_bm25_append")
      val docs = Tables.documents(s, dir)
      graft.ext.PostingIndex.build(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", path, termBuckets = 64)
      graft.ext.PostingIndex.append(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", path, wave = 1L, termBuckets = 64)
      graft.ext.PostingIndex.scoreQuery(s, path,
        terms = Seq("spark", "table", "join"), termBuckets = 64)
    },
      // append-then-serve ≡ build-on-everything: literally the same oracle
      // — a doubled posting, stale df, or missed stats delta anywhere in
      // the incremental path hash-mismatches
      bm25MatchingOracle),

    // ── Overlapping 32-token chunks every 24 tokens (ext.Chunking):
    //    the RAG/embedding document→chunk expansion — in-row slices,
    //    one explode, ZERO shuffles (narrow map; downstream decides
    //    partitioning).
    QuerySpec("q_chunks", (s, dir) =>
      graft.ext.Chunking.chunk(Tables.documents(s, dir),
        "doc_id", "text", window = 32, stride = 24),
      // same non-negative chunk-count arithmetic (Spark div and DuckDB //
      // agree only on non-negative operands — the greatest() is parity,
      // not style), same 1-based truncating slice
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         x AS (SELECT doc_id, toks,
                 CAST(1 + (greatest(len(toks) - 32, 0) + 23) // 24 AS INT)
                   AS n_chunks FROM t),
         c AS (SELECT doc_id, toks,
                 unnest(range(0, n_chunks)) AS chunk_idx FROM x),
         s AS (SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                 toks[chunk_idx*24+1 : chunk_idx*24+32] AS chunk FROM c)
         SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_tok,
                array_to_string(chunk, ' ') AS chunk_text
         FROM s""")
  )
}
