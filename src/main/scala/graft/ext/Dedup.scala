package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all built on the
  * inverted-index / LSH pattern: NEVER a cross join. Candidate generation
  * shuffles on a small key (shingle, band signature, or bucket), so the
  * cost is O(candidate pairs), not O(n²) — the property that keeps these
  * operators alive at 100 TB.
  */
object Dedup {

  /** Word n-gram shingles, one distinct (id, shingle) row per shingle.
    * Docs with fewer than n words (incl. empty/null text) yield no rows —
    * the size guard matters: Spark's `sequence(1, 0)` is DESCENDING
    * `[1, 0]`, and the 0 would crash `slice` at runtime. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val w = TextAnalysis.words(col(textCol))
    // parallelism floor on the RAW projection (Parallelism doc): the
    // tokenize + n-gram expansion is the densest per-row work in the
    // whole dedup family and otherwise runs inside a single-task scan
    // stage on under-split inputs. The floor must sit BELOW words():
    // column pruning pushes only the (id, text) attributes under the
    // exchange, so tokenization evaluates on the repartitioned side.
    // Everything downstream of the distinct is already exchange-parallel.
    graft.model.Parallelism.floor(df.select(col(idCol), col(textCol)))
      .select(col(idCol), w.as("w"))
      .select(col(idCol),
        explode(expr(
          s"case when size(w) >= $n then " +
            s"transform(sequence(1, size(w) - ${n - 1}), " +
            s"i -> concat_ws(' ', slice(w, i, $n))) " +
            s"else array() end")).as("shingle"))
      .distinct()
  }

  /** Exact dedup: normalize → hash → keep the smallest id per hash group.
    * One shuffle on the hash; at scale the hash distributes uniformly so
    * there is no skew by construction. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** N-gram Jaccard near-dup pairs via a prefix-filtered inverted index
    * (the AllPairs/PPJoin candidate-generation family).
    *
    * Candidate generation indexes only each document's PREFIX — its
    * ⌊(1−t)·|d|⌋+1 rarest shingles under a global (corpus df, shingle)
    * order. Prefix-filtering principle: if J(A,B) ≥ t then
    * |A∩B| ≥ t·max(|A|,|B|), so the first |X|−⌈t|X|⌉+1 elements of each
    * set (same total order) must intersect — candidate recall is EXACT,
    * while candidate volume drops from Θ(Σ df²) to the collision count of
    * rare shingles. A size filter (t·|A| ≤ |B| ≤ |A|/t, another exact
    * consequence of J ≥ t) prunes further before the distinct. Every
    * candidate is then verified with true Jaccard over the FULL shingle
    * sets, so results are bit-identical to a naive all-shared-shingle-pairs
    * oracle — this is a pure execution optimization, and the one that keeps
    * the operator alive at 10⁹ docs: ubiquitous shingles sort LAST and so
    * never enter a prefix, which is the principled form of stop-shingle
    * skew handling.
    *
    * @param maxShingleDF optional hard skew guard for adversarial corpora
    *        (e.g. millions of byte-identical docs, where even true-positive
    *        candidate volume is quadratic): additionally drop shingles with
    *        document frequency above the cap from candidate generation.
    *        LOSSY — a pair is missed if every shared shingle exceeds the
    *        cap — so it is opt-in, and a caller checked against an oracle
    *        must model the same cap there. The drop count rides the plan as
    *        an `observe` metric and is logged by a QueryExecutionListener
    *        after each action — no extra Spark job, no silent caps.
    * @param broadcastCandidates broadcast the post-filter candidate pair
    *        list into the two verification joins, so the one-row-per-doc
    *        set table never shuffles (measured ~15% faster end-to-end at
    *        sf0.1). Sound exactly when prefix+size+positional filtering
    *        has done its job — candidates ≪ corpus — which a well-tuned
    *        threshold guarantees on natural corpora; leave false (shuffle
    *        joins, the default) when the candidate volume is unknown or
    *        the corpus is adversarial, since an exploded candidate list
    *        would not fit the driver.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDF: Option[Long] = None,
      broadcastCandidates: Boolean = false,
      hotShingles: Option[DataFrame] = None,
      shinglesOpt: Option[DataFrame] = None,
      dfTblOpt: Option[DataFrame] = None
  ): DataFrame = {
    // shinglesOpt: a caller that already materialized shingles(df)
    // (ngramJaccardPairsSketchCapped checkpoints it for the sketch
    // pass) hands it in so the corpus text is parsed ONCE, not twice
    val sh = shinglesOpt.getOrElse(shingles(df, idCol, textCol, n))
    // Global rarity df via partial-aggregated count + join, NOT an
    // unordered window: Window.partitionBy(shingle) colocates each
    // shingle's posting rows in one task, and a stop-shingle flood is
    // ONE shingle with millions of rows. The hash aggregate combines
    // map-side (the df table is one row per distinct shingle), and the
    // join back is skew-splittable by AQE — same hardening as
    // [[SkewGuard.capKeyFrequency]]. (A per-shingle
    // collect_list would be worse than either: it materializes a
    // stop-shingle's whole posting set in ONE row.)
    // dfTblOpt: the sketch-capped caller already aggregated the SAME
    // df table for its hot-key derivation — reuse it (one distinct-
    // shingle aggregate for the whole query instead of two)
    val dfTbl = dfTblOpt.getOrElse(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
    // join key is NON-NULL BY CONSTRUCTION, as in
    // [[SkewGuard.capKeyFrequency]]'s count + join
    val withDf = sh.join(dfTbl, Seq("shingle"))
      .select(col(idCol), col("shingle"), col("df"))
    val observed = maxShingleDF match {
      case Some(cap) =>
        // the metric sums exploded (doc, shingle) rows, so one hot
        // shingle with df=N contributes N — report it as postings
        SkewGuard.observeDropCount(withDf, "ngram",
          sum(when(col("df") > cap, 1L)),
          dropped => s"ngramJaccardPairs: skew guard dropped $dropped " +
            "(doc, shingle) posting(s) whose shingle document " +
            "frequency exceeds the cap from candidate generation " +
            "(scores remain exact Jaccard over full sets)")
      case None => withDf
    }
    // Per-doc rank and size come from ONE aggregate with an IN-ROW sort
    // (arrays bounded by the doc's own shingle count), replacing two
    // window passes over the exploded frame — and the materialized
    // per-doc frame doubles as the verification set table, so the
    // shingle subtree is parsed ONCE (the earlier second
    // parse+distinct+groupBy pass measured slower at sf0.1; same
    // trade as minhashLshPairs). sort_array on struct(df, shingle) is
    // exactly the (df, shingle) total order the prefix filter needs.
    val perDoc = observed.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("shs"))
      .select(col(idCol), col("shs"),
        size(col("shs")).cast("long").as("n_doc"))
      .localCheckpoint()
    // Prefix selection: keep each doc's ⌊(1−t)·|d|⌋+1 globally-rarest
    // shingles (epsilon guards float rounding so the prefix can only err
    // LONGER — never lossy). rk = 1-based position in the full sorted
    // set; the df cap (if any) filters AFTER rank assignment, so capped
    // shingles still consume their rank slots and verification below
    // still sees FULL sets — identical semantics to the windowed shape.
    val prefixRaw = perDoc
      .select(col(idCol), col("n_doc"),
        posexplode(expr("slice(shs, 1, " +
          s"CAST(floor((1.0 - $threshold) * n_doc + 1e-9) AS INT) + 1)")))
      .select(col(idCol), col("n_doc"), (col("pos") + 1).as("rk"),
        col("col.shingle").as("shingle"), col("col.df").as("df"))
    val prefixDf = (maxShingleDF match {
      case Some(cap) => prefixRaw.filter(col("df") <= cap)
      case None => prefixRaw
    }).select(col(idCol), col("shingle"), col("n_doc"), col("rk"))
    // sketch-derived hot list (`hotShingles`, a DISTINCT one-column
    // frame — see ngramJaccardPairsSketchCapped): listed shingles drop
    // from candidate generation AFTER rank assignment, the exact
    // maxShingleDF discipline (slots consumed, verification still full
    // sets). Same LOSSY caveat, same observe-metric audit.
    val prefix = SkewGuard.dropListedKeys(prefixDf, "shingle", hotShingles,
      "ngram_hot",
      dropped => s"ngramJaccardPairs: sketch-derived hot-key cap " +
        s"dropped $dropped prefix posting(s) from candidate " +
        "generation (scores remain exact Jaccard over full sets)")
    // Candidate pairs from POSTING LISTS, not a self-join: group the prefix
    // index by shingle and expand id pairs in-row. A self-join would plan
    // the whole windowed chain twice (Spark 4.1 AQE does not reuse
    // identical sibling query stages — measured, see PERF.md), and shuffle
    // both copies; this computes it once and shuffles once. Posting lists
    // stay small by construction: prefixes hold each doc's RAREST shingles,
    // and the optional df cap bounds them adversarially. Pairs CARRY both
    // docs' full set sizes (constant per doc), so no sizes subtree or join
    // is ever needed for the Jaccard denominator.
    val postings = prefix
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"),
        col("n_doc").as("n"), col("rk").as("rk")))).as("docs"))
      .filter(size(col("docs")) >= 2)
    val paired = postings
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs)), y -> struct(x, y))))"""
          .stripMargin)).as("p"))
      .select(col("p.x.id").as("doc_a"), col("p.y.id").as("doc_b"),
        col("p.x.n").as("n_a"), col("p.y.n").as("n_b"),
        col("p.x.rk").as("rk_a"), col("p.y.rk").as("rk_b"))
      // size filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t — rank-free, so it
      // stays sound whether or not a cap thinned the prefix
      .filter(col("n_b") >= col("n_a") * threshold - lit(1e-9) &&
        col("n_a") >= col("n_b") * threshold - lit(1e-9))
    // positional filter (PPJoin): a shared shingle at ranks (rkA, rkB)
    // bounds the overlap by 1 + min(|A|−rkA, |B|−rkB); J ≥ t needs
    // overlap ≥ t/(1+t)·(|A|+|B|). A true pair's FIRST common prefix
    // shingle always passes (no shared element can precede it, so the
    // bound dominates the real overlap) and the pair survives the ANY-
    // witness distinct. That argument needs the first common witness to
    // EXIST in the pairing frame — a df/hot cap can remove it, leaving
    // only later witnesses whose bounds are blind to the capped shared
    // shingles before them (sf1 gate: 62 true pairs lost to a 21-vs-24.3
    // bound on the one uncapped witness). UNSOUND under a cap → skipped;
    // the cap already made generation lossy in the modeled direction,
    // and the oracle's cand CTE has no positional term.
    val capActive = maxShingleDF.isDefined || hotShingles.isDefined
    val candidates = (if (capActive) paired
      else paired.filter(
        lit(1) + least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b"))
          >= lit(threshold / (1.0 + threshold)) * (col("n_a") + col("n_b"))
            - lit(1e-9)))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .distinct()

    // exact verify against the SAME materialized per-doc frame (the
    // PPJoin verification shape): two joins against a one-row-per-doc
    // set table and a codegen'd array_intersect, instead of re-exploding
    // the full inverted index into a candidates × shingles/doc
    // intermediate. Cost is O(candidates × set size) compute with no
    // wide shuffle; sets and the Jaccard denominator are the full
    // (pre-cap) sets/sizes, riding the candidate rows.
    val docsets = perDoc.select(col(idCol),
      expr("transform(shs, x -> x.shingle)").as("shset"))
    val jac = col("n_inter").cast("double") /
      (col("n_a") + col("n_b") - col("n_inter"))
    val probe = if (broadcastCandidates) broadcast(candidates) else candidates
    val withSa = probe
      .join(docsets.select(col(idCol).as("doc_a"), col("shset").as("sa")), Seq("doc_a"))
    // PIN the doc_b exchange's partition count ([[Parallelism.pin]]):
    // the sort-merge join pays this exchange anyway, and AQE's
    // byte-based coalescing otherwise starves the verify stage's
    // per-row array_intersect compute (measured at sf0.1: coalesced to
    // 4 tasks carrying 8.2 s of the query's 16.3 s task time, max task
    // 2.8 s, while 32 cores idled). Broadcast-candidate path too: its
    // second join is the same doc_b-keyed sort-merge (the docset table
    // outgrows the broadcast threshold by construction).
    graft.model.Parallelism.pin(withSa, col("doc_b"))
      .join(docsets.select(col(idCol).as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** [[ngramJaccardPairs]] with the hot-key cap DERIVED from a Count-Min
    * sketch instead of handed in by the caller (review r13 #7: the X63
    * guards took cap inputs on faith): one map-side-combinable sketch
    * pass over the postings, then every distinct shingle probes it and
    * the ones estimating ≥ `minEst` become the cap list. CM's one-sided
    * est ≥ true guarantee means a genuinely hot shingle can NEVER dodge
    * the cap; collisions can cap an innocent rare shingle (lossy in the
    * same direction the cap already is — candidate generation only,
    * scores stay exact full-set Jaccard, drops audited by the observe
    * metric). Deterministic md5 buckets make the whole derivation
    * SQL-replayable, so the capped pair set hash-gates
    * (q_ngram_sketch_capped).
    *
    * Production shape: the sketch here is built in-query for the gated
    * row; a continuous pipeline serves the SAME derivation from the
    * [[graft.streaming.CountMinStream]]-maintained sketch store —
    * merge-is-exact makes the two indistinguishable. */
  def ngramJaccardPairsSketchCapped(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      minEst: Long,
      d: Int = 4,
      w: Int = 65536,
      seed: Long = 42L
  ): DataFrame = {
    require(minEst >= 2, s"minEst must be >= 2: $minEst")
    // ONE text parse feeds the sketch, the probe keys, AND the pair
    // operator (shinglesOpt below) — the corpus is never re-tokenized
    val sh = shingles(df, idCol, textCol, n).localCheckpoint()
    // ONE distinct-shingle aggregate feeds the sketch build, the probe,
    // AND the pair operator's rarity table (dfTblOpt): the d md5
    // buckets are computed per DISTINCT shingle instead of per posting
    // row for the build plus per distinct for the probe, and the cap
    // list is bit-identical (CountMin.hotKeysWeighted — cell counts are
    // Σ df of the shingles hashing there, exactly the posting count)
    val dfTbl = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val hot = CountMin.hotKeysWeighted(dfTbl, "shingle", "df", minEst,
      d, w, seed)
    ngramJaccardPairs(df, idCol, textCol, n, threshold,
      hotShingles = Some(hot), shinglesOpt = Some(sh),
      dfTblOpt = Some(dfTbl))
  }

  /** The persistable MinHash INDEX: one row per doc with the signature
    * columns (`sig_0..sig_{numHashes-1}`), the distinct-shingle count
    * (`n_sh`) and the verification shingle set (`shset`) — everything the
    * band chain and the exact-Jaccard verifier need, and nothing that
    * requires re-reading the document text. At 100 TB this frame is what
    * gets WRITTEN once per corpus build (parquet, pruned columnarly: a
    * band probe reads only the sig columns, a verify join only `shset`)
    * and then served to [[minhashLshPairsIncremental]] for every
    * subsequent batch — the corpus text is never parsed again.
    * sig_h = `min(md5(h || '|' || shingle))`: md5 is the permutation
    * proxy (deterministic across engines, SQL-expressible for the
    * oracle), and all minima ride ONE HashAggregate — no row explosion. */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 12
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, shingleN)
    val sigAggs = (0 until numHashes).map { h =>
      min(md5(concat(lit(h), lit("|"), col("shingle")))).as(s"sig_$h")
    } ++ Seq(count(lit(1)).as("n_sh"),
      collect_list(col("shingle")).as("shset"))
    // PIN the doc-id exchange ([[graft.model.Parallelism.pin]]): the
    // groupBy shuffles on the id regardless, but its numHashes min-md5
    // expressions are per-row COMPUTE over few bytes, and AQE's
    // byte-based coalescing squeezed the aggregate stage to 4 tasks
    // (1.7–2.4 s of task time, max ~0.6 s) across every minhash
    // consumer at sf0.1 while the cluster idled. collect_list order
    // changes with the partitioning, but shset only ever feeds
    // size(array_intersect(...)) — order-insensitive by construction
    // (and the oracle re-proves every consumer).
    graft.model.Parallelism.pin(sh, col(idCol))
      .groupBy(col(idCol)).agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** Unpivot an index frame to one row per (doc, band): band signature =
    * md5 of the band's sorted "h:sig" strings (sorted so the value is
    * order-canonical and matches the SQL oracle); bands unpivot via
    * stack() — pure projection, no extra shuffle. `numHashes` is read
    * off the index schema, so a parquet-persisted index round-trips. */
  private def bandFrame(index: DataFrame, idCol: String,
      bandSize: Int): DataFrame = {
    val numHashes = index.columns.count(_.startsWith("sig_"))
    require(numHashes > 0 && numHashes % bandSize == 0,
      s"index has $numHashes sig columns, not divisible into $bandSize-row bands")
    val nBands = numHashes / bandSize
    val bandCols = (0 until nBands).map { b =>
      val items = (b * bandSize until (b + 1) * bandSize).map { h =>
        concat_ws(":", lit(h), col(s"sig_$h"))
      }
      md5(concat_ws("|", array_sort(array(items: _*)))).as(s"bsig_$b")
    }
    val stackArgs = (0 until nBands).map(b => s"$b, bsig_$b").mkString(", ")
    index
      .select(col(idCol) +: col("n_sh") +: bandCols: _*)
      .select(col(idCol), col("n_sh"),
        expr(s"stack($nBands, $stackArgs) AS (band, band_sig)"))
  }

  /** MinHash + LSH near-dup pairs, verified with true Jaccard.
    *
    * Bands of `bandSize` signature rows are hashed; docs sharing any band
    * hash become candidates (one shuffle on the band key); candidates are
    * then verified against the exact shingle-set Jaccard. Recall follows
    * the usual 1-(1-s^r)^b curve; precision is exact post-verify.
    *
    * @param broadcastCandidates broadcast the post-band candidate pair
    *        list into the two verification joins (same contract and
    *        caveats as [[ngramJaccardPairs]]'s flag: sound when banding
    *        leaves candidates ≪ corpus; keep false for adversarial or
    *        unknown corpora).
    * @param maxBandDF opt-in hot-band guard ([[SkewGuard.capKeyFrequency]]
    *        on the (band, band_sig) postings): a flood of byte-identical
    *        docs shares every band, making even true-positive candidates
    *        quadratic in the flood size. LOSSY above the cap (run exact
    *        dedup first — that is the operator that handles identical
    *        floods); audited, never silent.
    * @param bandHotMinEst sketch-DERIVED hot-band cap (the X162
    *        `ngramJaccardPairsSketchCapped` discipline extended to the
    *        band keys): one Count-Min pass over the (band, band_sig)
    *        postings (d=4, w=65536, seed=42 — the engine-shared md5
    *        coin), then every posting probes it and keys estimating
    *        ≥ the floor are dropped from candidate generation. CM's
    *        one-sided est ≥ true guarantee means a genuinely flooded
    *        band can NEVER dodge the cap; a collision can cap an
    *        innocent band (lossy in the direction the cap already is
    *        — candidates only, verification stays exact Jaccard,
    *        drops audited via the observe metric). The derivation is
    *        SQL-replayable, so the capped pair set hash-gates
    *        (q_minhash_sketch_capped). Composes with `maxBandDF`
    *        (exact count) — production pipelines serve the sketch from
    *        the CountMinStream store instead. */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 12,
      bandSize: Int = 4,
      threshold: Double = 0.7,
      broadcastCandidates: Boolean = false,
      maxBandDF: Option[Long] = None,
      bandHotMinEst: Option[Long] = None
  ): DataFrame = {
    // signatures, the doc's set size, AND its verification shingle set in
    // ONE HashAggregate over ONE pass of the shingle subtree, materialized
    // once (localCheckpoint): the band chain and both verify joins read
    // from it. The earlier two-pass shape (a separate docsets aggregate)
    // re-ran parse+explode+distinct for the verifier — AQE does not reuse
    // sibling stages (PERF.md) — and measured slower at sf0.1. The
    // materialized frame is one row per doc (the same bytes the verify
    // join shuffles anyway), so the trade is one write for one full
    // recompute of the corpus scan.
    val perDoc = minhashIndex(df, idCol, textCol, shingleN, numHashes)
      .localCheckpoint()
    val bandsDet0 = bandFrame(perDoc.drop("shset"), idCol, bandSize)
    val bandsDet = SkewGuard.capKeyFrequency(bandsDet0,
      Seq("band", "band_sig"), maxBandDF, "maxBandDF", "minhash_band",
      dropped => s"minhashLshPairs: skew guard dropped $dropped " +
        s"(doc, band) posting(s) whose band document frequency " +
        "exceeds the cap from candidate generation (run exact dedup " +
        "upstream to remove identical-document floods losslessly)")
    val bandsFinal = dropSketchHot(bandsDet,
      concat_ws(":", col("band"), col("band_sig")), bandHotMinEst,
      "bandHotMinEst", "minhash_band_sketch",
      dropped => s"minhashLshPairs: sketch-derived hot-band cap " +
        s"dropped $dropped (doc, band) posting(s) from candidate " +
        "generation (verification stays exact Jaccard over full sets)")

    val ca = bandsFinal.select(col(idCol).as("doc_a"), col("band"),
      col("band_sig"), col("n_sh").as("n_a"))
    val cb = bandsFinal.select(col(idCol).as("doc_b"), col("band"),
      col("band_sig"), col("n_sh").as("n_b"))
    // sizes are constant per doc, so carrying them through the distinct
    // leaves the candidate cardinality unchanged
    val candidates = ca.join(cb, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b")).distinct()

    // verify candidates with exact jaccard against the SAME materialized
    // per-doc frame (array_intersect, codegen) — candidate-driven, so cost
    // is O(candidate pairs × set size), independent of the corpus-wide
    // shingle collision count, with no exploded join intermediate.
    val docsets = perDoc.select(col(idCol), col("shset"))
    val jac = col("n_inter").cast("double") /
      (col("n_a") + col("n_b") - col("n_inter"))
    val probe = if (broadcastCandidates) broadcast(candidates) else candidates
    // doc_b exchange pinned for the same reason as [[ngramJaccardPairs]]'
    // verify: AQE byte-coalescing vs a compute-dense intersect stage
    graft.model.Parallelism.pin(
        probe.join(docsets.select(col(idCol).as("doc_a"),
          col("shset").as("sa")), Seq("doc_a")),
        col("doc_b"))
      .join(docsets.select(col(idCol).as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** `bandHotMinEst`/`chunkHotMinEst`: the fused Count-Min build+probe
    * ([[CountMin.hotKeysWeighted]], d=4, w=65536, seed=42 — the oracles
    * replay this sketch over exactly these `key` strings) runs once per
    * DISTINCT key, so the postings are evaluated twice (df aggregate +
    * flagged join) instead of three times (sketch, probe, join). */
  private def dropSketchHot(postings: DataFrame, key: Column,
      minEst: Option[Long], param: String, name: String,
      msg: Long => String): DataFrame =
    minEst.fold(postings) { minEst =>
      require(minEst >= 2, s"$param must be >= 2: $minEst")
      val keyed = postings.withColumn("__hk", key)
      val hot = CountMin.hotKeysWeighted(
        keyed.groupBy(col("__hk")).agg(count(lit(1)).as("__kdf")),
        "__hk", "__kdf", minEst, d = 4, w = 65536)
      SkewGuard.dropListedKeys(keyed, "__hk", Some(hot), name, msg)
        .drop("__hk")
    }

  /** Incremental MinHash-LSH: near-dup pairs of a NEW batch against a
    * prebuilt corpus [[minhashIndex]] (plus within-batch pairs), WITHOUT
    * re-reading or re-shingling the corpus text — the production shape
    * for continuous ingestion at 100 TB, where the corpus index is a
    * persisted parquet table and each day's batch probes it.
    *
    * Emitted pairs all touch the batch (corpus↔batch and batch↔batch);
    * corpus↔corpus pairs were the corpus build's job. Results for those
    * pairs are IDENTICAL to a full [[minhashLshPairs]] recompute over
    * corpus ∪ batch (same signature family, same bands, same exact
    * verify) — spec-asserted, and hash-gated against the full-recompute
    * SQL oracle (q_dedup_incr).
    *
    * Scale shape ([[incrementalCandidates]]): the ONLY pass over the
    * corpus index is one columnar scan of its sig columns, plus
    * verify-join lookups of `shset` for the candidate ids. Indexes must
    * have disjoint id sets and the same signature family (numHashes is
    * read off the schema and must match).
    */
  def minhashLshPairsIncremental(
      corpusIndex: DataFrame,
      batchIndex: DataFrame,
      idCol: String,
      bandSize: Int = 4,
      threshold: Double = 0.7
  ): DataFrame = {
    // same-family check: bandFrame reads numHashes off each index's own
    // schema, so a 12-hash corpus joined with a 16-hash batch would band
    // fine per-side yet produce disjoint band signatures — dedup would
    // silently stop finding corpus duplicates. Fail loudly instead.
    val nCorpus = corpusIndex.columns.count(_.startsWith("sig_"))
    val nBatch = batchIndex.columns.count(_.startsWith("sig_"))
    require(nCorpus == nBatch,
      s"corpus index has $nCorpus sig_* columns but batch index has " +
        s"$nBatch — both must come from the same minhashIndex signature " +
        "family (identical numHashes)")
    val candidates = incrementalCandidates(
      bandFrame(corpusIndex, idCol, bandSize),
      bandFrame(batchIndex, idCol, bandSize),
      idCol, Seq("band", "band_sig"), "n_sh", "n_a", "n_b")
    val docsets = corpusIndex.select(col(idCol), col("shset"))
      .unionByName(batchIndex.select(col(idCol), col("shset")))
    val jac = col("n_inter").cast("double") /
      (col("n_a") + col("n_b") - col("n_inter"))
    candidates
      .join(docsets.select(col(idCol).as("doc_a"), col("shset").as("sa")),
        Seq("doc_a"))
      .join(docsets.select(col(idCol).as("doc_b"), col("shset").as("sb")),
        Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** The candidate join of both incremental generators: corpus ∪ batch
    * postings join the BROADCAST batch postings on `keys` (the corpus
    * never shuffles); pairs orient doc_a < doc_b (batch-batch collisions
    * arrive in both orientations, corpus-batch in one), each `payload`
    * swapping with its id into `pa`/`pb`; then dedup. */
  private def incrementalCandidates(corpusPostings: DataFrame,
      batchPostings: DataFrame, idCol: String, keys: Seq[String],
      payload: String, pa: String, pb: String): DataFrame = {
    def side(df: DataFrame, doc: String, p: String) =
      df.select(col(idCol).as(doc) +: col(payload).as(p) +: keys.map(col): _*)
    val raw = side(corpusPostings.unionByName(batchPostings), "doc_a", pa)
      .join(side(broadcast(batchPostings), "doc_b", pb), keys)
      .filter(col("doc_a") =!= col("doc_b"))
    val aLtB = col("doc_a") < col("doc_b")
    def oriented(x: String, y: String) =
      when(aLtB, col(x)).otherwise(col(y)).as(x)
    raw.select(oriented("doc_a", "doc_b"), oriented("doc_b", "doc_a"),
        oriented(pa, pb), oriented(pb, pa))
      .distinct()
  }

  /** 63-bit SimHash per document, occurrence-weighted.
    *
    * Bit source: the first 16 hex chars of md5(word), 4 bits per char —
    * deterministic across engines. Fingerprint bit j is set iff the
    * ±1 vote sum over all word occurrences is positive. Bits 0..62 only
    * (bit 63 is skipped so the fingerprint — a sum of distinct powers of
    * two — always fits a non-negative BIGINT in both Spark and DuckDB).
    * Returned as a bigint in [0, 2⁶³).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // occurrence counts per (doc, word): votes are linear in the count, so
    // the expensive per-bit string work below runs once per DISTINCT word,
    // not once per occurrence × bit — at corpus scale the vocabulary is
    // orders of magnitude smaller than the token stream.
    val wc = df
      .select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("cnt"))
    // WIDE formulation: 63 ±1 sign COLUMNS per distinct word and one
    // wide groupBy(doc) of 63 sums — bit votes ride map-side combine and
    // nothing ever explodes ×63. The earlier per-(word, bit) row shape
    // shuffled a |tokens|×63-row intermediate into a (doc, j) aggregate;
    // at a web-scale vocabulary that intermediate dwarfs the corpus.
    // (Verified bit-identical to the row formulation on the test corpus.)
    val nibs = (0 until 16).map { p =>
      (expr(s"instr('0123456789abcdef', substring(hh, ${p + 1}, 1))") - 1)
        .as(s"nib_$p")
    }
    val sgns = (0 until 63).map { j =>
      ((expr(s"shiftright(nib_${j / 4}, ${3 - j % 4})") % 2) * 2 - 1)
        .as(s"sgn_$j")
    }
    val vocab = wc.select(col("word")).distinct()
      .withColumn("hh", substring(md5(col("word")), 1, 16))
      .select(col("word") +: nibs: _*)
      .select(col("word") +: sgns: _*)
    val sums = (0 until 63).map(j =>
      sum(col("cnt") * col(s"sgn_$j")).as(s"v_$j"))
    val fp = (0 until 63).map(j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    wc.join(vocab, Seq("word"))
      .groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 63-bit fingerprint into four 16-bit
    * chunks (the top band carries 15 usable bits); docs sharing ANY chunk
    * become candidates (pigeonhole: every pair within hamming distance 3
    * shares at least one of 4 bands); verify with exact `bit_count(a^b)`.
    * One shuffle on the (band, value) key — no cross join, the same LSH
    * posture as minhash banding. The 4 × 2¹⁶ ≈ 262k-key band space keeps
    * candidate volume Θ(n²/2¹⁶) rather than the Θ(n²/2¹⁰) a 32-bit
    * fingerprint saturates at — the property that matters at 10⁸+ docs.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxChunkDF: Option[Long] = None,
      chunkHotMinEst: Option[Long] = None): DataFrame = {
    // materialize the fingerprints once: the band frame self-joins, and
    // without the checkpoint the whole simhash subtree (scan + two
    // aggregates + vocab join) plans TWICE — AQE does not reuse sibling
    // stages (PERF.md). One row per doc, two fixed-width columns.
    val fp = simhash(df, idCol, textCol).localCheckpoint()
    hammingPairs63(fp, idCol, "simhash", maxHamming, maxChunkDF,
      chunkHotMinEst)
  }

  /** Near-dup pairs over ANY 63-bit fingerprint column — the banded
    * Hamming join [[simhashPairs]] describes, factored out so every
    * 63-bit fingerprint family ([[simhash]], [[ImageHash.dhash63]] /
    * [[ImageHash.phash63]] perceptual image hashes) pairs through ONE
    * shuffle shape. Caller contract: `fpCol` holds values in [0, 2⁶³)
    * and the frame is already materialized (checkpointed) — the band
    * frame self-joins.
    *
    * @param maxChunkDF opt-in hot-chunk guard — the
    *        [[minhashLshPairs]] `maxBandDF` contract on the (b, chunk)
    *        postings (identical-doc floods share all four chunks).
    * @param chunkHotMinEst sketch-derived hot-chunk cap — the
    *        [[minhashLshPairs]] `bandHotMinEst` contract on the
    *        (b, chunk) keys (Count-Min d=4/w=65536/seed=42; est ≥
    *        floor drops the posting from candidate generation, audited
    *        and SQL-replayable — q_simhash_sketch_capped). */
  def hammingPairs63(
      fp: DataFrame, idCol: String, fpCol: String,
      maxHamming: Int = 3, maxChunkDF: Option[Long] = None,
      chunkHotMinEst: Option[Long] = None): DataFrame = {
    val bands1 = SkewGuard.capKeyFrequency(chunkFrame(fp, idCol, fpCol),
      Seq("b", "chunk"), maxChunkDF, "maxChunkDF", "simhash_chunk",
      dropped => s"simhashPairs: skew guard dropped $dropped " +
        s"(doc, chunk) posting(s) whose chunk document frequency " +
        "exceeds the cap from candidate generation (run exact dedup " +
        "upstream to remove identical-document floods losslessly)")
    val bands = dropSketchHot(bands1, concat_ws(":", col("b"), col("chunk")),
      chunkHotMinEst, "chunkHotMinEst", "simhash_chunk_sketch",
      dropped => s"hammingPairs63: sketch-derived hot-chunk cap " +
        s"dropped $dropped (doc, chunk) posting(s) from candidate " +
        "generation (verification stays exact bit_count)")
    val ca = bands.select(col(idCol).as("doc_a"), col("fp63").as("sh_a"),
      col("b"), col("chunk"))
    val cb = bands.select(col(idCol).as("doc_b"), col("fp63").as("sh_b"),
      col("b"), col("chunk"))
    ca.join(cb, Seq("b", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental [[hammingPairs63]]: near-dup pairs of a NEW batch of
    * 63-bit fingerprints against a persisted corpus fingerprint set
    * (plus within-batch pairs) — the [[minhashLshPairsIncremental]]
    * posture for the Hamming family, so every fingerprint modality
    * ([[simhash]], [[ImageHash.dhash63]], [[AudioHash.energyHash63]],
    * [[VideoHash.contour63]]) gets the same continuous-ingestion shape
    * text minhash has. Emitted pairs all touch the batch; results for
    * those pairs are IDENTICAL to a full [[hammingPairs63]] over
    * corpus ∪ batch (same 4×16-bit chunks, same exact bit_count
    * verify) — spec-asserted. Scale shape ([[incrementalCandidates]]):
    * the ONLY pass over the corpus is one columnar scan of its (id, fp)
    * columns. Ids disjoint across the two frames; fps in [0, 2⁶³). */
  def hammingPairs63Incremental(
      corpusFps: DataFrame, batchFps: DataFrame, idCol: String,
      fpCol: String, maxHamming: Int = 3): DataFrame =
    incrementalCandidates(chunkFrame(corpusFps, idCol, fpCol),
        chunkFrame(batchFps, idCol, fpCol),
        idCol, Seq("b", "chunk"), "fp63", "fa", "fb")
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fa ^ fb)").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** (id, fp63, b, chunk): the four 16-bit chunk postings of a 63-bit
    * fingerprint, the band frame of both Hamming generators. */
  private def chunkFrame(fp: DataFrame, idCol: String,
      fpCol: String): DataFrame =
    fp.select(col(idCol), col(fpCol).as("fp63"),
        explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("chunk",
        expr("shiftright(fp63, CAST(b * 16 AS INT)) & 65535"))

  /** Decontamination: n-gram containment of each probe (eval/test) doc in
    * the training corpus — |S(probe) ∩ V(corpus)| / |S(probe)|, the
    * standard train/test overlap check run before training.
    *
    * Scale shape: the corpus collapses to its DISTINCT shingle vocabulary
    * (one shuffle, ubiquitous shingles become a single row — no skew), and
    * probes hit it with a semi join keyed on the shingle. Cost is
    * O(corpus + probe shingles); nothing pairs up, so there is no
    * candidate explosion at any corpus size.
    */
  def ngramContainment(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val vocab = shingles(corpus, idCol, textCol, n).select(col("shingle")).distinct()
    val probeSh = shingles(probes, idCol, textCol, n)
    val hits = probeSh
      .join(vocab, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    probeSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
      .join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh"), 4)
          .as("containment"))
  }

  /** Near-dup pairs by embedding cosine within sign-bucket (see
    * [[Similarity.signBucket]]): approximate recall, exact scores. */
  def embeddingCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bucketBits: Int = 8,
      maxBucketDF: Option[Long] = None): DataFrame = {
    val withB0 = df.select(col(idCol), col(vecCol).as("v"))
      .withColumn("bucket", Similarity.signBucket(col("v"), bucketBits))
      .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))
    // opt-in hot-bucket guard — identical/near-identical embedding floods
    // land in one sign bucket; same contract as minhashLshPairs.maxBandDF
    // (raising bucketBits is the lossless first lever; the cap is for
    // floods no bucket width can split)
    val withB = SkewGuard.capKeyFrequency(withB0, Seq("bucket"),
      maxBucketDF, "maxBucketDF", "embed_bucket",
      dropped => s"embeddingCosinePairs: skew guard dropped $dropped " +
        s"vector(s) whose sign bucket exceeds the cap")
    val a = withB.select(col("bucket"), col(idCol).as("doc_a"),
      col("v").as("va"), col("n").as("na"))
    val b = withB.select(col("bucket"), col(idCol).as("doc_b"),
      col("v").as("vb"), col("n").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cos",
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cosine"))
  }
}
