package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step between
  * near-dup PAIRS and dedup CLUSTERS: transitive closure groups the pairs
  * so one representative per component survives (a pair list alone can
  * drop both docs of a chain A–B–C, or keep two of them).
  *
  * Min-label propagation: every node starts labeled with itself; each
  * round every node takes the minimum label among itself and its
  * neighbors; fixpoint = components labeled by their minimum member.
  * Each round is ONE distributed aggregation (union of current labels
  * with neighbor-forwarded labels, `min` per node) — no driver-side graph
  * state, and the per-round `localCheckpoint` keeps the plan flat instead
  * of growing a 2^rounds lineage; each round's checkpoint blocks are
  * unpersisted as soon as the next round materializes, so executor
  * storage holds at most two generations. Convergence is detected
  * distributedly (count of changed labels); rounds needed = component
  * diameter, which for near-dup clusters is tiny (chains of a few docs).
  * For high-diameter graphs (near-dup CHAINS) use [[Components.connectedStar]]
  * — the large-star/small-star contraction, O(log n) rounds.
  *
  * Hitting `maxIter` without convergence THROWS by default: unconverged
  * labels are silently-wrong cluster assignments (a long chain splits in
  * two). Pass `strict = false` to get best-effort labels instead (logged).
  */
object Components {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ext.Components")

  /** The checkpoint blocks backing a localCheckpoint'd frame. */
  private def checkpointRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** (node, component) via alternating large-star/small-star contraction
    * — the high-diameter path. Min-label propagation ([[connected]])
    * needs `diameter` rounds, and near-dup CHAINS (doc1~doc2~…~docN, the
    * common web-boilerplate shape) have diameter ∝ N: at corpus scale
    * that operator fails structurally, not gradually. Star contraction
    * rewires the graph itself each round instead of forwarding labels
    * along it, so a chain of length N collapses in O(log N) rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014 — the two-phase L/S algorithm).
    *
    * Each round is two ops over the current edge set, both shaped like
    * one aggregation + one join (no driver-side graph state):
    *  - large-star: per node u, m = min(Γ(u) ∪ u); every LARGER neighbor
    *    v > u re-attaches to m — long tails shortcut toward the minimum
    *    without disconnecting anything;
    *  - small-star: per node u over its SMALLER neighbors (edges keyed by
    *    their larger endpoint), all of them and u itself attach to the
    *    local minimum — stars flatten.
    * Fixpoint = a star forest rooted at each component's minimum node,
    * read off directly as (child, root) edges; the per-round
    * `localCheckpoint` + unpersist discipline matches [[connected]]
    * (executor storage holds at most two generations).
    *
    * Default `maxIter = 30` bounds rounds for any graph a long-lived
    * pipeline can feed it (2^30 ≫ any node count); `strict` as in
    * [[connected]]. Measured at sf0.1 (PERF.md): min-label is cheaper on
    * the shallow dedup-pair graphs the corpus queries build, so
    * [[connected]] stays the default there and this is the documented
    * swap-in for unbounded-diameter inputs.
    */
  def connectedStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, strict: Boolean = true): DataFrame = {
    // materialize the raw pair projection ONCE: `nodes` and the canonical
    // edge set below both derive from these blocks, so an expensive
    // upstream pair computation (minhash-LSH at 100 TB) is evaluated a
    // single time — AQE does not reuse sibling stages (PERF.md)
    val base = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .localCheckpoint()
    starFrom(base, maxIter, strict)
  }

  /** Core of [[connectedStar]] over a MATERIALIZED (a, b) long-pair
    * frame; both initial scans read its checkpointed blocks. */
  private def starFrom(base: DataFrame, maxIter: Int,
      strict: Boolean): DataFrame = {
    // all nodes of the ORIGINAL graph (self-loop-only and isolated-pair
    // nodes included) — re-attached to the star labels at the end;
    // checkpointed so the returned frame survives `base` being freed
    val nodes = base
      .select(explode(array(col("a"), col("b"))).as("node"))
      .distinct()
      .localCheckpoint()
    val cur = starEdges(base, maxIter, strict)
    // at the fixpoint every edge is (root=a, child=b): children label
    // from their root, roots and isolated nodes label themselves. The
    // min-aggregate is the identity on a converged star forest (one
    // parent per child) and, in the strict=false unconverged case, keeps
    // the one-label-per-node contract instead of emitting a row per
    // remaining parent. The final round's checkpoint (and `nodes`) stay
    // persisted — the returned frame reads them lazily; the context
    // cleaner frees them once the caller drops the frame.
    nodes.join(cur.groupBy(col("b").as("node")).agg(min(col("a")).as("root")),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("root"), col("node")).as("component"))
  }

  /** The L/S contraction loop alone: the FIXPOINT edge set (root=a,
    * child=b), checkpoint-materialized. Callers that already know every
    * node's stand-in label ([[connectedAdaptive]]'s contraction-reuse
    * path) compose against this directly and skip [[starFrom]]'s
    * node-table re-attachment. */
  private def starEdges(base: DataFrame, maxIter: Int,
      strict: Boolean): DataFrame = {
    // LAZY checkpoints in this loop: the fingerprint aggregate right
    // after each one is a FULL scan, so it both materializes the blocks
    // (one job, not two) and measures them; nothing unpersists a frame
    // before its fingerprint ran
    var cur = base
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(false)
    // (count, Σ xxhash64(a, b) as decimal) — a cheap multiset
    // fingerprint over the materialized checkpoint blocks (one map-side
    // aggregate job, replacing the plain count). Counts alone CANNOT
    // gate convergence: on trees every round keeps edges = nodes −
    // components, so the count matches from round 1 and the two-sided
    // exceptAll shuffle ran every round (measured: the dominant cost of
    // the deep-chain fixture). The decimal sum is exact (≤ 2⁶³ per row,
    // < 10³⁸ total for any feasible edge count — no overflow, no ANSI
    // trap), so hash equality is wrong only on an engineered collision;
    // the exceptAll below still PROVES set equality before the loop
    // exits, keeping the operator exact.
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    var (curCount, curHash) = fingerprint(cur)
    var round = 0
    var converged = curCount == 0L
    while (!converged && round < maxIter) {
      // ── large-star: symmetrize, m(u) = min(u, min Γ(u)); each v > u
      //    re-attaches to m(u). Emitted pairs always have v > m, so the
      //    output is already in canonical (larger, smaller) orientation.
      val sym = cur.select(explode(array(
          struct(col("a"), col("b").as("nb")),
          struct(col("b").as("a"), col("a").as("nb")))).as("e"))
        .select(col("e.a").as("u"), col("e.nb").as("v"))
      val lsMins = sym.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      // no mid-round distinct: duplicate (big, small) rows (two u's
      // attaching the same v to the same m) are bounded by the sym row
      // count, don't affect the small-star min, and the round-end
      // distinct removes them anyway — one fewer exchange per round
      val afterLarge = sym.join(lsMins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("big"), col("m").as("small"))
      // ── small-star: key each edge by its larger endpoint; u and all
      //    its smaller neighbors attach to the local minimum. Every
      //    emitted pair keeps big > small, no self loops possible.
      val ssMins = afterLarge.groupBy(col("big"))
        .agg(min(col("small")).as("m"))
      val next = afterLarge.join(ssMins, Seq("big"))
        .select(explode(array(
          struct(col("small").as("x"), col("m")),
          struct(col("big").as("x"), col("m")))).as("e"))
        .select(col("e.x").as("b"), col("e.m").as("a"))
        .filter(col("b") =!= col("a"))
        .distinct()
        .localCheckpoint(false)
      // star forest ⇔ one L/S round is the identity on the edge set;
      // the fingerprint gates first (count + hash-sum, one cheap job),
      // then ONE anti-join proves set equality — in practice it runs
      // exactly once, at the true fixpoint
      val (nextCount, nextHash) = fingerprint(
        next.select(col("a"), col("b")))
      val probe = nextCount == curCount && nextHash == curHash
      converged = probe &&
        next.exceptAll(cur.select(col("a"), col("b"))
          .select(col("b"), col("a"))).limit(1).count() == 0L
      if (log.isInfoEnabled)
        log.info(s"star round ${round + 1}: $curCount -> $nextCount edges" +
          (if (probe) ", set-equality probe ran" else ""))
      checkpointRdd(cur).foreach(_.unpersist(false))
      // canonical (small=a, large=b) orientation for the next round
      cur = next.select(col("a"), col("b"))
      curCount = nextCount
      curHash = nextHash
      round += 1
    }
    if (!converged) {
      val msg = "star-contraction components did not converge within " +
        s"$maxIter rounds — labels are NOT final"
      if (strict) throw new IllegalStateException(msg)
      else log.warn(msg)
    }
    cur
  }

  /** Min-label with an automatic structural fallback: run [[connected]]
    * for `minLabelRounds`; if the graph hasn't converged (diameter
    * exceeds the budget — near-dup chains), discard the partial labels
    * and run [[connectedStar]], which is O(log N)-round for any shape.
    * Shallow graphs (the overwhelmingly common near-dup case) pay only
    * the cheap min-label path plus one distributed convergence check;
    * deep graphs pay the bounded wasted budget and then terminate where
    * strict min-label would have thrown. Use when cluster shape is
    * unknown — i.e. on raw 100 TB corpora.
    */
  def connectedAdaptive(edges: DataFrame, srcCol: String, dstCol: String,
      minLabelRounds: Int = 8, starMaxIter: Int = 30,
      plateauAbort: Boolean = true): DataFrame = {
    val (labels, converged, sym) =
      propagate(edges, srcCol, dstCol, minLabelRounds, plateauAbort)
    if (converged) {
      checkpointRdd(sym).foreach(_.unpersist(false))
      labels
    } else {
      log.info(s"min-label did not converge in $minLabelRounds rounds; " +
        "switching to large-star/small-star contraction")
      // the aborted min-label rounds are NOT wasted work: after k
      // rounds each partial label names a connected ≤(k+1)-hop region
      // of its component, so rewriting every edge into label space
      // CONTRACTS the graph (deep chains shrink ~(k+1)×) before the
      // star phase — fewer star rounds, each over a smaller edge set.
      // Exactness: label graphs have the same component structure, and
      // each component's global-minimum node m keeps label m (min-label
      // only ever decreases toward it), so the star fixpoint's
      // min-label-per-component IS the original min node id, and
      // composing star(root-of-label) over label(node) reproduces
      // [[connectedStar]]'s answer bit-for-bit (ComponentsSpec's
      // union-find property test runs this path at minLabelRounds = 1).
      //
      // POINTER DOUBLING first (r19, guide §1.2 — remove passes): the
      // partial labels form a forest (label(v) < v or label(v) = v,
      // always within v's component), and composing the labeling with
      // itself — label'(v) = label(label(v)) — HALVES the forest depth
      // per composition for ONE node-keyed self-join, where a star
      // round costs three edge-sized exchanges. At the doubling
      // fixpoint every node names its forest ROOT, so the contracted
      // graph the star phase sees is the root graph — on chain-shaped
      // corpora (one tree per component) it collapses to EMPTY and the
      // star loop exits at its first fingerprint. Every intermediate
      // doubled labeling keeps the two contraction invariants (labels
      // stay inside the component; the global min labels itself), so
      // the loop is purely an accelerator: star still proves the
      // fixpoint, and the iteration cap just bounds the acceleration
      // (2^32-deep forests exceed any feasible node count).
      val labels2 = {
        var lab = labels
        var changed = 1L
        var hops = 0
        while (changed > 0L && hops < 32) {
          val nxt = lab.as("x")
            .join(lab.select(col("node").as("__n"),
              col("component").as("__c")), col("component") === col("__n"))
            .select(col("node"), col("__c").as("component"),
              (col("__c") < col("component")).as("__chg"))
            .localCheckpoint(false)
          // fused materialize + convergence statistic (the propagate
          // discipline): the count scans every partition
          changed = nxt.filter(col("__chg")).count()
          checkpointRdd(lab).foreach(_.unpersist(false))
          lab = nxt.drop("__chg")
          hops += 1
          if (log.isInfoEnabled)
            log.info(s"label doubling $hops: $changed labels advanced")
        }
        lab
      }
      val la = labels2.select(col("node").as("a"), col("component").as("ca"))
      val lb = labels2.select(col("node").as("b"), col("component").as("cb"))
      val contracted = sym
        .join(la, Seq("a")).join(lb, Seq("b"))
        .select(col("ca").as("a"), col("cb").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        // EAGER on purpose: sym's blocks are unpersisted on the next
        // line — a lazy checkpoint here would materialize after that
        // and find its truncated-lineage input gone
        .localCheckpoint()
      checkpointRdd(sym).foreach(_.unpersist(false))
      // [[starEdges]], not [[starFrom]]: every label-space node already
      // has a stand-in (its own label) in the compose below, so the
      // node-table re-attachment — one explode + distinct + checkpoint
      // job — is pure overhead here
      val fix = starEdges(contracted, starMaxIter, strict = true)
      checkpointRdd(contracted).foreach(_.unpersist(false))
      // compose: node → doubled label → star root; labels absent from
      // the fixpoint's child side (roots, and components fully
      // collapsed during min-label + doubling) keep their doubled
      // label, which is already the component min. `labels2` stays
      // checkpoint-persisted — the returned frame reads it lazily; the
      // context cleaner frees it with the frame.
      labels2.join(fix.groupBy(col("b").as("component"))
          .agg(min(col("a")).as("root")), Seq("component"), "left_outer")
        .select(col("node"),
          coalesce(col("root"), col("component")).as("component"))
    }
  }

  /** Fold a batch of NEW edges into existing component labels without
    * re-reading the historical edge list — the continuous-ingestion
    * shape for dedup clusters (the [[Dedup.minhashLshPairsIncremental]]
    * companion: that operator yields the new PAIRS cheaply; this one
    * folds them into the standing CLUSTER assignment).
    *
    * Contract: if `labels` is the min-node-id labeling of some edge set
    * E (any `connected*` output), the result is the min-node-id
    * labeling of E ∪ newEdges — EXACTLY, because merging components
    * takes the min of their labels, each label is already the min node
    * of its old component, and a min of mins is the global min. Gated
    * against the full recompute by `q_cc_incr`'s closure oracle.
    *
    * Shape for 100 TB: the history is touched exactly twice, and never
    * shuffled for a join —
    *  1. RESOLVE: batch endpoints (small) look up their current label
    *     (one join against `labels`; with the labels table bucketed on
    *     `node` — [[graft.model.Bucketing]] — the exchange is
    *     batch-side only);
    *  2. CONTRACT: batch edges rewritten to label space (two joins
    *     against the broadcast resolve result), self-edges dropped —
    *     the contracted graph is bounded by the BATCH size, so the full
    *     [[connectedAdaptive]] machinery runs on a trivially small
    *     input;
    *  3. APPLY: one left join of `labels` against the BROADCAST merge
    *     mapping (bounded by batch endpoints) — map-side, the history
    *     never moves.
    * A from-scratch recompute is one pass over ALL E; this is one pass
    * over labels plus work proportional to the batch.
    *
    * Emits (node, component) for every historical node plus every new
    * endpoint.
    */
  def incrementalUpdate(labels: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val lab = labels.select(col("node").cast("long").as("node"),
      col("component").cast("long").as("component"))
    val e = newEdges
      .select(col(srcCol).cast("long").as("ea"),
        col(dstCol).cast("long").as("eb"))
      .where(col("ea") =!= col("eb"))
      .distinct()
      .localCheckpoint()

    // 1. resolve: endpoint → current label; an unseen endpoint is its
    // own (provisional) component. component IS NULL marks new nodes.
    val ends = e.select(explode(array(col("ea"), col("eb"))).as("node"))
      .distinct()
    val resolved = ends.join(lab, Seq("node"), "left_outer")
      .select(col("node"), col("component").isNull.as("is_new"),
        coalesce(col("component"), col("node")).as("comp"))
      .localCheckpoint()

    // 2. contract to label space; the result is batch-bounded
    val ra = resolved.select(col("node").as("ea"), col("comp").as("ca"))
    val rb = resolved.select(col("node").as("eb"), col("comp").as("cb"))
    val contracted = e
      .join(broadcast(ra), "ea").join(broadcast(rb), "eb")
      .select(col("ca"), col("cb"))
      .where(col("ca") =!= col("cb"))
    val mapping = connectedAdaptive(contracted, "ca", "cb")
      .select(col("node").as("component"), col("component").as("merged"))

    // 3. apply: history + provisional new-node labels, one broadcast
    // left join — a label not touched by any merge passes through
    val allLabels = lab.union(
      resolved.where(col("is_new"))
        .select(col("node"), col("comp").as("component")))
    allLabels.join(broadcast(mapping), Seq("component"), "left_outer")
      .select(col("node"),
        coalesce(col("merged"), col("component")).as("component"))
  }

  /** @return (node, component) — component = min node id reachable. */
  def connected(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, strict: Boolean = true): DataFrame = {
    val (labels, converged, sym) = propagate(edges, srcCol, dstCol, maxIter)
    checkpointRdd(sym).foreach(_.unpersist(false))
    if (!converged) {
      val msg = s"connected components did not converge within $maxIter " +
        "rounds (graph diameter exceeds the budget) — labels are NOT final"
      if (strict) throw new IllegalStateException(msg)
      else log.warn(msg)
    }
    labels
  }

  /** Min-label propagation core: (labels, converged, symmetrized edges).
    * The returned `sym` frame is still checkpoint-materialized — the
    * CALLER unpersists it (the adaptive path reuses it as the star
    * fallback's input first).
    *
    * `plateauAbort` (the adaptive path): min-label moves labels ONE hop
    * per round, so on a deep chain the per-round changed-label count
    * shrinks arithmetically (≈ constant), while on the shallow graphs
    * this operator is built for it collapses geometrically. Two
    * consecutive rounds that keep ≥¾ of the previous round's changes are
    * the chain signature — abort the remaining budget and let the caller
    * fall back to star contraction instead of burning ~2 shuffles + a
    * blocking checkpoint per wasted round. Counting changes reads the
    * already-materialized checkpoint blocks (no extra shuffle); the
    * non-adaptive path keeps its cheaper limit-1 existence probe. */
  private def propagate(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int, plateauAbort: Boolean = false)
      : (DataFrame, Boolean, DataFrame) = {
    // symmetrize in ONE pass over the edge subtree (explode, not union —
    // a union would evaluate an expensive upstream pair computation twice,
    // since AQE does not reuse sibling stages), then materialize once:
    // edges are re-joined every round
    val sym = edges
      .select(explode(array(
        struct(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b")),
        struct(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .localCheckpoint()
    // LAZY: round 1's labels-side exchange map stage is the first (and,
    // via ReuseExchange, only) consumer — a full scan over sym's EAGER
    // blocks, so the init materializes inside round 1's job instead of
    // paying its own. sym itself stays eager: it feeds two concurrent
    // stages per round, and a lazy sym could double-evaluate an
    // expensive upstream pair computation in the materialization race.
    var labels = sym.select(col("a").as("node"))
      .distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(false)
    var round = 0
    var converged = false
    var prevChanged = Long.MaxValue
    var plateauRounds = 0
    var aborted = false
    while (!converged && !aborted && round < maxIter) {
      val msgMin = sym
        .join(labels, sym("a") === labels("node"))
        .select(col("b").as("node"), col("component"))
        .groupBy(col("node")).agg(min(col("component")).as("m"))
      // min(self, neighbors) via ONE left join; the change flag rides the
      // SAME checkpointed frame, so convergence detection is a scan of
      // the materialized blocks (limit-1 early exit), not a second
      // shuffle join against the previous round
      val next = labels
        .join(msgMin, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("component"), coalesce(col("m"), col("component")))
            .as("component"),
          (coalesce(col("m"), col("component")) < col("component"))
            .as("__chg"))
        .localCheckpoint(false)
      // LAZY checkpoint + one FULL count (the starEdges fingerprint
      // discipline): the count scans every partition, so it both
      // materializes the round's blocks and measures them in ONE job —
      // the former eager-checkpoint-then-probe shape paid two. The
      // full count replaces the limit-1 probe on the non-plateau path
      // too: over materializing blocks it costs the same scan the
      // materialization needs anyway.
      val changed = next.filter(col("__chg")).count()
      val anyChanged = if (plateauAbort) {
        if (changed > 0 && prevChanged != Long.MaxValue &&
            changed * 4 >= prevChanged * 3) plateauRounds += 1
        else plateauRounds = 0
        prevChanged = changed
        if (plateauRounds >= 2) {
          aborted = true
          log.info(s"min-label round ${round + 1}: $changed labels still " +
            "changing with no geometric shrink — deep-graph signature, " +
            "aborting the remaining min-label budget")
        }
        changed > 0
      } else changed > 0
      checkpointRdd(labels).foreach(_.unpersist(false)) // free prior round
      labels = next.drop("__chg")
      converged = !anyChanged
      round += 1
    }
    (labels, converged, sym)
  }
}
