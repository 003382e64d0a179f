"""Turns one harness result (ops, spans, jobs) into the benchmark's metrics.

Pure functions over the result JSON, so the rules they implement — the
tail percentile, span self time, per-span and per-op counters — are
unit-tested on their own (test_bench.py).
"""

import math
import statistics

MB = 1 << 20

# Spans the harness records, by layer. Each gets .self_s, .jobs, .task_s
# and .shuffle_mb per call; the scan and write spans also get .scan_mb
# and .written_mb. Calls that run no Spark job of their own (JOBLESS) get
# .self_s alone: plan building, whose work is forced in the consuming
# call's span, or driver-side file-system work.
SPANS = [
    "sources.TextSources.eventsJsonlStream",
    "streaming.FlowStream.windowedRollup",
    "streaming.FlowStream.sink",
    "model.GraphStorage.readSnapshot",
    "model.GraphStore.mergeEdges",
    "model.GraphStorage.commitSnapshot",
    "pipelines.Pipelines.topology",
    "pipelines.Pipelines.declaredDeps",
    "model.GraphStorage.expireSnapshots",
    "model.GraphStore.pointLookup",
    "model.GraphStore.degrees",
    "model.GraphStore.twoHop",
    "ext.IvfPq.encode",
    "ext.IvfPq.appendSave",
    "ext.IvfPq.deleteSave",
    "ext.PostingIndex.append",
    "ext.IvfPq.compact",
    "ext.PostingIndex.compact",
    "ext.IvfPq.load",
    "ext.IvfPq.searchPruned",
    "ext.PostingIndex.scoreQuery",
    "sources.CorpusLayout.readSlice",
    "ext.Dedup.exact",
    "ext.Dedup.minhashLshPairs",
    "ext.Components.connectedAdaptive",
    "sources.CorpusLayout.write",
    "ext.Dedup.ngramContainment",
]
JOBLESS_SPANS = ["sources.TextSources.eventsJsonlStream",
                 "streaming.FlowStream.windowedRollup", "model.GraphStore.mergeEdges",
                 "pipelines.Pipelines.topology", "model.GraphStorage.expireSnapshots"]
SCAN_SPANS = ["streaming.FlowStream.sink", "sources.CorpusLayout.readSlice",
              "model.GraphStore.twoHop"]
WRITE_SPANS = ["model.GraphStorage.commitSnapshot", "ext.IvfPq.appendSave",
               "ext.IvfPq.compact", "ext.PostingIndex.append",
               "sources.CorpusLayout.write"]
RATIOS = ["sources.TextSources.quarantine_share",
          "model.GraphStorage.commitSnapshot.changed_per_written",
          "ext.IvfPq.compact.live_per_rewritten",
          "ext.Dedup.minhashLshPairs.injected_recall"]
RUNTIME = [("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
           ("spark.shuffle_bytes_per_op", "count"),
           ("spark.written_bytes_per_op", "count"),
           ("spark.idle_share", "ratio"), ("spark.gc_s", "s"),
           ("spark.spill_mb", "MiB"), ("spark.failed_tasks", "count")]
OVERHEAD = [("trace.write_s.p50", "s"), ("trace.read_s.p50", "s")]
# The spans and ratio only index_waves records. That workload runs by
# hand (README.md), so BENCHMARK.json leaves them out and only its own
# traced runs report them.
HAND_RUN_SPANS = [s for s in SPANS if s.startswith(("ext.IvfPq.", "ext.PostingIndex."))]
HAND_RUN_RATIOS = ["ext.IvfPq.compact.live_per_rewritten"]


def per_layer_names(hand_run=False):
    """Every per-layer metric as (name, unit), in a fixed order; with
    `hand_run`, the hand-run workload's own as well."""
    out = []
    for s in SPANS:
        if s in HAND_RUN_SPANS and not hand_run:
            continue
        out.append((s + ".self_s", "s"))
        if s not in JOBLESS_SPANS:
            out += [(s + ".jobs", "count"), (s + ".task_s", "s"),
                    (s + ".shuffle_mb", "MiB")]
        if s in SCAN_SPANS:
            out.append((s + ".scan_mb", "MiB"))
        if s in WRITE_SPANS:
            out.append((s + ".written_mb", "MiB"))
    out += RUNTIME + [(r, "ratio") for r in RATIOS
                      if hand_run or r not in HAND_RUN_RATIOS] + OVERHEAD
    return out


def tail(values):
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), as (percentile, value, n). Below 20 samples that
    percentile would not reach the median, so the maximum stands in
    (reported as p100)."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return p, xs[rank - 1], n
    return 100, xs[-1], n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id → its wall time minus the union of its child spans'
    intervals (clipped to the span)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(
            [k for k in kids if k[1] > k[0]])
    return out


def end_to_end(res, setup_s):
    """The end-to-end metrics of an untraced run, plus what to print
    beside them."""
    ops = res["ops"]
    writes = [o["lat"] for o in ops if o["kind"] == "write"]
    reads = [o["lat"] for o in ops if o["kind"] == "read"]
    m, notes = {}, []
    for kind, xs in (("write", writes), ("read", reads)):
        m[kind + "_s.p50"] = (statistics.median(xs), "s")
        t = tail(xs)
        m[kind + "_s.tail"] = (t[1], "s")
        notes.append("%s_s.tail = p%d of n=%d" % (kind, t[0], t[2]))
    failed = sum(not o["ok"] for o in ops)
    m["rows_per_s"] = (sum(o["rows"] for o in ops) / res["loop_s"], "1/s")
    m["ok_ratio"] = ((len(ops) - failed) / len(ops), "ratio")
    m["peak_rss_mb"] = (res["peak_rss_mb"], "MiB")
    m["setup_s"] = (setup_s, "s")
    return m, notes


def per_layer(res, hand_run=False):
    """The per-layer metrics of a traced run: per-call span figures,
    per-op runtime counters, useful/attempt ratios and the traced run's
    own latencies (their gap to an untraced run is the tracing cost).
    `hand_run` adds the hand-run workload's own spans and ratio."""
    spans = [s for s in res["spans"] if s["op"] >= 0]
    ids = {s["id"] for s in spans}
    own = self_times(spans)
    by_span = {}
    for j in res["jobs"]:
        if j["span"] in ids:
            by_span.setdefault(j["span"], []).append(j)
    m = {}
    for name in SPANS:
        mine = [s for s in spans if s["name"] == name]
        calls = max(1, len(mine))
        jobs = [j for s in mine for j in by_span.get(s["id"], [])]
        m[name + ".self_s"] = sum(own[s["id"]] for s in mine) / calls
        if name in JOBLESS_SPANS:
            continue
        m[name + ".jobs"] = len(jobs) / calls
        m[name + ".task_s"] = sum(j["task_ms"] for j in jobs) / 1e3 / calls
        m[name + ".shuffle_mb"] = sum(j["shuffle_write"] for j in jobs) / MB / calls
        if name in SCAN_SPANS:
            m[name + ".scan_mb"] = sum(j["input"] for j in jobs) / MB / calls
        if name in WRITE_SPANS:
            m[name + ".written_mb"] = sum(j["output"] for j in jobs) / MB / calls
    ops = res["ops"]
    jobs = [j for js in by_span.values() for j in js]
    n = len(ops)
    busy = sum(o["lat"] for o in ops) * res["cores"]
    m["spark.jobs_per_op"] = len(jobs) / n
    m["spark.stages_per_op"] = sum(j["stages"] for j in jobs) / n
    m["spark.shuffle_bytes_per_op"] = sum(j["shuffle_write"] for j in jobs) / n
    m["spark.written_bytes_per_op"] = sum(j["output"] for j in jobs) / n
    m["spark.idle_share"] = 1 - sum(j["task_ms"] for j in jobs) / 1e3 / busy
    m["spark.gc_s"] = res["gc_s"]
    m["spark.spill_mb"] = sum(j["spill"] for j in jobs) / MB
    m["spark.failed_tasks"] = sum(j["failed_tasks"] for j in jobs)
    for r in RATIOS:
        m[r] = res["ratios"].get(r, 0.0)
    for kind in ("write", "read"):
        m["trace.%s_s.p50" % kind] = statistics.median(
            o["lat"] for o in ops if o["kind"] == kind)
    units = dict(per_layer_names(hand_run))
    return {k: (v, units[k]) for k, v in m.items() if k in units}
