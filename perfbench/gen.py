"""Seeded input generator for the three benchmark workloads.

Everything the program under test reads is written here, from the seed
and the sf0.1 extract under data/ (made by extract.py), together with the
truth the output checks compare against (`truth.json`).  The seed picks
which part of the extract each run replays and where the injected faults
go; the rates of the injected faults are the ones measured on sf0.1
(data/shapes.json).  The same seed gives byte-identical files; `digest()`
hashes them so two sides of an A/B can show they saw the same inputs.
"""

import datetime
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# ── etl_cycle ────────────────────────────────────────────────────────
FLOW_LINES = 2000            # sf0.1 events replayed per cycle
N_EC2 = 3000                 # instances: the churning vertex label
N_SUBNET = 60
GHOSTS_PER_CYCLE = 60        # instances dropped from each snapshot
CREATES_PER_CYCLE = 60       # instances new in each snapshot
ALARMS_PER_CYCLE = 40
N_TEMPLATES = 200            # events of a cycle that also declare a template
N_LOGICAL = 500              # res<event_id % 500>, as in q_declared_deps
READS_PER_CYCLE = 9          # three of each read kind
CYCLE_US = 15 * 60 * 1_000_000
T0_US = 1_704_067_200 * 1_000_000          # 2024-01-01 00:00:00 UTC
MIN_US = 60 * 1_000_000
ACCOUNT = "123456789012"
ERR_VALUE = 30.0             # q_flow_rollup's error rule: value >= 30

# ── index_waves ──────────────────────────────────────────────────────
APPEND_VECS = 1000           # vectors per IVF-PQ append wave
DELETE_VECS = 400            # ids per tombstone wave
N_DOC0 = 3000                # documents in the built BM25 index
APPEND_DOCS = 300            # documents per posting-index append wave
INDEX_QUERIES = 4            # query vectors per ANN serve

# ── dedup_batch ──────────────────────────────────────────────────────
N_SLICES = 4
DOCS_PER_SLICE = 1100        # distinct sf0.1 documents per slice
EVAL_DOCS = 120
EVAL_WORDS = 40              # words per eval document at most
CONTAM_SHARE = 0.15          # eval docs copied verbatim from the slice
NEAR_MARK = " dup"           # sf0.1's near duplicates: a document plus this token
INJECTED_ID0 = 1_000_000     # ids of injected copies: above every sf0.1 id

WORKLOADS = ("etl_cycle", "index_waves", "dedup_batch")


def _shapes():
    with open(os.path.join(DATA, "shapes.json")) as f:
        return json.load(f)


def _extract(name):
    return pq.read_table(os.path.join(DATA, name)).to_pydict()


def _ts(us):
    s, frac = divmod(us, 1_000_000)
    d = datetime.datetime.fromtimestamp(s, datetime.timezone.utc)
    return d.strftime("%Y-%m-%d %H:%M:%S") + ".%06d" % frac


def _svc(i):
    return "arn:aws:ecs:us-east-1:%s:service/prod/svc-%05d" % (ACCOUNT, i)


def _endpoint(event_type, k):
    """A call's callee: the event's type and its props.k."""
    return "arn:aws:ecs:us-east-1:%s:service/prod/%s-%02d" % (ACCOUNT, event_type, k)


def _ec2(i):
    return "arn:aws:ec2:us-east-1:%s:instance/i-%017x" % (ACCOUNT, i * 7919 + 12345)


def _subnet(i):
    return "arn:aws:ec2:us-east-1:%s:subnet/subnet-%08x" % (ACCOUNT, i * 104729 + 99)


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def gen_etl_cycle(seed, out, n_cycles):         # a round is one cycle
    """Flows replay a seeded window of sf0.1 events: the caller is the
    event's user, the callee its (event_type, k) endpoint, value and props
    are the event's own. The events outside the window are the store's
    call history. Topology and templates have no sf0.1 counterpart:
    instance churn is seeded, and templates follow q_declared_deps'
    mapping of the cycle's first events."""
    rng = np.random.default_rng(seed)
    r = random.Random(seed)
    ev = _extract("events.parquet")
    n_svc = _shapes()["events"]["users"]
    svc = [_svc(i) for i in range(n_svc)]
    ec2 = [_ec2(i) for i in range(N_EC2 + n_cycles * CREATES_PER_CYCLE)]
    subnet = [_subnet(i) for i in range(N_SUBNET)]
    span = n_cycles * FLOW_LINES
    if span > len(ev["ts_us"]):
        raise ValueError("%d cycles need more events than the extract holds" % n_cycles)
    start = int(rng.integers(0, len(ev["ts_us"]) - span + 1))
    dst = [_endpoint(t, k) for t, k in zip(ev["event_type"], ev["k"])]

    # base graph: Calls rolled up from the history, RunsOn
    # service→instance, InSubnet instance→subnet
    hist = {}
    for i in list(range(start)) + list(range(start + span, len(dst))):
        a = hist.setdefault((ev["user_id"][i], dst[i]), [0, 0.0, 0, 0])
        a[0] += 1
        a[1] += ev["value"][i]
        a[2] += ev["value"][i] >= ERR_VALUE
        a[3] = max(a[3], ev["ts_us"][i] // 1_000_000)
    calls = sorted(hist)
    n_calls = len(calls)
    host_svc = rng.integers(0, n_svc, size=N_EC2)
    subnet_of = rng.integers(0, N_SUBNET, size=N_EC2)
    nulls = [None] * (2 * N_EC2)
    table = pa.table({
        "src_label": ["Service"] * (n_calls + N_EC2) + ["EC2"] * N_EC2,
        "src_name": [svc[a] for a, _ in calls] + [svc[s] for s in host_svc]
                    + ec2[:N_EC2],
        "edge_label": ["Calls"] * n_calls + ["RunsOn"] * N_EC2 + ["InSubnet"] * N_EC2,
        "dst_label": ["Service"] * n_calls + ["EC2"] * N_EC2 + ["Subnet"] * N_EC2,
        "dst_name": [b for _, b in calls] + ec2[:N_EC2] + [subnet[s] for s in subnet_of],
        "calls": pa.array([hist[c][0] for c in calls] + nulls, pa.int64()),
        "avg_value": pa.array([round(hist[c][1] / hist[c][0], 2) for c in calls] + nulls,
                              pa.float64()),
        "err_count": pa.array([hist[c][2] for c in calls] + nulls, pa.int64()),
        "last_seen": pa.array([hist[c][3] for c in calls] + nulls, pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "base_edges.parquet"))
    runs_on = np.bincount(host_svc, minlength=n_svc).tolist()

    live = set(range(N_EC2))
    fixed = ["Service," + n for n in svc] + ["Subnet," + n for n in subnet]
    vert = fixed + ["EC2," + ec2[i] for i in sorted(live)]
    _write_lines(os.path.join(out, "base_vertices.csv"), vert)
    physical = ["res%d" % i for i in range(N_LOGICAL)] + \
        ["Svc%d" % i for i in range(n_svc)] + sorted(set(ev["event_type"]))

    keys = set(calls)            # (user, callee) Calls keys in the store
    declared = set()             # DependsOn keys in the store
    next_ec2 = N_EC2
    pending = []                 # (min window end, key) not yet emitted
    cycles = []
    for c in range(n_cycles):
        d = os.path.join(out, "c%03d" % c)
        os.makedirs(d)
        # flows: the window's events, their times squeezed into the
        # cycle's 14 minutes (the last one ends it, and sets the
        # watermark); a seeded share of lines is broken JSON and must
        # land in quarantine
        w = range(start + c * FLOW_LINES, start + (c + 1) * FLOW_LINES)
        base = T0_US + c * CYCLE_US
        t_max = base + 14 * MIN_US + r.randrange(1, 30 * 1_000_000)
        e0, e1 = ev["ts_us"][w[0]], ev["ts_us"][w[-1]]
        bad_share = r.uniform(0.005, 0.03)
        lines, n_bad = [], 0
        for i in w:
            if i != w[-1] and r.random() < bad_share:
                n_bad += 1
                lines.append('{"event_id": %d, "ts": "%s", "user_id' %
                             (ev["event_id"][i], _ts(base)))
                continue
            t = base + (ev["ts_us"][i] - e0) * (t_max - base) // max(1, e1 - e0)
            key = (ev["user_id"][i], dst[i])
            lines.append(
                '{"event_id": %d, "ts": "%s", "user_id": %d, "event_type": "%s", '
                '"value": %.2f, "props": "{\\"k\\": %d}"}' %
                (ev["event_id"][i], _ts(t), key[0], key[1], ev["value"][i], ev["k"][i]))
            # sliding 6-min windows every 5 min, epoch aligned: an event
            # is first emitted with its earliest-ending window
            k5 = t - t % (5 * MIN_US)
            first_end = k5 + MIN_US if t - k5 < MIN_US else k5 + 6 * MIN_US
            pending.append((first_end, key))
        r.shuffle(lines)
        _write_lines(os.path.join(d, "flows.jsonl"), lines)
        wm = t_max - MIN_US      # the watermark this cycle leaves behind
        still = []
        for end, k in pending:
            if end <= wm:
                keys.add(k)
            else:
                still.append((end, k))
        pending = still

        # topology snapshot: ghosts leave, creates arrive, some alarm
        prior = sorted(live)
        ghosts = set(r.sample(prior, GHOSTS_PER_CYCLE))
        creates = set(range(next_ec2, next_ec2 + CREATES_PER_CYCLE))
        next_ec2 += CREATES_PER_CYCLE
        live = (live - ghosts) | creates
        snap = fixed + ["EC2," + ec2[i] for i in sorted(live)]
        _write_lines(os.path.join(d, "snapshot.csv"), snap)
        alarms = r.sample(snap, ALARMS_PER_CYCLE)
        _write_lines(os.path.join(d, "alarms.csv"), alarms)
        alarm_set = set(alarms)

        # declared dependencies: the cycle's first events as templates
        # (q_declared_deps' mapping) whose refs resolve to physical ids
        tpl, edges = [], set()
        for i in w[:N_TEMPLATES]:
            srcl = "res%d" % (ev["event_id"][i] % N_LOGICAL)
            refs = sorted({"Svc%d" % ev["user_id"][i], ev["event_type"][i],
                           "res%d" % ev["k"][i]})
            body = {"Resources": {
                "A": {"Ref": refs[0]},
                "B": {"Fn::GetAtt": [refs[-1], "Arn"]},
                "C": {"Fn::Sub": "${%s}-x" % refs[1]},
                "D": {"Ref": "missing%d" % ev["k"][i]}}}    # unresolvable ref
            tpl.append(json.dumps({
                "stack_name": "stack-%d" % (ev["user_id"][i] % 20), "src_logical": srcl,
                "template_json": json.dumps(body)}))
            for ref in refs:
                edges.add(("p-" + srcl, "p-" + ref))
        _write_lines(os.path.join(d, "templates.jsonl"), tpl)
        _write_lines(os.path.join(d, "physical.csv"),
                     ["%s,p-%s" % (p, p) for p in physical])
        declared |= edges

        # reads against the state this cycle leaves behind
        reads = []
        for q in range(READS_PER_CYCLE):
            kind = ("pointLookup", "degrees", "twoHop")[q % 3]
            if kind == "pointLookup":
                i = r.choice(prior + sorted(creates))
                reads.append({"kind": kind, "label": "EC2", "name": ec2[i],
                              "rows": int(i in live),
                              "degraded": int("EC2," + ec2[i] in alarm_set)})
            elif kind == "degrees":
                reads.append({"kind": kind, "label": "Subnet",
                              "rows": N_SUBNET})
            else:
                s = r.randrange(n_svc)
                reads.append({"kind": kind, "name": svc[s],
                              "rows": runs_on[s]})
        cycles.append({
            "lines": FLOW_LINES, "malformed": n_bad,
            "created": len(creates), "gc": len(ghosts),
            "degraded": len(alarm_set), "vertices": len(snap),
            "edges": len(keys) + len(declared) + 2 * N_EC2,
            "input_rows": FLOW_LINES + len(snap) + len(alarms) +
                          N_TEMPLATES,
            "reads": reads})
    return {"cycles": cycles, "base_vertices": len(vert),
            "base_edges": table.num_rows, "instances": N_EC2, "first_event": start}


def _vectors(rng, real, n, std):
    """Fresh unit vectors: seeded sf0.1 embeddings moved by their own
    within-label spread."""
    v = real[rng.integers(0, len(real), size=n)] + rng.normal(0, std, size=(n, real.shape[1]))
    return np.round(v / np.linalg.norm(v, axis=1, keepdims=True), 6)


def _vec_table(ids, vecs):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64()))})


def _doc_table(first, texts):
    return pa.table({"doc_id": pa.array(range(first, first + len(texts)), pa.int64()),
                     "text": pa.array(texts, pa.string())})


def gen_index_waves(seed, out, n_rounds):
    """The built index holds every sf0.1 embedding and a seeded share of
    its documents; waves append jittered embeddings and further
    documents, and query sf0.1's own vocabulary."""
    rng = np.random.default_rng(seed)
    shapes = _shapes()
    emb = _extract("embeddings.parquet")
    order = rng.permutation(len(emb["vec_id"]))
    real = np.array(emb["embedding"], dtype=np.float64)[order]
    std = shapes["embeddings"]["label_std"]
    ids = np.arange(len(real))
    pq.write_table(_vec_table(ids, np.round(real, 6)), os.path.join(out, "vectors0.parquet"))
    texts = _extract("documents.parquet")["text"]
    texts = [texts[i] for i in rng.permutation(len(texts))]
    docs = texts[:N_DOC0]
    pq.write_table(_doc_table(0, docs), os.path.join(out, "docs0.parquet"))
    postings = {}                # term → ids of the docs containing it

    def index(first, batch):
        for i, t in enumerate(batch):
            for w in set(t.split()):
                postings.setdefault(w, set()).add(first + i)
    index(0, docs)
    live = set(ids.tolist())
    next_vec, next_doc, wave = len(real), N_DOC0, 0
    rounds = []
    for r in range(n_rounds):
        d = "r%03d" % r
        os.makedirs(os.path.join(out, d))
        new = np.arange(next_vec, next_vec + APPEND_VECS)
        next_vec += APPEND_VECS
        pq.write_table(_vec_table(new, _vectors(rng, real, APPEND_VECS, std)),
                       os.path.join(out, d, "vectors.parquet"))
        live |= set(new.tolist())
        victims = sorted(rng.choice(sorted(live), DELETE_VECS, replace=False).tolist())
        live -= set(victims)
        _write_lines(os.path.join(out, d, "delete.csv"), map(str, victims))
        text = [texts[(next_doc + i) % len(texts)] for i in range(APPEND_DOCS)]
        pq.write_table(_doc_table(next_doc, text), os.path.join(out, d, "docs.parquet"))
        index(next_doc, text)
        next_doc += APPEND_DOCS
        writes = [
            {"kind": "appendSave", "wave": wave + 1, "n": APPEND_VECS,
             "lo": int(new[0]), "hi": int(new[-1])},
            {"kind": "deleteSave", "wave": wave + 2, "n": DELETE_VECS},
            {"kind": "postingAppend", "wave": wave + 3, "n": APPEND_DOCS},
            {"kind": "compact", "live": len(live), "live_sum": int(sum(live))}]
        wave += 3
        # queries: fresh vectors, under ids no vector has
        qids = np.arange(INDEX_QUERIES) + 10**9
        pq.write_table(_vec_table(qids, _vectors(rng, real, INDEX_QUERIES, std)),
                       os.path.join(out, d, "queries.parquet"))
        terms = rng.choice(shapes["documents"]["vocab"], size=3, replace=False).tolist()
        rounds.append({
            "dir": d, "writes": writes, "queries": qids.tolist(), "terms": terms,
            "matches": len(set().union(*(postings.get(t, set()) for t in terms)))})
    return {"ops": rounds, "dim": shapes["embeddings"]["dim"]}


def gen_dedup_batch(seed, out, n_rounds):
    """Slices are a seeded shard of sf0.1's distinct documents; each gets
    exact copies and near copies (sf0.1's own form, the document plus
    " dup") injected at sf0.1's measured shares. Clean eval documents
    come from the distinct documents outside the shard."""
    rng = np.random.default_rng(seed)
    shapes = _shapes()["documents"]
    doc = _extract("documents.parquet")
    texts = set(doc["text"])
    seen, pool = set(), []
    for i, t in zip(doc["doc_id"], doc["text"]):
        if t in seen or (t.endswith(NEAR_MARK) and t[:-len(NEAR_MARK)] in texts):
            continue             # sf0.1's own duplicates: the generator injects its own
        seen.add(t)
        pool.append((i, t))
    pool = [pool[i] for i in rng.permutation(len(pool))]
    shard, held = pool[:N_SLICES * DOCS_PER_SLICE], pool[N_SLICES * DOCS_PER_SLICE:]
    n_exact = max(1, round(DOCS_PER_SLICE * shapes["exact_share"]))
    n_near = max(1, round(DOCS_PER_SLICE * shapes["near_share"]))
    rows, truth_slices, words = [], [], {}
    next_id = INJECTED_ID0
    for s in range(N_SLICES):
        own = sorted(shard[s * DOCS_PER_SLICE:(s + 1) * DOCS_PER_SLICE])
        exact_dups, near_pairs = [], []
        for j in sorted(rng.choice(len(own), n_exact, replace=False).tolist()):
            own.append((next_id, own[j][1]))
            exact_dups.append(next_id)     # a later id: never the keeper
            next_id += 1
        for j in sorted(rng.choice(DOCS_PER_SLICE, n_near, replace=False).tolist()):
            own.append((next_id, own[j][1] + NEAR_MARK))
            near_pairs.append([own[j][0], next_id])
            next_id += 1
        for i, t in own:
            words[i] = t.split()
            rows.append((i, "s%02d" % s, t))
        truth_slices.append({"slice": "s%02d" % s, "ids": [i for i, _ in own],
                             "exact_dups": exact_dups, "near_pairs": near_pairs})
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "slice": pa.array([r[1] for r in rows], pa.string()),
        "text": pa.array([r[2] for r in rows], pa.string())}),
        os.path.join(out, "corpus.parquet"))

    def window(w):
        a = int(rng.integers(0, max(1, len(w) - EVAL_WORDS + 1)))
        return " ".join(w[a:a + EVAL_WORDS])
    evals = []
    for e in range(n_rounds):
        sl = truth_slices[e % N_SLICES]
        docs, contaminated = [], []
        for j in range(EVAL_DOCS):
            eid = e * EVAL_DOCS + j
            if rng.random() < CONTAM_SHARE:
                docs.append((eid, window(words[sl["ids"][int(rng.integers(0, len(sl["ids"])))]])))
                contaminated.append(eid)
            else:
                docs.append((eid, window(held[int(rng.integers(0, len(held)))][1].split())))
        evals.append({"slice": sl["slice"], "docs": EVAL_DOCS, "contaminated": contaminated})
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string())}),
            os.path.join(out, "eval%03d.parquet" % e))
    return {"slices": truth_slices, "evals": evals}


def generate(workload, seed, out, n_rounds):
    """Write `workload`'s inputs for `n_rounds` rounds of ops under `out`;
    return the truth the checks use."""
    os.makedirs(out, exist_ok=True)
    seed %= 1 << 64         # numpy seeds must be non-negative
    fn = {"etl_cycle": gen_etl_cycle, "index_waves": gen_index_waves,
          "dedup_batch": gen_dedup_batch}[workload]
    truth = fn(seed, out, n_rounds)
    truth["workload"], truth["seed"] = workload, seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def digest(out):
    """sha256 over every generated file (relative path + bytes), sorted."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
