#!/usr/bin/env python3
"""The repository's benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the harness together with the
library sources (sbt, offline) when either changed, generates the
workload's inputs from the seed, runs one Spark process (local[cores],
one closed-loop client) that sets up three times, then issues ops for
`--seconds`, and checks every op's output against the generator's truth.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1` (README.md lists them). Lines before it give the input digest,
the tail percentiles with their sample counts and the input sizes.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SETUPS = 3
HEAP = "2g"
RUN_LIMIT_S = 170           # a run must end within 180 s
BUILD_LIMIT_S = 850

sys.path.insert(0, HERE)
import gen      # noqa: E402
import metrics  # noqa: E402

# Nominal seconds per round at 4 cores (ops plus their checks): a run
# times round(--seconds / ROUND_S) whole rounds, at least one, so every
# run of a workload does the same work in the same op mix.
ROUND_S = {"etl_cycle": 7.5, "index_waves": 10.0, "dedup_batch": 5.5}
# Untimed rounds before the timed ones: op latencies keep falling while
# the JIT compiles the hot paths, and level off from the third round on.
WARM_ROUNDS = 2
# Workloads BENCHMARK.json leaves out: they run by hand only (README.md).
HAND_RUN = ("index_waves",)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_home():
    """The Spark distribution to build and run against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark distribution (with jars/)")
    return home


def sources_digest():
    h = hashlib.sha256()
    dirs = [LIB, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for root, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(root, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + library with sbt when any source changed."""
    want = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the build's temporary files inside the checkout: every JVM the
    # sbt script starts (its version probe too) skips /tmp/hsperfdata
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djna.tmpdir=" + tmp)
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Dsbt.boot.lock=false", "-Djava.io.tmpdir=" + tmp, "-Xmx2g"]).strip()
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=BUILD_LIMIT_S).returncode
    if rc != 0:
        fail("build failed, see " + log)
    with open(STAMP, "w") as f:
        f.write(want)


def run_harness(args, work, input_dir, rounds):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
              "perfbench.Harness",
              args.workload, input_dir, work, str(WARM_ROUNDS), str(rounds),
              str(args.trace),
              str(SETUPS), result])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S - (time.time() - T_START))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness exceeded the time limit")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("harness exited with %d" % rc)
    with open(result) as f:
        res = json.load(f)
    res["session_s"] = res["session_ready"] - launched   # JVM start included
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB, "graft")):
        fail("library sources not found under " + LIB)
    build()

    work = os.path.join(HERE, ".work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    try:
        g0 = time.time()
        rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
        gen.generate(args.workload, args.seed, input_dir, rounds + WARM_ROUNDS)
        gen_s = time.time() - g0
        digest = gen.digest(input_dir)
        res = run_harness(args, work, input_dir, rounds)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    errors = res["setup_errors"] + [o["err"] for o in ops if not o["ok"]]
    setup_s = (gen_s + res["session_s"] + statistics.median(res["setup_s"])
               + res["warmup_s"])
    print("workload %s seed %d input_digest %s" % (args.workload, args.seed, digest))
    print("setup: generate %.3f s, session %.3f s, builds %s s, warm-up rounds %.3f s" % (
        gen_s, res["session_s"], " ".join("%.3f" % s for s in res["setup_s"]),
        res["warmup_s"]))
    print("sizes: " + json.dumps(res["sizes"], sort_keys=True))
    print("ops: %d in %.3f s (%d rounds, %d writes, %d reads)" % (
        len(ops), res["loop_s"], rounds, sum(o["kind"] == "write" for o in ops),
        sum(o["kind"] == "read" for o in ops)))
    for e in errors[:10]:
        print("FAILED: " + e)
    if args.trace:
        m = metrics.per_layer(res, hand_run=args.workload in HAND_RUN)
    else:
        m, notes = metrics.end_to_end(res, setup_s)
        for n in notes:
            print(n)
    print(json.dumps({
        "correct": not errors, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


T_START = time.time()
if __name__ == "__main__":
    main()
