#!/usr/bin/env python3
"""Benchmark of the audit ingestion and search paths.

    python3 perfbench/run.py --workload audit_ingest --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (into perfbench/target); later runs reuse the
build while the sources are unchanged. Each run starts one JVM
(`perfbench.Main`) that runs Spark as local[k], generates the workload's
inputs from the seed, times it, checks every output against a plain-Scala
reference model, and writes a run record. This script turns the record into
metrics: human-readable lines first, then one JSON line with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Run records and traces are kept under
perfbench/runs/. See perfbench/DESIGN.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import summary  # noqa: E402

# Traffic settings of the audit workloads. Only the 100-envelope trigger
# cap has a source (the reference Lambda's batch size, processQueue.ts:5);
# the shares, skews and mix below are assumptions of this benchmark, not
# measured traffic, and their effect on the metrics has not been measured.
# The Zipf exponents take YCSB's default request skew (0.99).
AUDIT = {
    "history_rows": 8000,        # transactions already in the store
    "history_days": 2,           # prior days they span, one dt partition each
    "out_of_order_share": 0.03,  # assumed: responses landing before their request
    "duplicate_share": 0.03,     # assumed: envelopes redelivered a second time
    "malformed_share": 0.01,     # assumed: unparseable envelopes (dead-lettered)
    "app_key_zipf": 0.99,        # assumed (YCSB default): skew of app_id over 24 apps
    "setups": 3,                 # timed warm set-ups per run; setup_s is their median
    "warm_history_rows": 500,    # history of the untimed warm-up's own root
    "probe_pairs": 20,           # traced runs: untraced/traced search pairs
}

WORKLOADS = {
    "audit_ingest": dict(AUDIT,
                         backlog_txns=975,     # ~2,030 envelopes: 21 triggers of <=100
                         warm_txns=40,         # warm-up backlog (one trigger)
                         reads=21),            # uncached searches after the drain
    "audit_search": dict(AUDIT,
                         backlog_txns=0,
                         searches=63,          # cached searches, three per write
                         details=21,           # cached searches with details
                         writes=21,            # assumed mix: one write per four reads
                         write_txns=25,
                         point_share=0.03,     # assumed: transaction_id lookups among reads
                         catalog=16,           # assumed: distinct filter sets
                         filter_zipf=0.99),    # assumed (YCSB default): skew of filter sets
}

# local[k]: per-job overhead, not task parallelism, sets these workloads'
# times; two cores leave the others to the driver, JIT and GC threads (the
# interleaved k = 2 / k = 4 runs are in DESIGN.md)
CORES = max(1, min(2, os.cpu_count() or 1))
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties"))
                      and "target" not in d.split(os.sep)]
    return sorted(files)


def build():
    """Compiles the program and the benchmark unless the sources are
    unchanged since the last build. Returns the classes directory."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               JDK_JAVA_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's temporary files, socket and lock inside the checkout
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
           "-Dsbt.server.forcestart=false", "-Dsbt.global.localcache=" + os.path.join(tmp, "cache"),
           "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp, "compile"]
    with open(os.path.join(HERE, "target", "build.log"), "w") as log:
        r = subprocess.run(sbt,
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        die("build failed, see perfbench/target/build.log", 3)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def run_jvm(classes, workload, seed, trace, work, out):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME must point at the Spark installation", 2)
    params = ["%s=%s" % kv for kv in sorted(WORKLOADS[workload].items())]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + work]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main", workload, str(seed), str(trace), str(CORES),
              os.path.join(work, "data"), out] + params)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("benchmark JVM timed out", 4)
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        die("benchmark JVM failed (exit %d):\n%s" % (code, tail), 5)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40,
                    help="length of the measured phase the workloads are sized for")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are missing", 2)

    classes = build()
    runs = os.path.join(HERE, "runs")
    work = os.path.join(HERE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(runs, exist_ok=True)
    os.makedirs(work)
    name = "%s-seed%d-trace%d-%d" % (a.workload, a.seed, a.trace, int(time.time()))
    out = os.path.join(runs, name + ".json")
    load = [os.getloadavg()[0]]
    t0 = time.time()
    try:
        run_jvm(classes, a.workload, a.seed, a.trace, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0
    load.append(os.getloadavg()[0])
    rec = json.load(open(out))
    rec.update(load1=load, run_wall_s=wall, seconds=a.seconds)
    with open(out, "w") as fh:
        json.dump(rec, fh)

    e2e = summary.end_to_end(rec)
    print("perfbench %s seed=%d trace=%d k=%d load1=%.2f/%.2f sentinel_s=%.3f/%.3f "
          "session_s=%.1f run_wall_s=%.1f record=perfbench/runs/%s.json"
          % (a.workload, a.seed, a.trace, rec["cores"], load[0], load[1],
             rec["sentinel_s"][0], rec["sentinel_s"][1], rec["session_s"], wall, name))
    counts = {"setup_s": "setup_s", "write_p50_ms": "write_ms", "search_p50_ms": "search_ms",
              "trigger_p50_ms": "trigger_ms", "search_p80_ms": "search_ms",
              "details_p50_ms": "details_ms"}
    for k, (v, unit) in e2e.items():
        n = len(rec.get(counts[k], [])) if k in counts else None
        print("  %-22s %14.4f %-6s%s" % (k, v, unit, "  n=%d" % n if n else ""))
    for f in rec["failures"]:
        print("  FAILED: " + f)
    if a.trace:
        computed = summary.per_layer(rec)
        spans = summary.add_self_times(summary.build_spans(rec["trace"]))
        with open(os.path.join(runs, name + "-spans.json"), "w") as fh:
            json.dump([{k: s[k] for k in ("id", "parent", "kind", "name", "start", "end", "self")}
                       for s in spans], fh)
        for k, (v, unit) in computed.items():
            print("  %-30s %14.4f %s" % (k, v, unit))
        for label, d in sorted(summary.label_detail(rec).items()):
            print("  job label %-40s jobs=%d wall_ms=%.0f task_ms=%d"
                  % (label[:40], d["jobs"], d["wall_ms"], d["task_ms"]))
    else:
        computed = e2e
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: computed[m["name"]]
               for m in bench["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
