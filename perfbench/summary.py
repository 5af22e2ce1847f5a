"""Arithmetic of the benchmark: percentiles and their sample rule, the span
tree and self times of a traced run, and the metrics of a run record.

A run record is the JSON the benchmark JVM (`perfbench.Main`) writes; this
module never talks to Spark.
"""

import re
import statistics
from collections import defaultdict
from datetime import datetime

# Every named percentile must have at least this many samples beyond it.
MIN_BEYOND = 10

# Streaming progress phases in the order a micro-batch runs them.
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"]


# ------------------------------------------------------------ percentiles

def percentile(values, q):
    """The q-th percentile (0 < q < 100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, q):
    """How many samples lie strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def supported(values, q):
    """Whether the sample supports reporting the q-th percentile."""
    return len(values) > 0 and beyond(values, q) >= MIN_BEYOND


def spread(values):
    """Distance between first and third quartile as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ------------------------------------------------------------------ spans

def _iso_us(ts):
    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e6)


def build_spans(trace):
    """Span tree of a traced run. Each span is a dict with `id`, `parent`,
    `kind` (op, trigger, phase, job), `name`, `start`, `end` (epoch
    microseconds) and `rec` (the raw record). Triggers hang under the op
    whose interval holds their start, phases under their trigger, and jobs
    under the phase of their micro-batch whose interval holds their start
    (the nearest phase when the start falls in a gap between phases) or,
    without a micro-batch, under the op that submitted them. Jobs and
    triggers outside every op (set-up, warm-up) have no parent.
    """
    spans = []
    ops = []
    for o in trace.get("ops", []):
        s = {"id": o["id"], "parent": None, "kind": "op", "name": o["name"],
             "start": o["start_us"], "end": o["end_us"], "rec": o}
        ops.append(s)
        spans.append(s)

    def op_at(t):
        for o in ops:
            if o["start"] <= t <= o["end"]:
                return o["id"]
        return None

    phases_of = defaultdict(list)  # (op id, batch id) -> that trigger's phase spans
    for p in trace.get("progress", []):
        if p.get("numInputRows", 0) == 0:
            continue
        start = _iso_us(p["timestamp"])
        dur = p["durationMs"]
        parent = op_at(start)
        tid = "%s/batch%d" % (parent, p["batchId"])
        spans.append({"id": tid, "parent": parent, "kind": "trigger",
                      "name": "trigger", "start": start,
                      "end": start + dur.get("triggerExecution", 0) * 1000, "rec": p})
        t = start
        for ph in PHASES:
            if ph in dur:
                span = {"id": "%s/%s" % (tid, ph), "parent": tid, "kind": "phase",
                        "name": "stream." + ph, "start": t,
                        "end": t + dur[ph] * 1000, "rec": {}}
                spans.append(span)
                if parent is not None:
                    phases_of[(parent, str(p["batchId"]))].append(span)
                t += dur[ph] * 1000
    for j in trace.get("jobs", []):
        parent = None
        if j["batch"] is not None and phases_of.get((j["op"], j["batch"])):
            parent = _phase_at(phases_of[(j["op"], j["batch"])], j["start_ms"] * 1000)["id"]
        if parent is None and j["op"] is not None:
            parent = j["op"]
        spans.append({"id": "job%d" % j["id"], "parent": parent, "kind": "job",
                      "name": j["desc"] or "job", "start": j["start_ms"] * 1000,
                      "end": max(j["end_ms"], j["start_ms"]) * 1000, "rec": j})
    return spans


def _phase_at(phases, t):
    """The phase whose interval holds `t`, else the nearest one; at a
    boundary, the longest phase that starts there."""
    def gap(s):
        return 0 if s["start"] <= t <= s["end"] else min(abs(t - s["start"]), abs(t - s["end"]))
    return min(phases, key=lambda s: (gap(s), -s["start"], s["start"] - s["end"]))


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if min(b, end) > max(a, start))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def add_self_times(spans):
    """Sets `self` on every span: its duration minus the part of its
    interval that its children cover (microseconds)."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    for s in spans:
        s["self"] = (s["end"] - s["start"]) - covered(s["start"], s["end"], kids[s["id"]])
    return spans


def children(spans, kind):
    out = defaultdict(list)
    for s in spans:
        if s["kind"] == kind and s["parent"] is not None:
            out[s["parent"]].append(s)
    return out


# ---------------------------------------------------------------- metrics

def _med(xs):
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(rec):
    """User-visible metrics of one run: name -> (value, unit). The first
    five exist on every workload; the rest only where the workload produces
    enough samples.
    """
    m = {
        "setup_s": (_med(rec["setup_s"]), "s"),
        "ingest_rows_per_s": (rec["write_rows"] / (rec["write_wall_ms"] / 1000.0), "rows/s"),
        "write_p50_ms": (_med(rec["write_ms"]), "ms"),
        "search_p50_ms": (_med(rec["search_ms"]), "ms"),
        "store_bytes_per_row": (rec["store_bytes"] / rec["store_rows"], "B/row"),
        "failed_frac": (rec["failed"] / rec["attempted"], "ratio"),
    }
    if rec.get("trigger_ms"):
        m["trigger_p50_ms"] = (_med(rec["trigger_ms"]), "ms")
    for name, key, q in [("search_p80_ms", "search_ms", 80),
                         ("details_p50_ms", "details_ms", 50)]:
        if supported(rec.get(key, []), q):
            m[name] = (percentile(rec[key], q), "ms")
    return m


def per_layer(rec):
    """Per-layer metrics of one traced run: name -> (value, unit). Layers
    a workload leaves idle read 0. The tracing overhead compares the
    median traced and untraced search of the run's overhead probe."""
    trace = rec["trace"]
    cores = rec["cores"]
    spans = add_self_times(build_spans(trace))
    byid = {s["id"]: s for s in spans}
    jobs_of = children(spans, "job")
    ops = [s for s in spans if s["kind"] == "op"]
    ms = lambda s: (s["end"] - s["start"]) / 1000.0
    triggers = [s for s in spans if s["kind"] == "trigger" and s["parent"] is not None]
    m = {}

    # Spark micro-batch engine
    def phase(p, *names):
        return sum(p["rec"]["durationMs"].get(n, 0) for n in names)
    m["stream.offset_ms"] = (_med([phase(t, "latestOffset") for t in triggers]), "ms")
    m["stream.get_batch_ms"] = (_med([phase(t, "getBatch") for t in triggers]), "ms")
    m["stream.plan_ms"] = (_med([phase(t, "queryPlanning") for t in triggers]), "ms")
    m["stream.add_batch_ms"] = (_med([phase(t, "addBatch") for t in triggers]), "ms")
    m["stream.commit_ms"] = (_med([phase(t, "walCommit", "commitOffsets") for t in triggers]), "ms")
    m["stream.trigger_self_ms"] = (_med([t["self"] / 1000.0 for t in triggers]), "ms")

    # IngestJob: per trigger (the jobs of its addBatch phase; listing and
    # planning jobs of the other phases belong to the micro-batch engine)
    # or per direct processBatch call
    units = [byid["%s/addBatch" % t["id"]] for t in triggers if "%s/addBatch" % t["id"] in byid]
    rows_in = [t["rec"]["numInputRows"] for t in triggers]
    direct = [o for o in ops if o["name"] == "IngestJob.processBatch"]
    units += direct
    rows_in += [o["rec"]["attrs"]["envelopes"] for o in direct]
    uj = [jobs_of.get(u["id"], []) for u in units]
    tot = lambda js, k: sum(j["rec"][k] for j in js)
    m["ingest_job.jobs"] = (_med([len(js) for js in uj]), "count")
    m["ingest_job.jobs_total"] = (float(sum(len(js) for js in uj)), "count")
    m["ingest_job.tasks"] = (_med([tot(js, "tasks") for js in uj]), "count")
    m["ingest_job.task_ms"] = (_med([tot(js, "task_ms") for js in uj]), "ms")
    m["ingest_job.core_util"] = (_med([tot(js, "task_ms") / (ms(u) * cores)
                                       for u, js in zip(units, uj) if ms(u) > 0]), "ratio")
    m["ingest_job.scan_bytes"] = (_med([tot(js, "in_bytes") for js in uj]), "B")
    written = sum(tot(js, "out_records") for js in uj)
    m["ingest_job.write_amp"] = (written / sum(rows_in) if rows_in and sum(rows_in) else 0.0, "ratio")
    m["ingest_job.bytes_written"] = (_med([tot(js, "out_bytes") for js in uj]), "B")
    m["ingest_job.self_ms"] = (_med([u["self"] / 1000.0 for u in units]), "ms")

    # AuditEngine / operators.Search misses, and the ResultCache
    lookups = [o for o in ops if o["name"] == "AuditEngine.searchCached"]
    hits = [o for o in lookups if o["rec"]["attrs"].get("hit")]
    misses = [o for o in ops if o["name"] == "AuditEngine.search"] + \
             [o for o in lookups if not o["rec"]["attrs"].get("hit")]
    m["search.miss_ms"] = (_med([ms(o) for o in misses]), "ms")
    m["search.jobs_per_miss"] = (_med([len(jobs_of.get(o["id"], [])) for o in misses]), "count")
    m["search.scan_bytes_per_miss"] = (_med([tot(jobs_of.get(o["id"], []), "in_bytes")
                                             for o in misses]), "B")
    m["search.miss_self_ms"] = (_med([o["self"] / 1000.0 for o in misses]), "ms")
    m["result_cache.hit_ratio"] = (len(hits) / len(lookups) if lookups else 0.0, "ratio")
    m["search.hit_ms"] = (_med([ms(o) for o in hits]), "ms")
    m["search.jobs_per_hit"] = (_med([len(jobs_of.get(o["id"], [])) for o in hits]), "count")

    # BlobCache and the details path; a call that misses blobs ends with
    # the payload-table fetch, so its last job is the payload scan
    det = [o for o in ops if o["name"] == "AuditEngine.searchWithDetailsCached"]
    asked = sum(o["rec"]["attrs"].get("blob_keys", 0) for o in det)
    hit = sum(o["rec"]["attrs"].get("blob_hits", 0) for o in det)
    m["blob_cache.hit_ratio"] = (hit / asked if asked else 0.0, "ratio")
    m["details.jobs_per_op"] = (_med([len(jobs_of.get(o["id"], [])) for o in det]), "count")
    fetches = [sorted(jobs_of.get(o["id"], []), key=lambda j: j["rec"]["id"])[-1]["rec"]["in_bytes"]
               for o in det
               if o["rec"]["attrs"].get("blob_hits", 0) < o["rec"]["attrs"].get("blob_keys", 0)
               and jobs_of.get(o["id"])]
    m["details.payload_scan_bytes"] = (_med(fetches), "B")

    # driver JVM over the measured pass
    m["jvm.gc_ms"] = (float(rec["jvm"]["gc_ms"]), "ms")
    m["jvm.heap_peak_mb"] = (float(rec["jvm"]["heap_peak_mb"]), "MB")

    # tracing overhead: pairs of the same search with and without the
    # listeners; the median of the pairs' differences over the untraced median
    off, on = rec["overhead_ms"]["untraced"], rec["overhead_ms"]["traced"]
    diff = statistics.median(b - a for a, b in zip(off, on))
    m["trace.overhead_pct"] = (100.0 * diff / statistics.median(off), "%")
    return m


def job_label(desc):
    """A job's label: the first line of its description with numbers
    replaced by `#`, `stream batch` for micro-batch jobs, `-` for none."""
    if not desc:
        return "-"
    line = next((x.strip() for x in desc.splitlines() if x.strip()), "")
    if line.startswith("id = "):
        return "stream batch"
    return re.sub(r"\d+", "#", line)


def label_detail(rec):
    """Job count, wall and task time per job label over the traced ops,
    leaving out the overhead probe's."""
    spans = build_spans(rec["trace"])
    out = defaultdict(lambda: {"jobs": 0, "wall_ms": 0.0, "task_ms": 0})
    for s in spans:
        if (s["kind"] == "job" and s["parent"] is not None
                and not (s["rec"]["op"] or "").startswith("overhead.")):
            d = out[job_label(s["rec"]["desc"])]
            d["jobs"] += 1
            d["wall_ms"] += (s["end"] - s["start"]) / 1000.0
            d["task_ms"] += s["rec"]["task_ms"]
    return dict(out)
