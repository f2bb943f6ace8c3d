"""Pure arithmetic of the benchmark: sample summaries, interval unions and
the reduction of a traced run's raw Spark events into per-layer metrics.
No I/O here, so tests/test_bench.py can pin all of it without a JVM.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

SUFFIXES = ["wall_s", "jobs", "scans", "scan_mb", "shuffle_mb", "task_busy_s",
            "plan_s", "driver_gap_s"]
STREAM_SUFFIXES = ["wall_s", "jobs", "driver_gap_s"]
SPANS = {
    "medallion": ["bronze", "silver", "gold"],
    "incremental_stream": ["p2.bootstrap", "p2.commit", "p2.delta", "p2.chunks",
                           "s8", "s12", "s23"],
}
STREAM_SPANS = {"s8", "s12", "s23"}
P2_SPANS = ["p2.bootstrap", "p2.commit", "p2.delta", "p2.chunks"]
STREAM_METRICS = ["stream.batches", "stream.batch_p50_ms", "stream.add_batch_ms",
                  "stream.query_planning_ms", "stream.get_batch_ms",
                  "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.state_rows"]
# Spark's progress-report keys behind the stream.*_ms phase totals
STREAM_PHASES = {"stream.add_batch_ms": "addBatch", "stream.query_planning_ms": "queryPlanning",
                 "stream.get_batch_ms": "getBatch", "stream.wal_commit_ms": "walCommit",
                 "stream.commit_offsets_ms": "commitOffsets"}
GOLD_TABLES = 3


def per_layer_names():
    """Every per-layer metric name with its unit, in report order."""
    units = {"wall_s": "s", "jobs": "count", "scans": "count", "scan_mb": "MB",
             "shuffle_mb": "MB", "task_busy_s": "s", "plan_s": "s", "driver_gap_s": "s"}
    out = []
    for spans in SPANS.values():
        out += [(f"{s}.{x}", units[x]) for s in spans
                for x in (STREAM_SUFFIXES if s in STREAM_SPANS else SUFFIXES)]
    out += [("p2.run.driver_gap_s", "s"), ("gold.scans_per_table", "count"),
            ("p2.delta_share", "ratio"), ("spark.core_util", "ratio")]
    out += [(m, "count" if m in ("stream.batches", "stream.state_rows") else "ms")
            for m in STREAM_METRICS]
    out.append(("trace.overhead_s", "s"))
    return out


def summary(values):
    """Median of a sample with its size and the highest whole percentile
    that still has at least ten samples beyond it (None below 20 samples)."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "median": statistics.median(vals) if vals else None,
           "tail_pct": None, "tail": None}
    k = math.floor(100 * (1 - 10 / n)) if n >= 20 else 0
    if k > 50:
        out["tail_pct"] = k
        out["tail"] = statistics.quantiles(vals, n=100, method="inclusive")[k - 1]
    return out


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], each clipped to
    [lo, hi] when given. Overlapping intervals count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
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
    """Each span's duration minus the part its children cover (seconds)."""
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in spans if c["parent"] == s["id"]]
        out[s["id"]] = s["wall_s"] - union_length(kids, s["start_ms"], s["end_ms"]) / 1e3
    return out


# ------------------------------------------------------------ trace reduce

def _pass_events(events, p):
    jobs, stage_job, stage_agg, qes, execs, stream = {}, {}, {}, [], {}, []
    for e in events:
        if e["pass"] != p:
            continue
        k = e["kind"]
        if k == "job_start":
            jobs[e["job"]] = {"start": e["t_ms"], "end": e["t_ms"], "exec": e["exec"],
                              "stages": e["stages"]}
            for s in e["stages"]:
                stage_job.setdefault(s, e["job"])
        elif k == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["end"] = e["t_ms"]
        elif k == "task":
            a = stage_agg.setdefault(e["stage"], [0.0, 0.0, 0.0])
            a[0] += e["busy_ms"]
            a[1] += e["in_bytes"]
            a[2] += e["shuffle_write_bytes"]
        elif k == "qe":
            qes.append(e)
        elif k == "exec":
            execs[e["exec"]] = e
        elif k == "stream":
            stream.append(e)
    for j in jobs.values():
        j["busy_ms"] = j["in_bytes"] = j["shuffle_bytes"] = 0.0
    for stage, (busy, inb, shuf) in stage_agg.items():
        j = jobs.get(stage_job.get(stage))
        if j is not None:
            j["busy_ms"] += busy
            j["in_bytes"] += inb
            j["shuffle_bytes"] += shuf
    return jobs, qes, execs, stream


def _span_metrics(segments, jobs, qes):
    """Metrics of one span made of `segments` [(start_ms, end_ms)], given
    the jobs and query executions assigned to it."""
    wall_ms = sum(e - s for s, e in segments)
    busy_ms = sum(union_length([(j["start"], j["end"]) for j in jobs], s, e) for s, e in segments)
    mb = 1024.0 * 1024.0
    return {
        "wall_s": wall_ms / 1e3,
        "jobs": len(jobs),
        "scans": sum(q["scans"] for q in qes),
        "scan_mb": sum(j["in_bytes"] for j in jobs) / mb,
        "shuffle_mb": sum(j["shuffle_bytes"] for j in jobs) / mb,
        "task_busy_s": sum(j["busy_ms"] for j in jobs) / 1e3,
        "plan_s": sum(q["plan_ms"] for q in qes) / 1e3,
        "driver_gap_s": max(0.0, (wall_ms - busy_ms) / 1e3),
    }


def _within(t, s, e):
    return s <= t <= e


P2_TARGETS = [("fp_idx", "p2.commit"), ("band_idx", "p2.commit"),
              ("delta_chunks", "p2.chunks"), ("delta_", "p2.delta"), ("hist_", "p2.bootstrap")]


def p2_span_of(path):
    """The incremental span a write belongs to, from the path it targets."""
    if not path:
        return None
    parts = [x.strip("_") for x in path.rstrip("/").split("/")]
    for part in reversed(parts):
        for key, span in P2_TARGETS:
            if part.startswith(key):
                return span
    return None


def _p2_segments(run_span, jobs, execs):
    """Cut the p2.run interval into consecutive segments, one per run of
    jobs that write into the same span's paths. A job that writes nothing
    joins the span of the job before it. A segment reaches back to the end
    of the previous one, so the driver time before a job counts with it."""
    def path_of(exec_id):
        e = execs.get(exec_id)
        while e is not None and not e.get("path") and e.get("root") not in (None, e["exec"]):
            e = execs.get(e["root"])
        return e.get("path") if e else None

    order = sorted(jobs.items(), key=lambda kv: (kv[1]["start"], kv[0]))
    cur, assigned = "p2.bootstrap", {}
    for jid, j in order:
        cur = p2_span_of(path_of(j["exec"])) or cur
        assigned[jid] = cur
    segs, seg_start = [], run_span["start_ms"]
    for jid, j in order:
        sp = assigned[jid]
        if segs and segs[-1][0] == sp:
            segs[-1][2] = max(segs[-1][2], j["end"])
        else:
            if segs:
                seg_start = segs[-1][2]
            segs.append([sp, seg_start, max(seg_start, j["end"])])
    if segs:
        segs[-1][2] = max(segs[-1][2], run_span["end_ms"])
    return assigned, segs


def _p2_metrics(run, jobs, qes, execs):
    """p2.* metrics: the jobs inside the p2.run span, split by write target."""
    jobs = {k: j for k, j in jobs.items() if _within(j["start"], run["start_ms"], run["end_ms"])}
    assigned, segs = _p2_segments(run, jobs, execs)
    out = {}
    for name in P2_SPANS:
        my_segs = [(s, e) for sp, s, e in segs if sp == name]
        my_jobs = [jobs[j] for j, sp in assigned.items() if sp == name]
        my_qes = [q for q in qes if any(_within(q["t_ms"], s, e) for s, e in my_segs)]
        out.update({f"{name}.{k}": v for k, v in _span_metrics(my_segs, my_jobs, my_qes).items()})
    out["p2.run.driver_gap_s"] = max(0.0, run["wall_s"] - union_length(
        [(j["start"], j["end"]) for j in jobs.values()], run["start_ms"], run["end_ms"]) / 1e3)
    return out


def reduce_pass(spans, events, p, cores):
    """Per-layer metrics of traced pass `p`. Jobs and query executions
    belong to the child span of the pass they start in; inside p2.run they
    are split further by the path they write."""
    jobs, qes, execs, stream = _pass_events(events, p)
    pspans = [s for s in spans if s["pass"] == p]
    top = next(s for s in pspans if s["name"] == "pass")
    out = {}
    for s in pspans:
        if s["parent"] != top["id"]:
            continue
        if s["name"] == "p2.run":
            out.update(_p2_metrics(s, jobs, qes, execs))
            continue
        my_jobs = [j for j in jobs.values() if _within(j["start"], s["start_ms"], s["end_ms"])]
        my_qes = [q for q in qes if _within(q["t_ms"], s["start_ms"], s["end_ms"])]
        m = _span_metrics([(s["start_ms"], s["end_ms"])], my_jobs, my_qes)
        m["wall_s"] = s["wall_s"]
        m["driver_gap_s"] = max(0.0, s["wall_s"] - union_length(
            [(j["start"], j["end"]) for j in my_jobs], s["start_ms"], s["end_ms"]) / 1e3)
        keep = STREAM_SUFFIXES if s["name"] in STREAM_SPANS else SUFFIXES
        out.update({f"{s['name']}.{k}": m[k] for k in keep})
    busy = sum(j["busy_ms"] for j in jobs.values()) / 1e3
    out["spark.core_util"] = busy / (top["wall_s"] * cores)
    if stream:
        trig = [e["duration_ms"].get("triggerExecution", 0) for e in stream]
        out["stream.batches"] = len(stream)
        out["stream.batch_p50_ms"] = statistics.median(trig)
        for name, key in STREAM_PHASES.items():
            out[name] = sum(e["duration_ms"].get(key, 0) for e in stream)
        last = {}
        for e in stream:
            last[e["query"]] = max(last.get(e["query"], 0), e["state_rows"])
        out["stream.state_rows"] = sum(last.values())
    return out


def reduce_trace(record):
    """Medians over the traced warm passes of every per-layer metric; a
    span the workload does not have did no work and reads 0."""
    trace = record["trace"]
    passes = record["passes"]
    traced = [p["index"] for p in passes if p["traced"]]
    per = [reduce_pass(trace["spans"], trace["events"], i, record["cores"])
           for i in traced]
    out = {}
    for name, unit in per_layer_names():
        vals = [m[name] for m in per if name in m]
        out[name] = (statistics.median(vals) if vals else 0.0, unit, len(vals))
    def val(n):
        return out[n][0]
    out["gold.scans_per_table"] = (val("gold.scans") / GOLD_TABLES, "count", out["gold.scans"][2])
    boot = val("p2.bootstrap.wall_s")
    out["p2.delta_share"] = (val("p2.delta.wall_s") / boot if boot else 0.0, "ratio",
                             out["p2.delta.wall_s"][2])
    untraced = [p["wall_s"] for p in passes if p["index"] > 0 and not p["traced"]]
    traced_w = [p["wall_s"] for p in passes if p["traced"]]
    out["trace.overhead_s"] = (statistics.median(traced_w) - statistics.median(untraced),
                               "s", len(traced_w))
    return out
