#!/usr/bin/env python3
"""Benchmark of the library's product paths.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness (sbt, offline); later runs reuse the build while the sources
are unchanged. Inputs are generated from --seed (perfbench/gen.py) and
cached per seed. One JVM then runs a cold pass of the workload and warm
passes back to back for S seconds; every pass's outputs are checked.
With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones (see perfbench/README.md). The exit code is
non-zero when a check fails or the program cannot be built or run.
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

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = list(stats.SPANS)
HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("cpu_s_per_pass", "s"), ("heap_live_mb", "MB"), ("write_amp", "ratio"),
              ("ok_frac", "ratio")]
PINS = os.path.join(HERE, "pins.json")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness when the sources changed; return the classpath."""
    missing = [r for r in ("build.sbt", "src/main/scala") if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        die(f"the library is not in this checkout (missing {', '.join(missing)}); nothing to measure")
    digest = source_digest()
    bdir = os.path.join(ROOT, ".bench_build")
    stamp = os.path.join(bdir, "stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "-Dsbt.server.autostart=false", "writeClasspath"],
                                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed to run: {e}")
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip(), digest


# ------------------------------------------------------------ environment

def _read(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def environment():
    cpu_max = _read("/sys/fs/cgroup/cpu.max")
    if cpu_max is None:
        quota = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
        period = _read("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
        cpu_max = f"{quota} {period}" if quota else "unknown"
    model = next((ln.split(":", 1)[1].strip() for ln in (_read("/proc/cpuinfo") or "").splitlines()
                  if ln.startswith("model name")), "unknown")
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "cgroup_cpu_max": cpu_max,
            "cpu_model": model, "git_commit": commit, "load1_start": os.getloadavg()[0]}


# -------------------------------------------------------------------- JVM

def java_cmd(cp, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "graft.perfbench.Main", *args]


def run_jvm(cp, work, args, log):
    os.makedirs(f"{work}/tmp", exist_ok=True)
    args = [*args, "--t0-ms", repr(time.time() * 1e3)]
    with open(log, "a") as fh:
        p = subprocess.Popen(java_cmd(cp, work, args), cwd=work, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; see {os.path.relpath(log, ROOT)}")
    if p.returncode != 0:
        die(f"benchmark JVM exited {p.returncode}; see {os.path.relpath(log, ROOT)}")


# ----------------------------------------------------------------- checks

def check_passes(workload, manifest, rec, seed, data_dir, work):
    """One list of failure reasons per pass (empty = the pass is correct)."""
    expect = manifest["expect"]
    passes = rec["passes"]
    reasons = [[f"error: {p['error']}"] if p["error"] else [] for p in passes]
    ref = next((p["digest"] for p in passes if p["digest"]), None)
    pinned = json.load(open(PINS)).get(workload, {}).get(str(seed)) if os.path.exists(PINS) else None
    stream_bad = {}
    if workload == "incremental_stream" and ref is not None:
        last = max(p["index"] for p in passes if p["digest"] == ref)
        stream_bad = {k: v for k, v in oracle.check(
            f"{data_dir}/stream", f"{work}/pass{last}/result", rec["oracle_sql"]).items() if v}
    for p, r in zip(passes, reasons):
        if p["error"]:
            continue
        c = p["check"]
        if p["digest"] != ref:
            r.append("digest differs from the first pass")
        if pinned is not None and p["digest"] != pinned:
            r.append("digest differs from the one pinned for this seed")
        if workload == "medallion":
            if not c["fact_sales"] == c["silver_sales"] == expect["fact_sales"]:
                r.append(f"fact rows {c['fact_sales']} / silver sales {c['silver_sales']}"
                         f" / generated {expect['fact_sales']}")
            for dim in ("dim_customers", "dim_products"):
                k = c[dim]
                if not (k["rows"] == expect[dim] and k["min"] == 1 and
                        k["max"] == k["distinct"] == k["rows"]):
                    r.append(f"{dim} keys not dense 1..{expect[dim]}: {k}")
        else:
            for stage, n in expect.items():
                if c["counts"].get(stage) != n:
                    r.append(f"{stage}: {c['counts'].get(stage)} rows, generator says {n}")
            if c["shared_fingerprints"]:
                r.append(f"{c['shared_fingerprints']} fingerprints shared by kept docs")
            if c["fp_index_v1_rows"] != c["fp_index_v1_distinct"]:
                r.append("fp index v1 holds duplicate fingerprints")
            r.extend(f"{k} differs from the DuckDB oracle: {v}" for k, v in stream_bad.items())
    return reasons


# ---------------------------------------------------------------- metrics

def end_to_end(rec, input_bytes, ok):
    passes = rec["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    mb = 1024.0 * 1024.0
    samples = {
        # one sample: a second JVM per run would cost more than the
        # benchmark's time budget leaves (see README.md)
        "setup_s": [rec["setup_s"]],
        "cold_pass_s": [passes[0]["wall_s"]],
        "warm_pass_s": [p["wall_s"] for p in warm],
        "cpu_s_per_pass": [p["cpu_s"] for p in warm],
        "heap_live_mb": [p["old_gen_live_bytes"] / mb for p in warm],
        "write_amp": [p["write_bytes"] / input_bytes for p in warm],
        "ok_frac": [sum(ok) / len(ok)],
    }
    return {name: (stats.summary(samples[name])["median"], unit, stats.summary(samples[name]))
            for name, unit in END_TO_END}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this seed's output digest in perfbench/pins.json")
    a = ap.parse_args()

    env = environment()
    cp, src_digest = build()
    env["source_digest"] = src_digest
    data_dir = os.path.join(ROOT, ".bench_data", f"{a.workload}-s{a.seed}-{gen.version()}")
    manifest = gen.generate(a.workload, a.seed, data_dir)
    cores = env["nproc"]
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    results = os.path.join(ROOT, ".bench_run", "results")
    os.makedirs(results, exist_ok=True)
    log = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    open(log, "w").close()
    try:
        common = ["--workload", a.workload, "--seed", str(a.seed), "--cores", str(cores),
                  "--data", data_dir, "--work", work]
        out_file = os.path.join(work, "record.json")
        run_jvm(cp, work, [*common, "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--out", out_file], log)
        rec = json.load(open(out_file))
        env.update(jvm=rec["jvm"], spark=rec["spark"])
        reasons = check_passes(a.workload, manifest, rec, a.seed, data_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env["load1_end"] = os.getloadavg()[0]

    ok = [not r for r in reasons]
    if a.trace:
        metrics = stats.reduce_trace(rec)
        for s in rec["trace"]["spans"]:
            s["self_s"] = stats.self_times(rec["trace"]["spans"])[s["id"]]
    else:
        metrics = end_to_end(rec, manifest["input_bytes"], ok)
    failed = sum(not x for x in ok)
    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "env": env,
            "inputs": {k: manifest[k] for k in ("rows", "dup_shares", "input_bytes")},
            "passes": [{k: v for k, v in p.items() if k != "check"} | {"failures": r}
                       for p, r in zip(rec["passes"], reasons)],
            "metrics": {k: {"value": v[0], "unit": v[1], "samples": v[2]} for k, v in metrics.items()}}
    if a.trace:
        full["spans"] = rec["trace"]["spans"]
        full["run_id"] = rec["trace"]["run_id"]
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(full, fh, indent=1)

    if a.pin and failed == 0:
        pins = json.load(open(PINS)) if os.path.exists(PINS) else {}
        pins.setdefault(a.workload, {})[str(a.seed)] = rec["passes"][0]["digest"]
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={env['nproc']} "
          f"cpu.max={env['cgroup_cpu_max']} load1={env['load1_start']:.2f}->{env['load1_end']:.2f} "
          f"passes={len(ok)} input_bytes={manifest['input_bytes']} rows={manifest['rows']} "
          f"dup_shares={manifest['dup_shares']}")
    for i, r in enumerate(reasons):
        for why in r:
            print(f"# FAIL pass {i}: {why}")
    for name, (value, unit, n) in metrics.items():
        extra = f"n={n['n']}" if isinstance(n, dict) else f"n={n}"
        print(f"{name} = {value:.6g} {unit} ({extra})")
    print(json.dumps({"correct": failed == 0, "attempted": len(ok), "failed": failed,
                      "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
