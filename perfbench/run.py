#!/usr/bin/env python3
"""fdfspark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload shot_access --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM entry point from source with sbt (offline) into
perfbench/target; later runs reuse that build while the sources are
unchanged. graft.bench.Main runs the workload in one JVM with Spark local[nproc]
and writes a raw record; this script adds the DuckDB oracle check for
curation_batch, prints each metric with its unit, and ends with one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Workloads and metrics are described in perfbench/WORKLOADS.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["shot_access", "curation_batch"]
E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "tail_ms": "ms", "geomean_ms": "ms",
             "rate_per_s": "1/s", "live_heap_mb": "MB"}
RUN_LIMIT_S = 150
INPUTS_LIMIT_S = 150
BUILD_LIMIT_S = 600
# The program's own run flags (build.sbt) apart from its heap size: a fixed,
# pre-touched heap and a code cache that Spark's generated classes cannot fill.
JVM_FLAGS = ["-Xmx2g", "-Xms2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
             "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def stamp(roots, files=()):
    """Hash of the files under `roots` plus `files`."""
    h = hashlib.sha1()
    files = list(files)
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build(stamp):
    """Compiles with sbt when the sources changed; returns the classpath."""
    record = os.path.join(BENCH, "target", "perfbench-build.json")
    if os.path.exists(record):
        with open(record) as f:
            b = json.load(f)
        if b.get("stamp") == stamp:
            return b["classpath"]
    log("[perfbench] building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    code, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or "classes" not in lines[-1]:
        log(out[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    with open(record, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def add_opens():
    """The --add-opens list of the program's build.sbt (`jdk17AddOpens`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", f.read(), re.S)
    if not m:
        raise SystemExit("[perfbench] ../build.sbt sets no jdk17AddOpens")
    return ["--add-opens=%s=ALL-UNNAMED" % p for p in re.findall(r'"([^"]+)"', m.group(1))]


def run_jvm(cp, workload, args, work, cache, timeout):
    """Runs graft.bench.Main for `workload` in a fresh `work` directory."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_FLAGS
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dlog4j.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
           + add_opens()
           + ["-cp", cp, "graft.bench.Main", workload, str(args.seed),
              str(args.seconds), str(args.trace), work,
              os.path.join(BENCH, "data", "sf0.01"), cache])
    code, _, _ = run_group(cmd, timeout, cwd=work, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        raise SystemExit("[perfbench] workload %s failed with exit code %d" % (workload, code))


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("[perfbench] no program sources under %s/src/main/scala" % ROOT)

    bench_src = os.path.join(BENCH, "src", "main", "scala", "graft", "bench")
    program = os.path.join(ROOT, "src", "main")
    source = stamp([program, os.path.join(BENCH, "src")],
                   [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")])
    # cached inputs (warehouse, event slices) are written by the program
    inputs = stamp([program], [os.path.join(bench_src, "Warehouse.scala"),
                               os.path.join(bench_src, "EventStream.scala")])
    t_build = time.time()
    cp = build(source)
    limit = RUN_LIMIT_S - (t_build - t0)
    state = os.path.join(BENCH, ".work")
    work = os.path.join(state, "run-" + args.workload)
    cache = os.path.join(state, "cache-" + inputs[:12])
    os.makedirs(cache, exist_ok=True)
    for d in os.listdir(state):  # caches written by earlier builds
        if d.startswith("cache-") and os.path.join(state, d) != cache:
            shutil.rmtree(os.path.join(state, d), ignore_errors=True)
    ready = os.path.join(cache, "_READY")
    if not os.path.exists(ready):  # seed-free inputs, in a JVM of their own
        log("[perfbench] writing the cached inputs")
        run_jvm(cp, "inputs", args, os.path.join(state, "inputs"), cache, INPUTS_LIMIT_S)
        shutil.rmtree(os.path.join(state, "inputs"), ignore_errors=True)
        open(ready, "w").close()
        limit = RUN_LIMIT_S
    run_jvm(cp, args.workload, args, work, cache, limit)
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)

    failures = list(raw["failures"])
    attempted = len(raw["ops"])
    if args.workload == "curation_batch":
        checked = oracle.check(ROOT, os.path.join(BENCH, "data", "sf0.01"), os.path.join(work, "outputs"))
        attempted += len(checked)
        failures += ["oracle %s: %s" % (q, r) for q, r in sorted(checked.items()) if r]
    for f in failures[:10]:
        log("[perfbench] FAILED", f)

    lat = stats.latencies(raw["ops"])
    n, _, p, _, _ = stats.summarize(lat)
    v = raw["values"]
    print("workload %s seed %d: %d timed operations, tail = p%d" % (args.workload, args.seed, n, p))
    print("fail_frac %.6f (%d of %d operations)" % (len(failures) / attempted, len(failures), attempted))
    print("calib_s %.6f s (host speed probe)" % v["calib_s"])
    if args.trace:
        metrics = {k: (x, unit_of(k)) for k, x in stats.per_layer(raw).items()}
    else:
        metrics = {k: (x, E2E_UNITS[k]) for k, x in stats.end_to_end(raw).items()}
    for k, (x, u) in metrics.items():
        print("%s %s %s" % (k, repr(float(x)), u))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": float(x), "unit": u} for k, (x, u) in metrics.items()}}))


def unit_of(name):
    if name.endswith("_eps"):
        return "1/s"
    if "_ns_per_" in name:
        return "ns"
    if "_ms" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "sources.bytes_per_sample":
        return "B"
    if name in ("spark.core_busy_frac", "sources.scan_rows_per_row_returned"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
