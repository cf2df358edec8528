"""Arithmetic of the benchmark: latency percentiles, span self time and
the end-to-end and per-layer metrics built from one run's raw record."""
import math

# A failed or wrong operation is a latency miss: it sorts above every
# measured latency. A percentile that lands on a miss reads MISS_MS.
MISS = float("inf")
MISS_MS = 1e9
MIN_BEYOND = 10


def tail_percentile(n):
    """The highest whole percentile (50 to 99) whose nearest-rank value
    leaves at least MIN_BEYOND samples above it; 50 when n is too small
    for any percentile above the median to have that support."""
    best = 50
    for p in range(50, 100):
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            best = p
    return best


def nearest_rank(values, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def latencies(ops):
    """Timed operations' latencies in ms, a failed operation as MISS."""
    return [ms if ok else MISS for _, _, ms, ok, timed in ops if timed]


def summarize(lat):
    """(n, p50, tail percentile, tail value, geometric mean of successes)."""
    n = len(lat)
    p = tail_percentile(n)
    ok = [x for x in lat if x != MISS]
    geo = math.exp(sum(math.log(max(x, 1e-9)) for x in ok) / len(ok)) if ok else MISS
    return n, nearest_rank(lat, 50), p, nearest_rank(lat, p), geo


def finite(x):
    return MISS_MS if x == MISS else x


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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
    """span id -> its duration minus the part of it its children cover.
    Spans are [id, parent, op, name, start_ns, end_ns]."""
    children = {}
    for sid, parent, _, _, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _, _, _, s, e in spans:
        kids = [(max(a, s), min(b, e)) for a, b in children.get(sid, []) if b > s and a < e]
        out[sid] = (e - s) - union_length(kids)
    return out


def end_to_end(raw):
    """The end-to-end metrics of one untraced run."""
    n, p50, _, tail, geo = summarize(latencies(raw["ops"]))
    return {
        "setup_s": raw["values"]["setup_total_s"],
        "p50_ms": finite(p50),
        "tail_ms": finite(tail),
        "geomean_ms": finite(geo),
        "rate_per_s": rate(raw),
        "live_heap_mb": raw["values"]["live_heap_mb"],
    }


def rate(raw):
    """Successful operations per second of their own latency (a closed
    loop with one client), so a run's last, partly-timed operation does
    not quantize the figure."""
    ok = [ms for _, _, ms, good, timed in raw["ops"] if timed and good]
    return len(ok) / (sum(ok) / 1000.0) if ok else 0.0


VERBS = ["slice", "channels", "scaled", "at"]
MODULES = ["Relational", "Dedup", "Similarity", "Spectral", "Sampling",
           "TextAnalysis", "Graph", "Curation", "Quantize", "Timeseries"]
JVM_VALUES = [
    "sources.write_ms", "sources.files_per_shot", "sources.bytes_per_sample",
    "functions.minhash_ns_per_doc", "functions.minhash_docs",
    "functions.dot_ns_per_pair", "functions.dot_pairs",
    "functions.fft_ns_per_trace", "functions.fft_traces",
    "spark.shuffle_mb", "spark.spill_mb", "spark.gc_ms", "spark.core_busy_frac",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.wal_commit_ms", "streaming.rows_per_batch", "streaming.state_rows",
    "streaming.state_mb", "streaming.backlog_files", "streaming.catchup_eps"]


def per_layer(raw):
    """The per-layer metrics of one traced run. A layer the workload does
    not reach reads 0."""
    timed = [o for o in raw["ops"] if o[4]]
    ids = {o[0] for o in timed}
    nops = max(1, len(timed))
    spans = [s for s in raw["spans"] if s[2] in ids]
    selft = self_times(raw["spans"])
    by_name, calls = {}, {}
    for s in spans:
        by_name[s[3]] = by_name.get(s[3], 0) + selft[s[0]]
        calls[s[3]] = calls.get(s[3], 0) + 1
    ms = lambda name: by_name.get(name, 0) / 1e6
    m = {
        "catalog.resolve_ms": ms("catalog.resolve") / nops,
        "sources.open_ms": ms("sources.open") / nops,
        "api.plan_ms": ms("api.plan") / nops,
        "api.exec_ms": ms("api.exec") / nops,
    }
    for v in VERBS:
        name = "api.verb." + v
        m["api.verb_ms." + v] = ms(name) / calls[name] if name in calls else 0.0
    ctr = raw["op_counters"]
    m["sources.list_calls"] = sum(ctr.get(str(i), {}).get("list_calls", 0) for i in ids) / nops
    m["sources.files_read"] = sum(ctr.get(str(i), {}).get("files_read", 0) for i in ids) / nops
    returned = sum(ctr.get(str(i), {}).get("rows_returned", 0) for i in ids)
    probe = raw.get("probe") or {"ops": {}}
    per = [probe["ops"].get(str(i)) for i in ids]
    per = [c for c in per if c]
    scanned = sum(c["records_read"] for c in per)
    m["sources.scan_rows_per_row_returned"] = scanned / returned if returned else 0.0
    tasks = sum(c["tasks"] for c in per)
    m["spark.jobs_per_op"] = sum(c["jobs"] for c in per) / nops
    m["spark.tasks_per_op"] = tasks / nops
    m["spark.task_ms_per_op"] = sum(c["task_ms"] for c in per) / nops
    m["spark.sched_wait_ms"] = sum(c["sched_wait_ms"] for c in per) / tasks if tasks else 0.0
    passes = max(1, sum(1 for k in raw["values"] if k.startswith("pass_s.")))
    for mod in MODULES:
        m["operators.%s_s" % mod] = ms("operators." + mod) / 1000.0 / passes
    m["plans.asof_s"] = ms("plans.asof") / 1000.0 / passes
    m["plans.range_join_s"] = ms("plans.range_join") / 1000.0 / passes
    for k in JVM_VALUES:
        m[k] = raw["values"].get(k, 0.0)
    m["host.calib_s"] = raw["values"]["calib_s"]
    e2e = end_to_end(raw)
    m["trace.p50_ms"] = e2e["p50_ms"]
    m["trace.setup_s"] = e2e["setup_s"]
    return m
