"""Turn the harness's raw measurements (result.json) into the benchmark's
metrics. Pure functions; tests/test_metrics.py pins the arithmetic."""
import math
import statistics

PERCENTILES = (50, 90, 99, 99.9)
# The whole passes the end-to-end metrics cover: the first two, which every
# run completes (Harness.MinPasses). Over all the passes a run's --seconds
# allowed, a faster program would gain twice: once for its speed and once
# for the warmer JIT state its extra passes reach (op latency falls by
# about a third over a minute of passes). The heap peak likewise, since
# live heap grows from pass to pass (spark.heap_growth_mb_per_pass).
MEASURED_PASSES = 2


def _rank(p, n):
    # 1-based nearest rank; the epsilon keeps 99.9 % of 10000 at 9990
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank p-th percentile: the smallest sample with at least p %
    of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def supported_percentile(n, candidates=PERCENTILES):
    """The highest candidate percentile that has at least ten samples
    beyond it among n (None when even the median has fewer)."""
    best = None
    for p in candidates:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def covered(intervals, lo=None, hi=None):
    """Total length of the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span, by id: its duration minus the part of it
    that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - covered(kids.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _ops(r, traced):
    return [o for o in r["ops"] if o["traced"] == traced and o["ok"]]


def heap(r, at):
    """The run's post-GC heap samples (MB) taken at `at`, in order."""
    return [h["mb"] for h in r["heap_mb"] if h["at"] == at]


def end_to_end(r, failed, attempted):
    """The end-to-end metrics of an untraced run, over its first
    MEASURED_PASSES passes. The latency is the geometric mean over op kinds
    (queries on interactive_mix, jobs on dedup_batch) of each kind's median
    latency: every op kind counts and each kind's relative change weighs
    the same. Returns (metrics, number of op kinds)."""
    kinds = {}
    for o in _ops(r, False):
        if o["pass"] < MEASURED_PASSES:
            kinds.setdefault(o["name"], []).append(o["wall_s"])
    if not kinds:
        raise ValueError("no untraced op succeeded")
    return {
        "latency_geomean_s": statistics.geometric_mean(median(v) for v in kinds.values()),
        "heap_live_peak_mb": max(heap(r, "setup") + heap(r, "pass")[:MEASURED_PASSES]),
        "ops_ok_frac": (attempted - failed) / attempted,
        "setup_s": median(r["setup_s"]),
    }, len(kinds)


def tracing_overhead(r):
    """Traced vs untraced: relative change of the median latency, per op
    kind (the kind's traced median against its untraced median); the
    median over kinds is reported, so a mix of different jobs cannot pass
    for overhead."""
    kinds = {}
    for o in r["ops"]:
        if o["ok"]:
            kinds.setdefault(o["name"], ([], []))[o["traced"]].append(o["wall_s"])
    rel = [(median(b) - median(a)) / median(a)
           for a, b in kinds.values() if a and b and median(a)]
    if not rel:
        raise ValueError("no op kind has both traced and untraced samples")
    return median(rel)


def per_layer(r):
    """The per-layer metrics of a traced run. Spark and planner figures
    are means per traced op; stream figures come from the probe stream."""
    ops = _ops(r, True)
    ids = {o["id"] for o in ops}
    st = self_times(r["spans"])
    plan = {s["op"]: st[s["id"]] / 1e9 for s in r["spans"]
            if s["name"] == "planner" and s["op"] in ids}
    jobs = [j for j in r["jobs"] if j["op"] in ids]
    job_op = {j["job"]: j["op"] for j in jobs}
    tasks = [t for t in r["tasks"] if t["job"] in job_op]
    n = max(len(ops), 1)
    wall = sum(o["wall_s"] for o in ops)
    task_run = sum(t["runMs"] for t in tasks) / 1e3
    tasks_by_op = {}
    for t in tasks:
        tasks_by_op.setdefault(job_op[t["job"]], []).append((t["launchMs"], t["finishMs"]))
    gaps = [(o["end_ms"] - o["start_ms"]
             - covered(tasks_by_op.get(o["id"], []), o["start_ms"], o["end_ms"])) / 1e3
            for o in ops]
    m = {
        "tables.scan_s": median(r["tables_scan_s"]),
        "planner.plan_s": mean(plan.get(o["id"], 0.0) for o in ops),
        "planner.exchanges": mean(o["exchanges"] for o in ops),
        "planner.sorts": mean(o["sorts"] for o in ops),
        "planner.broadcasts": mean(o["broadcasts"] for o in ops),
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(1 for j in r["stage_jobs"] if j in job_op) / n,
        "spark.tasks": len(tasks) / n,
        "spark.driver_gap_s": mean(gaps),
        "spark.task_run_s": task_run / n,
        "spark.task_cpu_s": sum(t["cpuNs"] for t in tasks) / 1e9 / n,
        "spark.busy_frac": task_run / (wall * r["cores"]) if wall else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffleWrite"] for t in tasks) / n,
        "spark.shuffle_read_bytes": sum(t["shuffleRead"] for t in tasks) / n,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / n,
        "spark.gc_s": sum(t["gcMs"] for t in tasks) / 1e3 / n,
        "spark.task_failures": sum(1 for t in tasks if t["failed"]),
        "spark.persisted_after_op": mean(o["persisted"] for o in r["ops"] + r["streams"]),
        "spark.heap_growth_mb_per_pass": heap_growth(heap(r, "pass")),
    }
    m.update(r["probe"])
    m.update(stream_layer(r))
    m["trace.overhead_frac"] = tracing_overhead(r)
    return m


def heap_growth(passes):
    """Live heap added per whole pass: the slope from the first pass's
    sample to the last's (0 with fewer than two)."""
    return (passes[-1] - passes[0]) / (len(passes) - 1) if len(passes) > 1 else 0.0


def stream_layer(r):
    """stream.* from the probe stream: StreamingQueryProgress per batch,
    the sink's verdicts and the generator's lateness."""
    s = r["streams"][-1]
    bs = s["batches"]
    batch_ids = {b["id"] for b in bs}
    jobs = [j for j in r["jobs"] if j["batch"] in batch_ids
            and s["start_ms"] <= j["startMs"] <= s["end_ms"]]
    v = s["verdicts"]
    kept_by_dedup = sum(c for k, c in v.items() if k not in ("exact", "near"))
    return {
        "stream.doc_latency_p50_s": median(s["latency_s"]),
        "stream.batches": len(bs),
        "stream.batch_docs": median(b["rows"] for b in bs),
        "stream.add_batch_s": median(b["add_batch_ms"] for b in bs) / 1e3,
        "stream.trigger_s": median(b["trigger_ms"] for b in bs) / 1e3,
        "stream.overhead_s": median(b["trigger_ms"] - b["add_batch_ms"] for b in bs) / 1e3,
        "stream.queue_wait_s": median(s["queue_wait_s"]),
        "stream.jobs_per_batch": len(jobs) / max(len(bs), 1),
        "stream.kept_frac": v.get("kept", 0) / s["offered"],
        "stream.index_docs_end": kept_by_dedup,
        "stream.backlog_docs_end": s["backlog_end"],
        "stream.gen_late_p90_s": percentile(s["gen_late_s"], 90),
    }
