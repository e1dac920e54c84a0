"""Turns one run's samples into the benchmark's metrics."""
import math
import statistics

# Percentiles reported when the run has enough samples beyond them.
PERCENTILES = (99, 90, 75)
# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile; the median is interpolated."""
    if not values:
        raise ValueError("no values")
    if p == 50:
        return statistics.median(values)
    s = sorted(values)
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(n):
    """The highest reported percentile with MIN_BEYOND samples beyond it."""
    for p in PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def measured(result):
    """The samples of the measured window: all but the warm-up passes."""
    warmup = result.get("warmup_passes", 0)
    return [s for s in result["samples"] if s["pass"] >= warmup]


def end_to_end(result):
    """The untraced run's gated metrics, and the other end-to-end metrics,
    which are printed but not gated; each as (value, unit). Failures count
    from every checked operation, warm-up included; timings come from the
    measured window only."""
    samples = result["samples"]
    failed = sum(1 for s in samples if s["error"] is not None)
    ok = [s for s in measured(result) if s["error"] is None]
    lat = [s["latency_s"] for s in ok]
    m = {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "ops_per_s": (len(ok) / result["window_s"], "1/s"),
    }
    extra = {"failed_share": (failed / len(samples), "ratio"),
             "latency_samples": (len(lat), "count")}
    warm = [s["latency_s"] for s in samples
            if s["pass"] < result.get("warmup_passes", 0) and s["error"] is None]
    if warm:
        extra["warmup_s"] = (sum(warm), "s")
    if lat:
        extra["latency_p50_s"] = (percentile(lat, 50), "s")
    tail = tail_percentile(len(lat))
    if tail:
        extra[f"latency_p{tail}_s"] = (percentile(lat, tail), "s")
    for kind in ("miss", "hit"):
        k = [s["latency_s"] for s in ok if s["kind"] == kind]
        if k:
            extra[f"ask_{kind}_p50_s"] = (percentile(k, 50), "s")
    asks = [s for s in measured(result) if s["kind"] in ("miss", "hit")]
    if asks:
        extra["llm_calls_per_ask"] = (
            sum(s["llm_calls"] for s in asks) / len(asks), "count")
    return m, extra


# Per-layer fields averaged per traced operation (seconds or counts).
MEAN_FIELDS = {
    "ops.construct_s": "s", "ops.construct_jobs": "count",
    "catalyst.analyze_s": "s", "catalyst.optimize_s": "s", "catalyst.plan_s": "s",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.gc_s": "s", "exec.input_bytes": "bytes", "exec.output_bytes": "bytes",
    "engine.describe_s": "s", "engine.describe_jobs": "count",
    "engine.llm_s": "s", "engine.prompt_chars": "count", "engine.guard_s": "s",
    "engine.answer_s": "s", "engine.ask_self_s": "s",
}


def _key(s):
    return (s["op"], s["kind"])


def job_mismatches(samples):
    """Operations whose Spark job count differs between iterations."""
    seen = {}
    for s in samples:
        if s["error"] is None and s.get("jobs") is not None:
            seen.setdefault(_key(s), set()).add(s["jobs"])
    return {k: sorted(v) for k, v in seen.items() if len(v) > 1}


def tracing_overhead(samples):
    """How much slower an operation runs traced than untraced, from the
    operations measured both ways: the geometric mean of their traced over
    untraced latency, minus one. The later run of a pair is warmer, so the
    operations are split by which side ran first and the two groups weigh
    the same, which cancels that advantage. The first pass runs colder than
    later ones, so it is left out when there are later passes."""
    if any(s["pass"] > 0 for s in samples):
        samples = [s for s in samples if s["pass"] > 0]
    by = {}
    for i, s in enumerate(samples):
        if s["error"] is None:
            by.setdefault(_key(s), {}).setdefault(s["traced"], []).append(
                (i, s["latency_s"]))
    groups = {True: [], False: []}
    for v in by.values():
        if True in v and False in v:
            t, u = (statistics.mean(l for _, l in v[k]) for k in (True, False))
            first = statistics.mean(i for i, _ in v[True]) < \
                statistics.mean(i for i, _ in v[False])
            groups[first].append(math.log(t / u))
    means = [statistics.mean(g) for g in groups.values() if g]
    return math.exp(statistics.mean(means)) - 1 if means else None


def per_layer(result):
    """The traced run's per-layer metrics, from the measured window; a layer
    the workload does not exercise reads 0."""
    samples = measured(result)
    traced = [s for s in samples if s["traced"] and s["error"] is None
              and "wall_s" in s]
    m = {}
    for name, unit in MEAN_FIELDS.items():
        src = "jobs" if name == "exec.jobs" else name
        vals = [s[src] for s in traced if src in s]
        m[name] = (statistics.mean(vals) if vals else 0.0, unit)
    wall = sum(s["wall_s"] for s in traced)
    run = sum(s.get("exec.run_s", 0.0) for s in traced)
    m["exec.core_util"] = (run / (wall * result["nproc"]) if wall else 0.0, "ratio")
    asks = [s for s in samples if s["kind"] in ("miss", "hit")]
    n = len(asks)
    m["engine.llm_calls"] = (sum(s["llm_calls"] for s in asks) / n if n else 0.0, "count")
    m["engine.cache_hit_ratio"] = (
        sum(1 for s in asks if s["llm_calls"] == 0) / n if n else 0.0, "ratio")
    m["engine.retries"] = (
        sum(s["attempts"] or 0 for s in asks) / n if n else 0.0, "count")
    jobs = [s["jobs"] for s in asks if s.get("jobs") is not None]
    m["engine.jobs_per_ask"] = (statistics.mean(jobs) if jobs else 0.0, "count")
    ok = [s for s in samples if s["error"] is None]
    m["trace.ops_per_s"] = (len(ok) / result["window_s"], "1/s")
    overhead = tracing_overhead(samples)
    m["trace.overhead"] = (overhead if overhead is not None else 0.0, "ratio")
    return m
