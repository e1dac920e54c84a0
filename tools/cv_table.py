#!/usr/bin/env python3
"""Build VARIANCE.json — the per-query clean-to-clean CV table — from N
independent Bench runs (tools/cv_runs.sh output). Round-11 verdict task 1:
two equally clean r10 runs disagreed ~2x on specific iterative-family rows
with flat canaries, so round-over-round deltas on those rows are noise;
this table measures that noise so bench_diff.py can refuse to claim
regressions inside it.

Usage: python3 tools/cv_table.py /tmp/cv [out.json]

Per run, a query's sample is excluded when its canary_before exceeded the
run's spike_threshold (same exclusion basis as bench_diff.py) — the CV
must measure CLEAN variance, not host-load contamination.
"""
import glob
import json
import math
import statistics
import sys


def main():
    indir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/cv"
    out = sys.argv[2] if len(sys.argv) > 2 else "VARIANCE.json"
    samples = {}  # qid -> [sec, ...]
    runs = []
    for path in sorted(glob.glob(f"{indir}/run_*.json")):
        d = json.loads(open(path).read())
        lc = d.get("load_canary", {})
        # explicit None checks: a null canary min must not TypeError, and
        # an explicit spike_threshold of 0 must be honored, not replaced
        thr = lc.get("spike_threshold")
        if thr is None:
            mn = lc.get("min")
            thr = 3 * mn if mn else None  # no canary data -> no exclusion
        cb = d.get("canary_before", {})
        kept = dropped = 0
        for q, t in d["queries"].items():
            if not isinstance(t, (int, float)):  # a failed row: "error"
                continue
            if thr is not None and cb.get(q, 0) > thr:
                dropped += 1
                continue
            samples.setdefault(q, []).append(t)
            kept += 1
        runs.append({"file": path.split("/")[-1], "total": d["value"],
                     "canary_min": lc.get("min"),
                     "canary_median": lc.get("median"),
                     "contended": lc.get("contended"),
                     "kept": kept, "dropped_spiked": dropped})
    qids = {}
    for q, ts in sorted(samples.items()):
        m = statistics.mean(ts)
        sd = statistics.stdev(ts) if len(ts) > 1 else 0.0
        qids[q] = {"n": len(ts), "mean": round(m, 3),
                   "min": round(min(ts), 3), "max": round(max(ts), 3),
                   "cv": round(sd / m, 4) if m > 0 else 0.0,
                   "times": [round(t, 3) for t in ts]}
    json.dump({"runs": runs, "sigma_note":
               "bench_diff.py treats ratio <= 1 + 3*cv as within noise",
               "qids": qids}, open(out, "w"), indent=1)
    w = max(len(q) for q in qids) if qids else 10
    print(f"{'qid':{w}s} {'n':>2s} {'mean':>7s} {'min':>7s} {'max':>7s} {'cv':>6s}")
    for q, v in sorted(qids.items(), key=lambda kv: -kv[1]["cv"]):
        print(f"{q:{w}s} {v['n']:2d} {v['mean']:7.2f} {v['min']:7.2f} "
              f"{v['max']:7.2f} {v['cv']:6.1%}")
    bad = [q for q, v in qids.items() if v["cv"] >= 0.2]
    print(f"\n{len(bad)} qids with CV >= 20%: {' '.join(sorted(bad))}")
    if any(not math.isfinite(v["cv"]) for v in qids.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
