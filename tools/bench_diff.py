#!/usr/bin/env python3
"""Compare two Bench outputs PER-QUERY (totals vary with host load; the
round-3 "regression" was invisible per-query and huge in totals).

Usage: python3 tools/bench_diff.py old.json new.json [ratio_threshold]

Accepts either the raw one-line {"metric":...} Bench output or a driver
BENCH_r*.json wrapper (whose "tail" holds a suffix of that line).

Contention filtering: when a file carries "canary_before" (each query's
immediately-preceding load-canary time), queries whose canary exceeded
3x the run's canary minimum are excluded from the comparison — those
rows were timed next to a host-load spike and read as fake regressions
(the r8 driver artifact: 212 s for a 1.2 s query, canary at 12.5 s).
"""
import json
import os
import re
import sys

SPIKE_RATIO = 3.0
# a flagged ratio is "within noise" when it stays inside 1 + NOISE_SIGMA*CV
# of the query's measured clean-to-clean coefficient of variation
NOISE_SIGMA = 3.0


def load_cv():
    """Per-query clean-run CV table (VARIANCE.json, committed by the
    round-11 variance audit: N clean Bench runs of the slow/iterative
    subset). Keyed lookups let the diff separate 'moved beyond measured
    noise' from 'within the band two equally clean runs already span' —
    without it every AQE-replan wobble on the iterative family reads as
    a regression (r10 verdict: q_dedup_clusters 3.2s vs 6.2s across two
    CLEAN runs)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "..", "VARIANCE.json")
    try:
        with open(path) as f:
            return {q: v["cv"] for q, v in json.load(f)["qids"].items()}
    except (OSError, json.JSONDecodeError, KeyError):
        return {}


def load(path):
    """Returns (queries, canary_before, spike_threshold) — the latter two
    may be empty/None for pre-r9 artifacts. Prefers the artifact's own
    "spike_threshold" (3x the MAIN-pass canary min — the same basis the
    in-process heal flagging used); falls back to 3x load_canary.min for
    older artifacts. The fallback is best-effort: pre-heal artifacts had
    no heal samples in the series, but the r10 healed generation that
    predates the explicit field (healed>0, no spike_threshold) computed
    its min over main+heal samples, so a post-quiet heal retry can shrink
    the fallback threshold below the main-pass basis and conservatively
    exclude a few extra rows — acceptable for a diff tool, and the reason
    the field exists going forward."""
    raw = open(path).read()
    d = None
    try:
        d = json.loads(raw)
        if "queries" not in d:
            raw = d.get("tail", "")
            d = None
    except json.JSONDecodeError:
        d = None
    if d is not None:
        queries = d["queries"]
        cb = d.get("canary_before", {})
        lc = d.get("load_canary", {})
        thr = lc.get("spike_threshold")
        if thr is None and lc.get("min"):
            thr = SPIKE_RATIO * lc["min"]
    else:
        # truncated tail. Since r12 the line ENDS with a complete ~300-char
        # "summary" object carrying the verdict plus a 16-hex sha256 prefix
        # of the exact `"queries":{...}` text — if a committed full artifact
        # (BENCH_FULL.json next to this file or in the repo root) hashes to
        # the same digest, it IS this run: load the complete map from it.
        full = recover_from_summary(raw, path)
        if full is not None:
            return full
        # pre-r12 tail (no summary): regex out whatever survived.
        # canary_before and queries share the "qid":sec shape, so take the
        # LAST occurrence per qid (queries prints last / closest to the
        # kept tail).
        queries = {m.group(1): float(m.group(2))
                   for m in re.finditer(r'"(q_\w+)":([0-9.]+)', raw)}
        cb, thr = {}, None
    # a failed row carries "error" instead of a time
    queries = {q: t for q, t in queries.items() if isinstance(t, (int, float))}
    return queries, cb, thr


def recover_from_summary(raw, path):
    """Parse the line-ending summary object out of a truncated tail; on a
    digest match against a sibling/repo BENCH_FULL.json, return that full
    artifact's (queries, canary_before, spike_threshold). With a summary
    but no matching full artifact, fall back to the summary's own
    spike_threshold with whatever query rows the tail kept."""
    idx = raw.rfind('"summary":')
    if idx < 0:
        return None
    s = raw[idx + len('"summary":'):].strip()
    if s.endswith("}}"):  # drop the line's outer closing brace
        s = s[:-1]
    try:
        summary = json.loads(s)
    except json.JSONDecodeError:
        return None
    want = summary.get("queries_sha256_16")
    here = os.path.dirname(os.path.abspath(path))
    repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    for cand in (os.path.join(here, summary.get("full_path", "")),
                 os.path.join(repo, summary.get("full_path", ""))):
        try:
            fraw = open(cand).read()
        except OSError:
            continue
        m = re.search(r'"queries":(\{[^{}]*\})', fraw)
        if not m or not want:
            continue
        import hashlib
        got = hashlib.sha256(m.group(1).encode()).hexdigest()[:16]
        if got == want:
            print(f"[{os.path.basename(path)}] truncated tail: digest "
                  f"{want} matches {cand} — using its full map")
            d = json.loads(fraw)
            lc = d.get("load_canary", {})
            thr = lc.get("spike_threshold")
            if thr is None and lc.get("min"):
                thr = SPIKE_RATIO * lc["min"]
            queries = {q: t for q, t in d["queries"].items()
                       if isinstance(t, (int, float))}
            return queries, d.get("canary_before", {}), thr
    # summary survived but no authenticated full artifact: keep the tail's
    # rows and at least the true threshold (no canary_before -> no
    # per-row exclusion, same as the pre-r12 fallback)
    queries = {m.group(1): float(m.group(2))
               for m in re.finditer(r'"(q_\w+)":([0-9.]+)', raw[:idx])}
    return queries, {}, summary.get("spike_threshold")


def spiked_qids(cb, thr):
    if not cb or not thr or thr <= 0:
        return set()
    return {q for q, c in cb.items() if c > thr}


def main():
    old, old_cb, old_thr = load(sys.argv[1])
    new, new_cb, new_thr = load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    spiked = spiked_qids(old_cb, old_thr) | spiked_qids(new_cb, new_thr)
    if spiked:
        print(f"excluded {len(spiked)} queries timed next to a canary "
              f"spike (> {SPIKE_RATIO}x main-pass canary min): "
              + " ".join(sorted(spiked)))
    common = sorted((set(old) & set(new)) - spiked)
    print(f"{len(common)} common queries; overlap sum "
          f"{sum(old[q] for q in common):.1f}s -> "
          f"{sum(new[q] for q in common):.1f}s")
    only_old, only_new = set(old) - set(new), set(new) - set(old)
    if only_old:
        print("dropped:", " ".join(sorted(only_old)))
    if only_new:
        print("added:  ", " ".join(sorted(only_new)))
    flagged = [(new[q] / old[q], q) for q in common
               if new[q] > old[q] * thr and new[q] > 0.3]
    cv = load_cv()
    beyond = [(r, q) for r, q in flagged
              if r > 1 + NOISE_SIGMA * cv.get(q, 0.0)]
    within = [(r, q) for r, q in flagged
              if r <= 1 + NOISE_SIGMA * cv.get(q, 0.0)]
    if beyond:
        print(f"regressed beyond x{thr} AND beyond measured clean-run "
              f"noise (1 + {NOISE_SIGMA}*CV):")
        for r, q in sorted(beyond, reverse=True):
            band = 1 + NOISE_SIGMA * cv.get(q, 0.0)
            print(f"  {q:30s} {old[q]:7.2f}s -> {new[q]:7.2f}s  x{r:.1f}"
                  f"  (noise band x{band:.2f})")
    if within:
        print(f"moved beyond x{thr} but WITHIN the clean-to-clean noise "
              "band for that query (VARIANCE.json) — not claimable as a "
              "regression:")
        for r, q in sorted(within, reverse=True):
            band = 1 + NOISE_SIGMA * cv.get(q, 0.0)
            print(f"  {q:30s} {old[q]:7.2f}s -> {new[q]:7.2f}s  x{r:.1f}"
                  f"  (noise band x{band:.2f})")
    if not flagged:
        print(f"no query regressed beyond x{thr} (ignoring <0.3s)")
    if not cv:
        print("(no VARIANCE.json CV table found — noise split skipped)")


if __name__ == "__main__":
    main()
