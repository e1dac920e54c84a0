#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ops_light --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the library and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. The harness measures the workload in a JVM
(graftbench.Main), then this script checks the outputs, prints each metric
by name with its unit, and ends with one JSON line:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the spans are written under perfbench/.work/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.json")
SETUPS = 3
RUN_LIMIT_S = 170
# No measured operation starts later than this after JVM start, so even a
# slow operation ends inside RUN_LIMIT_S.
CUTOFF_S = 130

# Module openings Spark needs on JDK 17 when not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile the library and the harness; return the runtime classpath."""
    stamp = hashlib.sha256()
    for f in source_files():
        stamp.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            stamp.update(hashlib.sha256(fh.read()).digest())
    stamp = stamp.hexdigest()
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        # sbt's own temp files stay inside the checkout. Its boot socket
        # would live there too, but a deep checkout makes the socket path
        # longer than a Unix socket allows; forcestart builds without it.
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # The build resolves only from the local dependency caches, also
        # when the caller's environment does not say so.
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=true",
             f"-J-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, stdin=subprocess.DEVNULL,
            env=env, text=True, timeout=840)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def nproc():
    return len(os.sched_getaffinity(0))


def plan_for(args, run_dir, expected):
    plan = {
        "workload": args.workload, "seconds": args.seconds,
        "trace": bool(args.trace), "nproc": nproc(), "data": DATA,
        "work": run_dir, "setups": SETUPS,
        "min_passes": workloads.MIN_PASSES.get(args.workload, 1),
        "warmup_passes": workloads.WARMUP_PASSES.get(args.workload, 0),
        "cutoff_s": CUTOFF_S}
    order = workloads.schedule(args.workload, args.seed)
    if args.workload == "ask":
        qs = {}
        for qid, q in workloads.ASK.items():
            qs[qid] = {"text": q["text"], "first": q["first"], "fix": q.get("fix"),
                       "retries": q.get("retries", 0),
                       "expect": expected["ask"][qid]}
        plan["ask"] = {"tables": workloads.ASK_TABLES, "questions": qs,
                       "passes": order}
    else:
        plan["passes"] = order
        plan["expected"] = {q: expected["ops"][q]
                            for q in workloads.OPS[args.workload]
                            if q in expected["ops"]}
    return plan


def run_jvm(classpath, plan, run_dir, deadline):
    plan_file = os.path.join(run_dir, "plan.json")
    result_file = os.path.join(run_dir, "result.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "graftbench.Main", plan_file, result_file]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; the library's
    # scratch writes follow SPARK_GRAFT_SCRATCH, else java.io.tmpdir.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_GRAFT_SCRATCH", None)
    # The local driver binds to the loopback address by name, so a host
    # whose own name does not resolve can still start a session.
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish in time; see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result_file):
        fail(f"the harness failed (exit {code}); see {log}")
    with open(result_file) as f:
        return json.load(f)


def main():
    # a terminated run unwinds, so the harness JVM it started is stopped too
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not inside a graft checkout: {need} is missing")
    if not os.path.isdir(DATA) or not os.path.exists(EXPECTED):
        fail("benchmark data or expected outputs are missing")
    with open(EXPECTED) as f:
        expected = json.load(f)

    classpath = build()
    started = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        result = run_jvm(classpath, plan_for(args, run_dir, expected), run_dir,
                         started + RUN_LIMIT_S)
        report(args, result)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, result):
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    base = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(base + ".result.json", "w") as f:
        json.dump(result, f)
    samples = result["samples"]
    if not samples:
        fail("no operation completed inside the window")
    failed = [s for s in samples if s["error"] is not None]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"nproc {result['nproc']} window {result['window_s']:.3f} s")
    print("conf " + json.dumps(result["conf"], sort_keys=True))
    print("setup_runs_s " + " ".join(f"{t:.3f}" for t in result["setup_s"]))
    print(f"warmup_passes {result['warmup_passes']}")
    for s in failed:
        print(f"FAILED {s['op']} ({s['kind']}): {s['error']}")
    mismatches = stats.job_mismatches(samples) if args.trace else {}
    for (op, kind), counts in sorted(mismatches.items()):
        print(f"JOBS DIFFER {op} ({kind}): job counts {counts} across iterations")

    if args.trace:
        metrics = stats.per_layer(result)
        shutil.copyfile(result["spans_file"], base + ".spans.jsonl")
        with open(base + ".layers.json", "w") as f:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                      f, indent=1, sort_keys=True)
        print(f"spans {base}.spans.jsonl")
    else:
        metrics, extra = stats.end_to_end(result)
        for k, (v, u) in extra.items():
            print(f"metric {k} {v:.6g} {u}")
    for k, (v, u) in metrics.items():
        print(f"metric {k} {v:.6g} {u}")
    print(json.dumps({
        "correct": not failed and not mismatches,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
