"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload bdt_query --seed 1 --seconds 15 --trace 0

Builds the program if needed, generates the workload's inputs from the
seed, runs the harness JVM (set-up, warm-up, then a timed window of
`--seconds`), checks the outputs against the oracles, and prints one JSON
line last: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`), and
exits with 1 if a check failed. The full report of the run is kept in
`.bench_out/<run>/report.json`.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = HERE.parent
OUT = ROOT / ".bench_out"
WORKLOADS = ("bdt_query", "fold_stream", "dedup_batch")
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# C1 only: with the default tiered C2 the JIT kept compiling through every
# timed window (10-30 s of compiler time per window on 4 vCPUs) and per-run
# medians scattered by 0.3, beyond the bounds; under C1 the query mix
# settles within its warm-up. The figures are therefore a C1 JVM's.
# Stopping at C1 also shrinks the default code cache from 240 MB to 48 MB,
# which the folds' generated code fills (about 52 MB after two passes):
# the JVM then flushed and recompiled through every pass, or disabled its
# compiler for the rest of the run. The tiered default size is
# restored. The heap is fixed at 2 GB so that no run resizes it
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-Dspark.ui.enabled=false"] + \
    [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def metric_units():
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (steal is the 8th field)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(a, b):
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it; 0 with
    fewer than 40 samples, where it would be no tail."""
    if len(xs) < 40:
        return 0.0
    return sorted(xs)[len(xs) - 11]


def metrics_of(res):
    """End-to-end metrics and run details from the harness result. Latency
    and throughput are over the ops that did not fail; the wall time counts
    every op."""
    ops = res["ops"]
    done = [o for o in ops if not o["failed"]]
    counted = [o["seconds"] for o in done if o["counted"]]
    if not counted:
        raise SystemExit("no counted op succeeded in the timed window")
    wall = sum(o["seconds"] for o in ops)
    kinds, counted_kinds = {}, set()
    for o in done:
        kinds.setdefault(o["kind"], []).append(o["seconds"])
        if o["counted"]:
            counted_kinds.add(o["kind"])
    # each op kind's median, combined over kinds by geometric mean: a plain
    # median over a mix of kinds jumps between kinds as their order shifts
    p50 = statistics.geometric_mean(statistics.median(kinds[k]) for k in counted_kinds)
    # throughput of each round (every round issues the same ops), median
    # over the rounds: one round slowed by the shared host moves it less
    # than it moves the window's mean
    per_round = len(ops) // len(res["rounds_s"])
    rounds = [ops[k:k + per_round] for k in range(0, len(ops), per_round)]
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "latency_p50_s": p50,
        "ops_per_s": statistics.median(
            sum(o["counted"] and not o["failed"] for o in r) / sum(o["seconds"] for o in r)
            for r in rounds),
        "heap_live_peak_mb": max(res["heap_live_mb"]),
    }
    detail = {
        "ops_attempted": len(ops),
        "ops_failed": len(ops) - len(done),
        "ops_counted": len(counted),
        "timed_wall_s": wall,
        "latency_tail_s": tail(counted),
        "kind_median_s": {k: statistics.median(v) for k, v in kinds.items()},
        "kind_count": {k: len(v) for k, v in kinds.items()},
        "jit_share_of_window": res["jit_s"] / res["timed_elapsed_s"],
    }
    return e2e, detail


def run_jvm(cfg_path, out, args, deadline):
    cmd = ["java"] + JVM_OPTS + ["-cp", build.classpath(), "perfbench.Main",
                                 "--config", str(cfg_path), "--out", str(out),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
    with open(out / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("harness JVM ran past the deadline")
    if rc != 0:
        sys.stderr.write((out / "jvm.log").read_text()[-3000:])
        raise SystemExit(f"harness JVM exited with {rc}")
    with open(out / "result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    build.build()
    out = OUT / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    try:
        t0 = time.time()
        cfg = gen.generate(args.workload, args.seed, str(out / "inputs"))
        t1 = time.time()
        c0 = cpu_times()
        res = run_jvm(out / "inputs" / "config.json", out, args, deadline)
        c1 = cpu_times()
        t2 = time.time()
        fails = oracle.check(cfg, res)
        t3 = time.time()
        e2e, detail = metrics_of(res)
        detail["steal_share"] = steal_share(c0, c1)
        detail["phase_s"] = {"generate": t1 - t0, "jvm": t2 - t1, "check": t3 - t2}
        detail["warmup_rounds_s"] = res["warmup_rounds_s"]
        detail["warmup_jit_s"] = res["warmup_jit_s"]
        detail["setup_s"] = res["setup_s"]
        detail["jvm_start_to_ready_s"] = res["jvm_start_to_ready_s"]
        detail["heap_live_mb"] = res["heap_live_mb"]
        detail["jit_s"] = res["jit_s"]
        detail["harness_phases_s"] = res["phases"]
        end_to_end, per_layer = metric_units()
        if args.trace:
            layers = dict(res["layers"])
            layers["op.latency_tail_s"] = detail["latency_tail_s"]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in per_layer.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "correct": not fails, "failures": fails,
                  "end_to_end": e2e, "detail": detail, "layers": res.get("layers"),
                  "frames": res.get("frames")}
        with open(out / "report.json", "w") as f:
            json.dump(report, f, indent=1)
    finally:
        for d in ["inputs"] + [p.name for p in out.glob("setup*")]:
            shutil.rmtree(out / d, ignore_errors=True)
    for msg in fails[:20]:
        sys.stderr.write(f"check failed: {msg}\n")
    print(json.dumps({"correct": not fails, "attempted": detail["ops_attempted"],
                      "failed": detail["ops_failed"], "metrics": metrics}))
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
