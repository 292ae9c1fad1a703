"""Repeatability check: runs each workload several times, each with another
seed, and prints every end-to-end metric's median, quartiles and spread
(distance between the quartiles as a share of the median) against the
bound in BENCHMARK.json.

    python3 perfbench/repeat.py --runs 10                 # all workloads
    python3 perfbench/repeat.py --runs 5 --workloads fold_stream --seed0 101
    python3 perfbench/repeat.py --compare a.json b.json   # two saved sets

A spread within a third of the bound is marked `steady`, within the bound
`ok`, beyond it `WIDE`. The collected figures are saved to
`.bench_out/repeat-<time>.json`; `--compare` checks that the second set's
medians are not worse than the first's by more than each bound.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def one_run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    return out


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def report(runs, s):
    for wl, rs in runs.items():
        fails = {(r["failed"], r["attempted"]) for r in rs}
        print(f"\n{wl}: {len(rs)} runs, correct={all(r['correct'] for r in rs)}, "
              f"failed/attempted={sorted(fails)}, run wall median "
              f"{statistics.median(r['wall_s'] for r in rs):.1f} s")
        for m in s["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            q = summary(vals)
            mark = ("steady" if q["spread"] <= m["bound"] / 3 else
                    "ok" if q["spread"] <= m["bound"] else "WIDE")
            print(f"  {m['name']:<20} median {q['median']:<12.5g} q1 {q['q1']:<12.5g} "
                  f"q3 {q['q3']:<12.5g} spread {q['spread']:.3f} bound {m['bound']} {mark}")


def compare(a, b, s):
    for wl in a:
        for m in s["end_to_end"]:
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[wl])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[wl])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            print(f"{wl:<12} {m['name']:<20} {ma:<12.5g} -> {mb:<12.5g} worse by "
                  f"{worse:+.3f} (bound {m['bound']}) {'ok' if worse <= m['bound'] else 'WORSE'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--compare", nargs=2, metavar="SET")
    args = ap.parse_args()
    s = spec()
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        compare(a, b, s)
        return
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    runs = {}
    for wl in names:
        runs[wl] = []
        for i in range(args.runs):
            r = one_run(wl, args.seed0 + i, s["run_seconds"])
            print(f"{wl} seed {args.seed0 + i}: {r['wall_s']:.1f} s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            runs[wl].append(r)
    out = ROOT / ".bench_out" / f"repeat-{time.strftime('%Y%m%d-%H%M%S')}.json"
    out.parent.mkdir(exist_ok=True)
    with open(out, "w") as f:
        json.dump(runs, f, indent=1)
    report(runs, s)
    print(f"\nsaved {out}")


if __name__ == "__main__":
    main()
