#!/usr/bin/env python3
"""Steadiness check: repeated sets of benchmark runs on one commit.

    python3 perfbench/steady.py

Runs every workload of BENCHMARK.json once per seed 1..10, in two sets,
with the run length from BENCHMARK.json. For each set, workload and
end-to-end metric it prints the median and the quartile spread (Q3 - Q1,
as a share of the median, from statistics.quantiles(n=4)) against the
metric's bound; for the second set it also prints how far the median moved
from the first set's, in the metric's worse direction. Spreads above a third of the bound are flagged:
the benchmark should stay well inside its own bounds. Exits non-zero when
a spread or a moved median exceeds its bound or an operation failed. Raw
results go to .bench_build/steady-<time>.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
SEEDS = range(1, 11)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode})")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    results = {}  # (set, workload) -> [result]
    for s in range(SETS):
        for seed in SEEDS:
            for w in workloads:
                t0 = time.time()
                r = run(w, seed, bench["run_seconds"])
                results.setdefault((s, w), []).append(r)
                print(f"set {s + 1} {w} seed {seed}: {time.time() - t0:.0f} s wall, "
                      f"correct={r['correct']} failed={r['failed']}/{r['attempted']}", flush=True)
    print(f"\n{'set':>3} {'workload':<8} {'metric':<10} {'median':>12} {'spread':>8} "
          f"{'bound':>6} {'moved':>8}  verdict")
    ok = True
    for s in range(SETS):
        for w in workloads:
            for m in metrics:
                vals = [r["metrics"][m["name"]]["value"] for r in results[(s, w)]]
                med, sp = statistics.median(vals), spread(vals)
                sign = 1 if m["better"] == "lower" else -1
                first = statistics.median(
                    r["metrics"][m["name"]]["value"] for r in results[(0, w)])
                moved = sign * (med - first) / first
                verdict = []
                if sp > m["bound"]:
                    verdict.append("SPREAD OVER BOUND")
                elif sp > m["bound"] / 3:
                    verdict.append("spread over bound/3")
                if s > 0 and moved > m["bound"]:
                    verdict.append("MEDIAN MOVED OVER BOUND")
                ok &= not any(v.isupper() for v in verdict)
                print(f"{s + 1:>3} {w:<8} {m['name']:<10} {med:>12.4f} {sp:>8.3f} "
                      f"{m['bound']:>6.2f} {moved:>8.3f}  {', '.join(verdict) or 'ok'}")
    failed = sum(r["failed"] for rs in results.values() for r in rs)
    print(f"\nfailed operations over all runs: {failed}")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_build", f"steady-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump({f"{s + 1}/{w}": rs for (s, w), rs in results.items()}, f)
    print(f"raw results: {out}")
    sys.exit(0 if ok and failed == 0 else 1)


if __name__ == "__main__":
    main()
