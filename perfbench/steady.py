#!/usr/bin/env python3
"""Steadiness check: run each workload N times, one seed per run, and
print for every metric its median, quartiles and spread against its
bound.

    python3 perfbench/steady.py --runs 10 [--workloads sql_warm,corpus_cold]
                                [--first-seed 1] [--trace]

Spread is (Q3 - Q1) / median, with quartiles as Python's
`statistics.quantiles(values, n=4)` gives them. An end-to-end metric is
steady when its spread is within its bound in BENCHMARK.json; the
benchmark is tuned to keep it under a third of the
bound. Figures of the detail line that are not in every workload
(op_tail_ms, freshness_s) are printed against DETAIL_BOUNDS. With
--trace, each seed also gets a traced run, and the tracing overhead
(traced minus untraced wall time) is printed per workload. Runs go
one at a time, from the root of the checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DETAIL_BOUNDS = {"op_tail_ms": 0.25, "freshness_s": 0.25}


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr)
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(name, values, bound, unit):
    med, q1, q3, s = spread(values)
    verdict = "ok" if s <= bound / 3 else "within bound" if s <= bound else "TOO WIDE"
    print(f"  {name:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {s:8.3f} {bound:6.2f}  {unit:6s} {verdict}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    for w in names:
        rows, details, traced = [], [], []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            d, r = run(w, seed, bench["run_seconds"], 0)
            if r["failed"] or not r["correct"]:
                print(f"{w} seed {seed}: {r['failed']} failed; {d.get('failures')}")
            rows.append(r)
            details.append(d)
            if a.trace:
                traced.append(run(w, seed, bench["run_seconds"], 1)[1])
        print(f"{w}: {len(rows)} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}")
        print(f"  {'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rows]
            report(m["name"], vals, m["bound"], m["unit"])
        for k, bound in DETAIL_BOUNDS.items():
            vals = [d[k] for d in details if d.get(k) is not None]
            if len(vals) == len(details):
                report(k, vals, bound, "")
        print(f"  failed_frac max {max(d['failed_frac'] for d in details)}")
        if traced:
            t = statistics.median(r["metrics"]["trace.wall_s"]["value"] for r in traced)
            u = statistics.median(r["metrics"]["wall_s"]["value"] for r in rows)
            print(f"  tracing overhead: traced wall {t:.3f} s - untraced {u:.3f} s "
                  f"= {t - u:+.3f} s ({(t - u) / u:+.1%})")


if __name__ == "__main__":
    main()
