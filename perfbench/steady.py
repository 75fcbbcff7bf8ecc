"""Steadiness check: run each workload N times, each in a fresh process
with its own seed, and print every end-to-end metric's median, quartiles
and spread (interquartile distance over the median) against its bound in
``BENCHMARK.json``.

    python3 perfbench/steady.py [--runs 10] [--seed0 100] [--workloads a,b]
                                [--trace 0|1]

With ``--trace 1`` the runs are traced and the per-layer metrics are
summarized the same way (they have no bound), so that their medians can
be set against the untraced medians of the same seeds; the median of
each span name in the runs' trace files follows (per query, per index
call).

Works from any working directory; exits 1 if a run fails, prints other
metrics or units than the manifest lists for its mode, reports a wrong
result or a failed operation, reports an end-to-end metric that is not
above 0, or if an end-to-end metric's spread exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}

    ok = True
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        shares, walls = [], []
        spans: dict[str, list[float]] = {}
        for i in range(args.runs):
            seed = args.seed0 + i
            cmd = [
                *bench["command"],
                "--workload", wl,
                "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]),
                "--trace", str(args.trace),
            ]
            t = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            walls.append(time.perf_counter() - t)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != units:
                print(f"{wl} seed {seed}: metrics {got} are not the manifest's {units}")
                ok = False
            ok &= res["correct"] and res["failed"] == 0
            ok &= all(v["value"] > 0 for k, v in res["metrics"].items() if k in bounds)
            shares.append(res["failed"] / res["attempted"])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {walls[-1]:.0f}s {json.dumps(res)}", flush=True)
            if args.trace:
                trace = os.path.join(ROOT, "perfbench", "out", f"trace-{wl}-{seed}.json")
                with open(trace) as f:
                    for span in json.load(f):
                        spans.setdefault(span["name"], []).append(span["seconds"])
        print(f"\n{wl}: wall per run median {statistics.median(walls):.1f}s, "
              f"failed shares {sorted(set(shares))}")
        for k, xs in values.items():
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(k)
            flag = ""
            if bound is not None and spread > bound:
                flag, ok = "  OVER BOUND", False
            print(f"  {k:20s} median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
                  f"spread {spread:.3f}  bound {bound}{flag}")
        if spans:
            print("  spans (median seconds over every call in every run):")
            for name, xs in sorted(spans.items()):
                print(f"    {name:40s} {statistics.median(xs):.4g}  n={len(xs)}")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
