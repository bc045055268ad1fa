"""A/A check: two sets of runs of the same code, each metric's spread
against its bound.

    python3 perfbench/aa.py [--runs 10] [--sets 2] [--workload NAME ...] [--trace]

Run from the root of a checkout. For every workload in BENCHMARK.json it
runs ``--sets`` sets of ``--runs`` runs, each with another seed, and
prints per end-to-end metric: each set's median and spread (the distance
between the first and third quartile as a share of the median, by
``statistics.quantiles(values, n=4)``) and how much worse the later
sets' medians read than the first's. A metric fails when a spread
exceeds its bound or a median is worse than the first by more than the
bound; it is marked noisy when a spread exceeds a third of the bound.
With ``--trace``
each run is repeated with ``--trace 1`` on the same seed, and the
tracing overhead (``trace.op_p50_ms`` over ``op_p50_ms``) is printed.
Exits 1 when a run fails or a metric does not pass.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        sys.stderr.write(proc.stderr[-3000:])
        print(f"  {workload} seed {seed}: {result['failed']}/{result['attempted']} failed")
    return result


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` reads than ``first``, as a share of ``first``."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in workloads:
        sets, overhead = [], []
        for s in range(args.sets):
            results = []
            for i in range(args.runs):
                seed = args.seed_base + s * args.runs + i
                r = run_once(spec, wl, seed, 0)
                ok = ok and r["correct"] and not r["failed"]
                results.append(r)
                line = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
                print(f"  {wl} set {s} seed {seed}: {r['attempted']} ops, {line}", flush=True)
                if args.trace:
                    t = run_once(spec, wl, seed, 1)
                    print(f"  {wl} set {s} seed {seed} traced: "
                          + json.dumps({k: v["value"] for k, v in t["metrics"].items()}))
                    traced = t["metrics"]["trace.op_p50_ms"]["value"]
                    overhead.append(traced / r["metrics"]["op_p50_ms"]["value"] - 1)
            sets.append(results)
        print(f"{wl}: {args.sets} sets x {args.runs} runs")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols = [[r["metrics"][name]["value"] for r in res] for res in sets]
            meds = [statistics.median(c) for c in cols]
            spreads = [spread(c) for c in cols]
            drifts = [worse_by(meds[0], x, m["better"]) for x in meds[1:]]
            failed = any(sp > bound for sp in spreads) or any(d > bound for d in drifts)
            noisy = any(sp > bound / 3 for sp in spreads)
            ok = ok and not failed
            print(f"  {name:12s} bound {bound:.2f}  medians "
                  + " ".join(f"{x:.4g}" for x in meds)
                  + "  spreads " + " ".join(f"{x:.3f}" for x in spreads)
                  + "  worse by " + " ".join(f"{x:+.3f}" for x in drifts)
                  + ("  <-- FAIL" if failed else "  (noisy)" if noisy else ""))
        if overhead:
            print(f"  tracing overhead on op_p50_ms: median {statistics.median(overhead):+.3f} "
                  f"(range {min(overhead):+.3f} .. {max(overhead):+.3f})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
