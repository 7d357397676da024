"""Steadiness check: run each workload as repeated runs, in sets, on the
same commit, and print every end-to-end metric's median and quartiles
per set against its bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workload NAME ...] [--runs 10] [--sets 2] [--seed-base 1]
    python3 perfbench/steady.py --trace-overhead [--runs 3]

Every run is the benchmark command itself (run.py) with its own seed.
A metric is steady when, in every set, the distance between its first
and third quartile is within its bound as a share of the median, and
every later set's median differs from the first set's by no more than
the bound, in either direction. The share of failed operations must be
the same in every set. The runs are saved to .perfbench/steady.json.

`--trace-overhead` runs each seed untraced and traced and reports how
much longer the median operation takes with spans on.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["alb_ingest", "corpus_dedup", "vector_search", "stream_dedup"]
LOG = ROOT / ".perfbench" / "steady.log"


def run_once(workload: str, seed: int, trace: int = 0) -> dict:
    """One benchmark run; its standard error is appended to .perfbench/steady.log."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed), "--trace", str(trace)]
    LOG.parent.mkdir(parents=True, exist_ok=True)
    t = time.monotonic()
    with open(LOG, "a") as log:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
    wall = time.monotonic() - t
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(results: dict, spec: dict) -> bool:
    ok = True
    for w, sets in results.items():
        print(f"\n== {w}")
        shares = [sum(r["failed"] for r in s) / max(1, sum(r["attempted"] for r in s)) for s in sets]
        same = len(set(shares)) == 1
        ok &= same and all(r["correct"] for s in sets for r in s)
        print(f"   failed share per set: {shares}  correct: {all(r['correct'] for s in sets for r in s)}"
              f"  wall per run: {statistics.median(r['wall_s'] for s in sets for r in s):.1f} s")
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds = []
            for k, s in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in s]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                flag = "" if spread <= bound else "  SPREAD>BOUND"
                ok &= spread <= bound
                print(f"   {name:15s} set {k}: median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}"
                      f"  spread {spread:6.3f} (bound {bound}, third {bound / 3:.3f}){flag}")
            for k, med in enumerate(meds[1:], 1):
                shift = (med - meds[0]) / meds[0]
                flag = "  SHIFT>BOUND" if abs(shift) > bound else ""
                ok &= abs(shift) <= bound
                worse = "worse" if (shift > 0) == lower else "better"
                print(f"   {name:15s} set {k} vs set 0: {shift:+.3f} ({worse}; bound {bound}){flag}")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", nargs="*", default=WORKLOADS, choices=WORKLOADS)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    if args.trace_overhead:
        for w in args.workload:
            ratios = []
            for r in range(args.runs):
                seed = args.seed_base + r
                off = run_once(w, seed, 0)["metrics"]["latency_p50_s"]["value"]
                on = run_once(w, seed, 1)["metrics"]["trace.latency_p50_s"]["value"]
                ratios.append(on / off - 1)
                print(f"{w} seed {seed}: untraced p50 {off:.3f} s, traced p50 {on:.3f} s", flush=True)
            print(f"{w}: median tracing overhead {100 * statistics.median(ratios):+.1f}% of operation latency")
        return 0

    results = {w: [[] for _ in range(args.sets)] for w in args.workload}
    for s in range(args.sets):
        for r in range(args.runs):
            seed = args.seed_base + s * args.runs + r
            for w in args.workload:
                out = run_once(w, seed)
                results[w][s].append(out)
                vals = "  ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
                print(f"set {s} run {r} {w} seed {seed}: {vals}  ({out['wall_s']:.1f} s)", flush=True)
    (LOG.parent / "steady.json").write_text(json.dumps(results))
    return 0 if report(results, spec) else 1


if __name__ == "__main__":
    sys.exit(main())
