"""Steadiness check: run each workload repeatedly on one tree and report
every end-to-end metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --out .perfbench/steady-a.json
    python3 perfbench/steady.py --runs 10 --compare .perfbench/steady-a.json

Each run uses its own seed (``--seed0``, ``--seed0 + 1``, ...). The spread
of a metric is the distance between the first and third quartile of its
values (``statistics.quantiles(values, n=4)``) as a share of their median.
A metric is steady when its spread is within its bound; the target is a
third of the bound. ``setup_s`` is reported but not held to its bound,
since it is one sample per run. With ``--compare``, each metric's median
is also compared with the median saved by an earlier invocation, and any
that got worse by more than its bound is flagged.

Exits 1 if a run fails, a spread exceeds its bound or a median comparison
fails; 0 otherwise.
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


def run_once(workload: str, seed: int, seconds: int, spec: dict) -> dict | None:
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    if not result["correct"]:
        print(f"  seed {seed}: {result['failed']}/{result['attempted']} failed", file=sys.stderr)
        return None
    return result


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first``."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", help="save the medians and values here")
    ap.add_argument("--compare", help="medians saved by an earlier --out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    earlier = {}
    if args.compare:
        with open(args.compare) as f:
            earlier = json.load(f)

    ok, saved = True, {}
    for wl in workloads:
        values: dict[str, list[float]] = {m: [] for m in metrics}
        for i in range(args.runs):
            t0 = time.monotonic()
            result = run_once(wl, args.seed0 + i, seconds, spec)
            elapsed = time.monotonic() - t0
            if result is None:
                ok = False
                continue
            for m in metrics:
                values[m].append(result["metrics"][m]["value"])
            print(f"  {wl} seed {args.seed0 + i} ({elapsed:.0f} s): " + ", ".join(
                f"{m}={result['metrics'][m]['value']:.4g}" for m in metrics), flush=True)
        saved[wl] = {}
        print(f"{wl}: {len(values['setup_s'])} runs")
        for m, spec_m in metrics.items():
            vals = values[m]
            if len(vals) < 2:
                continue
            q1, _q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med
            bound = spec_m["bound"]
            held = m == "setup_s" or spread <= bound
            note = "ok" if spread <= bound / 3 else ("within bound" if held else "TOO WIDE")
            line = (f"  {m:32s} median {med:12.5g} {spec_m['unit']:7s} "
                    f"spread {spread:6.1%} bound {bound:.0%} {note}")
            if m in earlier.get(wl, {}):
                w = worse_by(earlier[wl][m]["median"], med, spec_m["better"])
                line += f" | vs earlier {w:+.1%}" + (" WORSE" if w > bound else "")
                ok = ok and w <= bound
            print(line)
            ok = ok and held
            saved[wl][m] = {"median": med, "spread": spread, "values": vals}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(saved, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
