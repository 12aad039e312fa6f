"""Alternating A/B pairs of the kgbench benchmark between two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload fused_crawl \
        --seeds 921-930 [--seconds 3]

Each seed is one pair: ``kgbench/run.py --seconds S --trace 0`` runs once in
each checkout, one run at a time, and the side that goes first flips on
every pair. For each end-to-end metric of the parent's BENCHMARK.json it
prints the pair count, each side's median and quartiles, how many pairs the
change won (ties count for neither), the median's change and the parent's
interquartile range. A run that is not ``correct`` is reported as FAILED and
left out of its pair. Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    cmd = [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False}
    return result if proc.returncode == 0 and result.get("correct") else None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 921-930 or 921,925")
    p.add_argument("--seconds", type=float, default=3.0)
    args = p.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    pairs, failures = [], 0
    for i, seed in enumerate(seed_list(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(getattr(args, side), args.workload, seed, args.seconds)
            if got[side] is None:
                failures += 1
                print(f"FAILED {side} seed={seed}", flush=True)
        if got["parent"] and got["change"]:
            pairs.append({s: {k: v["value"] for k, v in got[s]["metrics"].items()} for s in got})
            print(f"pair seed={seed} first={order[0]} " + json.dumps(pairs[-1]), flush=True)

    print(f"\n{args.workload}: {len(pairs)} pairs, {failures} failed runs")
    if not pairs:
        return 1
    print("| metric | pairs | parent median (q1–q3) | change median (q1–q3) "
          "| change wins | Δ median | parent IQR |")
    for name, direction in better.items():
        par = [pr["parent"][name] for pr in pairs]
        chg = [pr["change"][name] for pr in pairs]
        sign = 1 if direction == "higher" else -1
        wins = sum(sign * (c - q) > 0 for c, q in zip(chg, par))
        pq, cq = quartiles(par), quartiles(chg)
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
        print(f"| {name} | {len(pairs)} | {pq[1]:.4g} ({pq[0]:.4g}–{pq[2]:.4g}) "
              f"| {cq[1]:.4g} ({cq[0]:.4g}–{cq[2]:.4g}) | {wins}/{len(pairs)} "
              f"| {delta:+.1f}% | {pq[2] - pq[0]:.4g} |")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
