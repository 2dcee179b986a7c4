#!/usr/bin/env python3
"""Paired, interleaved A/B of two checkouts on one workload.

    git archive <parent> | tar -x -C /tmp/a     # or any two source trees
    git archive <change> | tar -x -C /tmp/b
    python3 fitsbench/ab.py --a /tmp/a --b /tmp/b --workload catalog_scan --pairs 10

Both checkouts run the benchmark code of THIS directory (copied into each),
so only the connector differs. Pair k uses seed seed0 + k for both sides
and alternates which side runs first. Prints, per end-to-end metric, each
side's median and quartiles, the share of pairs the change (b) won, and
whether the difference of medians exceeds the parent's own quartile spread.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def run(tree, args, seed, seconds):
    cmd = [sys.executable, "fitsbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{tree}: run failed with {proc.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"{tree}: wrong answers at seed {seed}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="parent checkout")
    ap.add_argument("--b", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=5000)
    args = ap.parse_args()
    trees = [Path(args.a).resolve(), Path(args.b).resolve()]
    for t in trees:
        if t / "fitsbench" != BENCH:
            shutil.rmtree(t / "fitsbench", ignore_errors=True)
            shutil.copytree(BENCH, t / "fitsbench", ignore=shutil.ignore_patterns("target"))

    a, b = [], []
    for k in range(args.pairs):
        order = [0, 1] if k % 2 == 0 else [1, 0]
        got = {}
        for side in order:
            got[side] = run(trees[side], args, args.seed0 + k, spec["run_seconds"])
        a.append(got[0])
        b.append(got[1])
        print(f"pair {k}: done", file=sys.stderr)

    report = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        va, vb = [r[name] for r in a], [r[name] for r in b]
        qa, qb = statistics.quantiles(va, n=4), statistics.quantiles(vb, n=4)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(va, vb))
        report[name] = {
            "a_median": qa[1], "a_q1_q3": [qa[0], qa[2]],
            "b_median": qb[1], "b_q1_q3": [qb[0], qb[2]],
            "b_win_frac": wins / len(va),
            "gain_claimable": wins >= 0.9 * len(va) and abs(qb[1] - qa[1]) > (qa[2] - qa[0]),
        }
    print(json.dumps({"workload": args.workload, "pairs": args.pairs, "metrics": report}, indent=1))


if __name__ == "__main__":
    main()
