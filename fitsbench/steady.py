#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, for each
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median,
next to the metric's bound in BENCHMARK.json.

    python3 fitsbench/steady.py --runs 10 --out steady.json
    python3 fitsbench/steady.py --workloads catalog_scan --runs 5

Run from the root of a checkout. Each run uses a new seed (seed0 + k).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", help="write the summary JSON here too")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    summary = {}
    for wl in args.workloads.split(","):
        runs = []
        for k in range(args.runs):
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", wl, "--seed",
                   str(args.seed0 + k), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.exit(f"{wl} seed {args.seed0 + k}: run failed ({proc.returncode})")
            runs.append((json.loads(lines[-2])["record"], json.loads(lines[-1])))
            print(f"{wl} seed {args.seed0 + k}: " + ", ".join(
                f"{n}={m['value']:.4g}" for n, m in runs[-1][1]["metrics"].items()), file=sys.stderr)
        rows = {}
        for name in runs[0][1]["metrics"]:
            med, spr = spread([r[1]["metrics"][name]["value"] for r in runs])
            rows[name] = {"median": med, "spread": spr, "bound": bounds.get(name)}
        hosts = [r[0]["host"] for r in runs]
        summary[wl] = {
            "runs": len(runs), "seeds": [args.seed0 + k for k in range(args.runs)],
            "all_correct": all(r[1]["correct"] for r in runs),
            "ops_per_run": [r[0]["ops"] for r in runs],
            "metrics": rows,
            "host_steal_pct_max": max(h["steal_pct"] for h in hosts),
            "host_ext_load_max": max(h["ext_load"] for h in hosts),
        }
        for name, row in rows.items():
            flag = "" if row["spread"] < row["bound"] / 3 else "  <-- over bound/3"
            print(f"{wl:15s} {name:24s} median {row['median']:12.5g} spread {row['spread']:.4f}"
                  f" bound {row['bound']}{flag}")
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")


if __name__ == "__main__":
    main()
