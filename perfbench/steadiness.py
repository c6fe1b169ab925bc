#!/usr/bin/env python3
"""Runs the benchmark several times per workload, one seed each, and
records every metric's median, quartiles and spread (the distance between
the quartiles as a share of the median), and for traced runs whether each
per-layer count repeats exactly across seeds.

    python3 perfbench/steadiness.py --runs 10 [--trace 0|1] [--out FILE] [WORKLOAD ...]
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the record as JSON here")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    record = {"runs": args.runs, "trace": args.trace, "seconds": bench["run_seconds"],
              "workloads": {}}
    for name in names:
        values, runs = {}, []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.time()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or len(lines) < 2:
                sys.exit(f"{name} seed {seed} failed:\n{out.stderr[-2000:]}")
            summary, result = json.loads(lines[-2]), json.loads(lines[-1])
            runs.append({"seed": seed, "correct": result["correct"],
                         "attempted": result["attempted"], "failed": result["failed"],
                         "wall_s": round(wall, 1), "summary": summary})
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            shown = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(name, seed, f"{wall:.0f}s", json.dumps(shown), flush=True)
        stats = {}
        for k, xs in values.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            st = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else None,
                  "exact_repeat": len(set(xs)) == 1, "values": xs}
            if bounds.get(k) is not None:
                st["bound"] = bounds[k]
            stats[k] = st
        record["workloads"][name] = {"metrics": stats, "runs": runs}
        for k, st in stats.items():
            sp = "n/a" if st["spread"] is None else f"{st['spread']:.4f}"
            print(f"  {name} {k}: median {st['median']:.4f} q1 {st['q1']:.4f} "
                  f"q3 {st['q3']:.4f} spread {sp}"
                  + (f" bound {st['bound']}" if "bound" in st else "")
                  + (" exact" if st["exact_repeat"] else ""), flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
