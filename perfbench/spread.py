#!/usr/bin/env python3
"""Run a workload once per seed and report each end-to-end metric's
spread: the distance between the first and third quartile of its values
(statistics.quantiles, n=4) as a share of their median, next to the
bound BENCHMARK.json gives it.

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    first, last = (int(x) for x in args.seeds.split("-"))
    values = {}
    for seed in range(first, last + 1):
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=REPO, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if out.returncode != 0 or result is None or not result["correct"]:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stdout[-3000:]}{out.stderr[-3000:]}")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        note = f"bound {b}, spread/bound {spread / b:.2f}" if b else ""
        print(f"{k}: median {med:.6g} spread {spread:.4f} {note}")


if __name__ == "__main__":
    main()
