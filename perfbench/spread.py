"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints, per end-to-end metric, the median, the
quartile distance as a share of the median, and the metric's bound.
Raw results are appended to ``.perfbench_work/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    os.makedirs(".perfbench_work", exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        out = json.loads(lines[-1])
        with open(os.path.join(".perfbench_work", "spread.jsonl"), "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, **out}) + "\n")
        for name in values:
            values[name].append(out["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4)
        print(f"{m['name']:32s} median={med:.4g} spread={(q[2] - q[0]) / med:.3f} "
              f"bound={m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
