"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload sweep-cold --seeds 1-10

runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints, per end-to-end metric, the median, the
distance between the first and third quartile as a share of the median,
and that share against the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    results = []
    for seed in args.seeds:
        results.append(run_once(args.workload, seed, spec["run_seconds"]))
        print(f"seed {seed}: {json.dumps(results[-1])}", flush=True)
    print(f"{len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        spread = stats.quartile_spread(values)
        print(f"  {m['name']:12s} median {statistics.median(values):12.4f} "
              f"{m['unit']:8s} spread {spread:.4f} "
              f"({spread / m['bound']:.2f} of bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
