#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload olap --seeds 1 2 3 4 5

Runs ``run.py`` once per seed (untraced, BENCHMARK.json's run_seconds) and
prints, for each end-to-end metric, the median of the runs and the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of that median, beside the metric's bound. ``--from`` re-reads the
result lines of earlier runs instead (one file per run, last line JSON).
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


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seeds", type=int, nargs="*", default=[])
    p.add_argument("--from", dest="files", nargs="*", default=[])
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    results = []
    for path in args.files:
        with open(path) as f:
            results.append(json.loads(f.read().strip().splitlines()[-1]))
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    print(f"{len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        print(f"  {m['name']:<20} median {med:10.4f} {m['unit']:<3} "
              f"spread {(q3 - q1) / med:6.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
