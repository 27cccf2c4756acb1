#!/usr/bin/env python3
"""Self-test of the benchmark: the shortest runs, at table scale 0.001.

    python3 perfbench/selftest.py

Runs every workload once traced and once untraced with ``--seconds 0`` (the
minimum number of passes) and checks that

- every run exits 0, reports ``correct`` and no failed op;
- every metric BENCHMARK.json names is printed, with its unit;
- the ``catalog.load``, ``Estimator.fit`` and ``DataFrameWriter`` wrappers
  record at least one call on a workload that uses them.

Exits non-zero and names what failed otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# wrapper metric -> workloads whose ops call it
WRAPPED = {
    "catalog.load_calls": ("olap", "ml_llm"),
    "ml.fit_calls": ("ml_llm",),
    "sink.write_calls": ("olap", "ml_llm"),
}


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "0", "--trace", str(trace), "--scale", "0.001",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    print(out.stdout, end="")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: correct={res['correct']} "
                                f"failed={res['failed']} attempted={res['attempted']}")
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics/units {got} != {want}")
            if trace:
                for name, users in WRAPPED.items():
                    if w in users and not res["metrics"][name]["value"] > 0:
                        problems.append(f"{w}: {name} recorded no call")
    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
