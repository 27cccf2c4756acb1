"""Plan fingerprint of every registered key, to show a refactor changes no
key's behaviour.

A key's fingerprint is the sha256 of its optimized logical plan on the
smoke tables (``__spark_entry__.SMOKE_SF_DIR``, sf0.001), with ``MASKS``
and ``stage_dir`` paths masked. Run it on a checkout of the parent commit
and on the change, then diff the two files: every key must match. Some
plans still differ between two runs of the same commit, so run each side
a few times and report such keys on their own.

Usage:
  python scripts/plan_fingerprints.py OUT.json [--repo DIR] [--modules m1,m2]
  python scripts/plan_fingerprints.py --diff A.json B.json

``--repo`` imports the package from another checkout (default: this one);
``--modules`` keeps only keys registered in those ``operators`` modules.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

OPS = "classification_problem_with_pyspark_spark.operators."
# Parts of a plan that carry no behaviour and change between runs or with
# unrelated code: expression IDs, MLlib stage uids
# (``VectorAssembler_cc54bab60066``), JVM lambda identities
# (``ALSModel$$Lambda$5127/0x00007f92d14b97e0@14692e6b``) and the variables
# of Python lambdas in higher-order functions (``lambda x_20``), which a
# JVM-wide counter numbers, so they shift whenever an earlier key builds
# one more or one fewer.
MASKS = [
    (r"#\d+", "#"),
    (r"(?<=_)[0-9a-f]{12}\b", "<uid>"),
    (r"\$\$Lambda\S*@[0-9a-f]+", "$$Lambda"),
    (r"(?<=lambda [xyz]_)\d+", "<n>"),
]


def fingerprints(modules: set[str]) -> dict[str, dict[str, str]]:
    from __spark_entry__ import SMOKE_SF_DIR
    from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
    from classification_problem_with_pyspark_spark.session import get_spark
    from classification_problem_with_pyspark_spark.sources import catalog

    load_all_modules()
    spark = get_spark(shuffle_partitions=8)
    # The whole staged path: a file scan's Location cuts it ("...") at a
    # fixed width, so any part left unmasked depends on the checkout path.
    stage = re.compile(re.escape(catalog.TMP_DIR) + r"/stage_[^\s,\]]*")
    out = {}
    for name, q in QUERIES.items():
        module = q.fn.__module__.removeprefix(OPS)
        if modules and module not in modules:
            continue
        plan = q.fn(spark, SMOKE_SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        plan = stage.sub("<stage>", plan)
        for pattern, mask in MASKS:
            plan = re.sub(pattern, mask, plan)
        out[name] = {"module": module, "fp": hashlib.sha256(plan.encode()).hexdigest()}
    return out


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    changed = sorted(k for k in a.keys() & b.keys() if a[k]["fp"] != b[k]["fp"])
    only = sorted(a.keys() ^ b.keys())
    print(f"{len(a.keys() & b.keys())} keys compared, {len(changed)} differ, {len(only)} in one file only")
    for k in changed + only:
        print(" ", k)
    return 1 if changed or only else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("out", nargs="?")
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--modules", default="")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)
    if not args.out:
        ap.error("OUT.json or --diff A B is required")
    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    # Python workers (UDFs, data sources) must import the same checkout:
    # older checkouts do not ship their package to workers by value.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    result = fingerprints({m for m in args.modules.split(",") if m})
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"{len(result)} keys -> {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
