"""Driver-materialization ratchet (VERDICT r4 #4 follow-through).

`.collect()` pulls a DataFrame into driver memory — at 100 TB that is an
OOM unless the collected relation is provably bounded (a ≤25-row dim, a
1-row argmax, a file manifest, an explicit `.limit(n)`). The package's
one fact-sized collect (`source_csv_gzip_roundtrip` staging) was rewritten
to a distributed `repartitionByRange().write` in round 5; this test
freezes the remaining surface as an explicit allowlist. Adding a new
`.collect()` anywhere in the package fails here until it is consciously
allowlisted with its boundedness argument — the greppable invariant is
"no fact-table collect, ever".

(`.toPandas()` and `.toLocalIterator()` are driver materializations too;
they are banned outright — zero current sites.)
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "classification_problem_with_pyspark_spark"

# file → (max allowed .collect() sites, boundedness argument)
COLLECT_ALLOWLIST = {
    "streaming/wrappers.py": (1, "test convenience: memory-sink table of a smoke-SF stream"),
    "operators/sinks.py": (2, "limit(500) malformed-CSV stage; 40-doc binaryFile fixture"),
    "operators/llm_text.py": (1, "limit(1) argmax bigram"),
    "operators/extended54.py": (2, "two 1-row aggregate folds"),
    "operators/extended56.py": (2, "K sequential 1-row farthest-first seed collects"),
    # r12 (VERDICT r11 #8): the 12 former per-file nation/supplier dim
    # entries (extended43/50/53/62/74/77/84/86/88/92/102/107) AND the
    # three manifest-planning entries (extended20/34/111) now route
    # through catalog.bounded_collect — limit(max_rows+1)-capped with a
    # loud overflow error, so the boundedness claim is EXECUTABLE instead
    # of a comment here. One real site + one docstring mention. The
    # remaining direct sites above are structurally bounded by
    # construction (limit(1) / global 1-row aggregates), where a
    # max_rows cap would restate what the plan already enforces.
    "sources/catalog.py": (2, "bounded_collect helper (1 docstring mention)"),
}

_BANNED = re.compile(r"\.toPandas\(\)|\.toLocalIterator\(\)")


def _collect_sites() -> dict[str, int]:
    out: dict[str, int] = {}
    for p in sorted(PKG.rglob("*.py")):
        n = p.read_text().count(".collect()")
        if n:
            out[str(p.relative_to(PKG))] = n
    return out


def test_no_new_driver_collects():
    sites = _collect_sites()
    unknown = {f: n for f, n in sites.items() if f not in COLLECT_ALLOWLIST}
    assert not unknown, (
        f"new .collect() site(s) {unknown} — prove boundedness and allowlist "
        f"here, or keep the data distributed (broadcast/join instead)"
    )
    grown = {
        f: (n, COLLECT_ALLOWLIST[f][0])
        for f, n in sites.items()
        if n > COLLECT_ALLOWLIST[f][0]
    }
    assert not grown, f"collect count grew beyond allowlist (got, max): {grown}"


def test_no_topandas_or_local_iterator():
    hits = [
        str(p.relative_to(PKG))
        for p in sorted(PKG.rglob("*.py"))
        if _BANNED.search(p.read_text())
    ]
    assert not hits, f"driver materialization via toPandas/toLocalIterator in: {hits}"
