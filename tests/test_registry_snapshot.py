"""Registry snapshot gate: no key is lost, added or changed by a refactor.

``registry_snapshot.json`` maps every registered key to
``[sha256(oracle SQL) or null, fn.__qualname__]``. The qualname leaves
out the module path on purpose, so operators can move between modules
without touching the snapshot. Regenerate it only for a deliberate
contract change, by dumping ``registry_map()`` as sorted, indented JSON.
"""

from __future__ import annotations

import hashlib
import json
import os

from classification_problem_with_pyspark_spark.registry import (
    QUERIES,
    get_oracles,
    get_queries,
    load_all_modules,
)

SNAPSHOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_snapshot.json")


def registry_map() -> dict[str, list[str | None]]:
    load_all_modules()
    return {
        name: [
            None if q.oracle is None else hashlib.sha256(q.oracle.encode()).hexdigest(),
            q.fn.__qualname__,
        ]
        for name, q in QUERIES.items()
    }


def test_registry_matches_snapshot():
    with open(SNAPSHOT) as f:
        expected = json.load(f)
    actual = registry_map()
    lost = sorted(set(expected) - set(actual))
    added = sorted(set(actual) - set(expected))
    changed = sorted(k for k in set(expected) & set(actual) if expected[k] != actual[k])
    assert not (lost or added or changed), {"lost": lost, "added": added, "changed": changed}


def test_load_all_modules_is_idempotent():
    load_all_modules()
    before = dict(QUERIES)
    load_all_modules()  # a second call must not re-register (duplicate-key error)
    assert QUERIES == before


def test_public_surface_keeps_registration_order():
    queries, oracles = get_queries(), get_oracles()
    assert list(queries) == list(QUERIES)
    assert list(oracles) == [k for k, q in QUERIES.items() if q.oracle is not None]
    assert all(oracles[k] == QUERIES[k].oracle for k in oracles)
