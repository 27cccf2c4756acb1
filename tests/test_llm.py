"""Tripwires for where the ``llm_*`` family lives: every key registers from
``operators/llm.py`` or one of its three sibling modules, and no
round-named ``extendedN.py`` module defines an ``llm_*`` function."""

from __future__ import annotations

import ast
import glob
import os

from classification_problem_with_pyspark_spark import operators
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules

load_all_modules()

# the modules that register the llm_* family, and nothing else does
LLM_FAMILY = ("llm", "llm_data", "llm_dedup", "llm_text")


def test_llm_keys_register_from_the_family_modules():
    stray = {
        name: q.fn.__module__
        for name, q in QUERIES.items()
        if name.startswith("llm_") and q.fn.__module__.rsplit(".", 1)[1] not in LLM_FAMILY
    }
    assert not stray


def test_no_extended_module_defines_an_llm_function():
    found = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(operators.__file__), "extended*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        found += [
            f"{os.path.basename(path)}:{node.name}"
            for node in ast.walk(tree)
            if isinstance(node, ast.FunctionDef) and node.name.startswith("llm_")
        ]
    assert not found
