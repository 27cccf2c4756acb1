"""``word_ngrams``, the one word n-gram builder, against a Python
reference and the DuckDB spelling the oracles use; the two keys whose
hand-written builders had a wrong short-document rule, on a corpus with
short documents; and a tripwire that keeps hand-written builders out of
the package."""

from __future__ import annotations

import ast
import glob
import os
import re
from collections import Counter

import duckdb
import pytest

from classification_problem_with_pyspark_spark.functions import text
from classification_problem_with_pyspark_spark.functions.hashing import md5_long_py
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.registry import get_oracles, get_queries
from tests.conftest import SF_DIR_SMOKE
from tests.parity import compare

PKG = os.path.dirname(os.path.dirname(os.path.abspath(text.__file__)))


def _ngrams(s: str, n: int) -> list[str]:
    toks = s.split(" ")
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@pytest.mark.parametrize("n", [1, 2, 3, 8])
def test_word_ngrams_match_python_windows(spark, n):
    # 1..10 tokens, so a document of exactly n and of n - 1 tokens (n > 1);
    # the last three spell an empty text, a double space and a repeat
    texts = [" ".join(f"w{j % 4}" for j in range(k)) for k in range(1, 11)]
    texts += ["", "a  b c", "x y x y x y x y x y"]
    docs = spark.createDataFrame(
        [(i, t, f"tag{i}") for i, t in enumerate(texts)], "doc_id long, text string, tag string"
    )
    rows = word_ngrams(docs, n, "doc_id", "tag").collect()
    assert Counter((r.doc_id, r.tag, r.ngram) for r in rows) == Counter(
        (i, f"tag{i}", g) for i, t in enumerate(texts) for g in _ngrams(t, n)
    )
    per_doc = Counter(r.doc_id for r in rows)
    assert per_doc[n - 1] == 1  # the document of exactly n tokens: one window
    assert n - 2 not in per_doc  # the document of n - 1 tokens: none


def _short_doc_corpus(path: str) -> None:
    """The sf0.001 documents plus 60 documents of 2, 3 and 4 tokens, each
    text five times, written to ``path/documents.parquet``."""
    con = duckdb.connect()
    src = os.path.join(SF_DIR_SMOKE, "documents.parquet")
    (top,) = con.execute(f"SELECT max(doc_id) FROM read_parquet('{src}')").fetchone()
    words = ["spark", "data", "join", "table", "query", "merge", "scan"]
    short = [
        (top + 1 + k, " ".join(words[k % 4 : k % 4 + 2 + k % 3]), "en", f"src{k % 3}")
        for k in range(60)
    ]
    con.execute("CREATE TABLE short (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO short VALUES (?, ?, ?, ?)", short)
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') UNION ALL"
        " SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) FROM short)"
        f" TO '{os.path.join(path, 'documents.parquet')}' (FORMAT PARQUET)"
    )
    con.close()
    # llm_decontaminate's train (< 8) and test (9) buckets both get some
    buckets = {md5_long_py(f"split_{d}") % 10 for d, *_ in short}
    assert 9 in buckets and min(buckets) < 8


@pytest.fixture(scope="module")
def short_docs(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("short_docs"))
    _short_doc_corpus(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/documents.parquet')"
    )
    yield path, con
    con.close()


@pytest.mark.parametrize("n", [2, 3, 5, 8])
def test_word_ngrams_match_duckdb_list_slice(spark, short_docs, n):
    path, con = short_docs
    docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
    spark_out = Counter(tuple(r) for r in word_ngrams(docs, n, "doc_id").collect())
    duck_out = Counter(
        con.execute(
            f"""
            SELECT doc_id, array_to_string(list_slice(toks, i, i + {n - 1}), ' ')
            FROM (
                SELECT doc_id, toks, unnest(range(1, len(toks) - {n - 2})) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
                WHERE len(toks) >= {n}
            )
            """
        ).fetchall()
    )
    assert len(spark_out) > 1000
    assert spark_out == duck_out


@pytest.mark.parametrize("key", ["llm_decontaminate", "llm_dedup_minhash_banded"])
def test_short_documents_match_the_oracle(spark, short_docs, key):
    path, con = short_docs
    ok, msg = compare(key, get_queries()[key](spark, path), get_oracles()[key], con)
    assert ok, msg


# --- tripwire: no hand-written word n-gram builder outside functions/text.py

# (module, top-level function) → why its windows differ from word_ngrams'
HAND_WRITTEN_ALLOWED = {
    ("operators/extended15.py", "llm_fingerprint_winnowing"): (
        "winnowing keeps each shingle's position, and a document shorter "
        "than a shingle is one shingle"
    ),
    ("operators/extended32.py", "llm_watermark_greenlist"): (
        "adjacent token pairs are kept as (prev, cur) structs"
    ),
    ("operators/extended86.py", "llm_collocation_lift"): (
        "adjacent token pairs are kept as (w1, w2) structs"
    ),
    ("operators/extended7.py", "llm_line_dedup"): "non-overlapping 10-token chunks",
}

_WINDOW_CALLS = {"slice", "array_join", "get", "element_at", "getItem"}
# a sequence(...) feeding a SQL lambda that slices, joins or indexes tokens
_SQL_NGRAM = re.compile(
    r"sequence\s*\(.*->.*(\b(slice|array_join|element_at|get)\s*\(|\w\s*\[)",
    re.IGNORECASE | re.DOTALL,
)


def _name(call: ast.Call) -> str | None:
    return getattr(call.func, "attr", getattr(call.func, "id", None))


def _calls(node, name=None):
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call) and (name is None or _name(n) == name)
    ]


def _python_ngram_lines(tree) -> set[int]:
    """Lines of ``transform(<sequence(...)>, lambda ...)`` calls whose
    lambda slices, joins or indexes tokens."""
    return {
        t.lineno
        for t in _calls(tree, "transform")
        if len(t.args) == 2
        and _calls(t.args[0], "sequence")
        and isinstance(t.args[1], ast.Lambda)
        and (
            any(_name(c) in _WINDOW_CALLS for c in _calls(t.args[1]))
            or any(isinstance(n, ast.Subscript) for n in ast.walk(t.args[1]))
        )
    }


def _sql_ngram_lines(tree) -> set[int]:
    """Lines of string constants and f-strings, docstrings aside, that
    spell the builder in Spark SQL."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            s = "".join(v.value if isinstance(v, ast.Constant) else "{}" for v in node.values)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            s = "" if id(node) in docstrings else node.value
        else:
            continue
        if _SQL_NGRAM.search(s):
            lines.add(node.lineno)
    return lines


def _hand_written_ngrams(source: str) -> dict[str, list[int]]:
    """Top-level function (or ``<module>``) → lines of hand-written word
    n-gram builders in it."""
    tree = ast.parse(source)
    spans = [
        (f.lineno, f.end_lineno, f.name)
        for f in tree.body
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    found: dict[str, list[int]] = {}
    for line in sorted(_python_ngram_lines(tree) | _sql_ngram_lines(tree)):
        fn = next((name for lo, hi, name in spans if lo <= line <= hi), "<module>")
        found.setdefault(fn, []).append(line)
    return found


def test_ngram_detector_flags_the_idiom():
    source = '''
"""transform(sequence(1, size(t) - 1), i -> slice(t, i, 2)) is prose."""
def f(d, n, K):
    a = F.transform(F.sequence(F.lit(1), F.size("ws") - 1), lambda i: F.array_join(F.slice("ws", i, 2), " "))
    b = F.transform(F.sequence(F.lit(0), F.size(t) - 3), lambda i: F.concat_ws(" ", F.get(t, i), F.get(t, i + 1)))
    c = F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i - 1], ' ', t[i]))")
    e = F.expr(f"transform(sequence(1, size(t) - {K}), " f"i -> array_join(slice(t, i, {K}), ' '))")
    g = F.transform(F.sequence(F.lit(1), F.size("ws") - 1), lambda i: F.col("ws")[i])
    ok1 = F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: i * 2)
    ok2 = F.explode(F.sequence(F.lit(1), F.length("text") - 1))
    ok3 = F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
    ok4 = "array_to_string(list_slice(toks, i, i + 4), ' ') FROM unnest(range(1, 5))"
    ok5 = word_ngrams(d, n, "doc_id")
'''
    assert _hand_written_ngrams(source) == {"f": [4, 5, 6, 7, 8]}


def test_word_ngrams_are_written_only_in_functions_text():
    with open(text.__file__) as f:
        assert _hand_written_ngrams(f.read()), "the scan must see the helper's own body"
    found = {}
    for py in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        if py == text.__file__:
            continue
        with open(py) as f:
            for fn, lines in _hand_written_ngrams(f.read()).items():
                found[(os.path.relpath(py, PKG), fn)] = lines
    offenders = {k: v for k, v in found.items() if k not in HAND_WRITTEN_ALLOWED}
    assert not offenders, f"hand-written word n-grams, use functions.text.word_ngrams: {offenders}"
    stale = sorted(set(HAND_WRITTEN_ALLOWED) - set(found))
    assert not stale, f"allowlisted but no longer hand-written, drop the entry: {stale}"
