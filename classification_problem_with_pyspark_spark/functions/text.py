"""Word n-grams, the representation behind the dedup, similarity and
text-analysis keys.

A document's tokens are its text split on single spaces (so two spaces
make an empty token, as DuckDB's ``string_split`` does); its word
n-grams are the windows of n consecutive tokens joined by one space; a
document with fewer than n tokens has none. Most DuckDB oracles spell
the same rule as ``array_to_string(list_slice(toks, i, i + n - 1), ' ')``
over ``range(1, len(toks) - n + 2)`` after ``WHERE len(toks) >= n``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_ngrams(df: DataFrame, n: int, *keep: str) -> DataFrame:
    """One row ``(keep..., ngram)`` per window of ``n`` consecutive tokens
    of ``df.text``, where ``keep`` names columns of ``df``. An n-gram that
    repeats in a document gives one row per occurrence; rows come in no
    particular order.

    The size filter comes before the explode because Spark's
    ``sequence(1, 0)`` descends: without it a short document would reach
    ``slice`` with a start of 0, which raises."""
    return (
        df.select(*keep, F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= n)
        .select(
            *keep,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                    lambda i: F.array_join(F.slice("ws", i, n), " "),
                )
            ).alias("ngram"),
        )
    )
