"""The engine's portable hash (SURVEY.md §2.8 hash-suite rule).

Dedup, splits, sampling, shuffles and the stand-in models all key on a
hex slice of md5, read as a BIGINT. md5 is the same on every engine, so
a DuckDB oracle computes the same value with
``CAST(('0x' || substr(md5(x), start, digits)) AS BIGINT)``; Spark's own
``hash`` is murmur3 and has no twin there.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# 15 hex digits are 60 bits, which always fit a signed BIGINT; 16 overflow
# it for half of all inputs, and ANSI mode reports that only when the query
# runs (CAST_INVALID_INPUT).
MAX_DIGITS = 15


def md5_long(expr: Column | str, digits: int = 15, start: int = 1) -> Column:
    """``digits`` hex digits of ``md5(expr)`` from 1-based ``start``, as a
    BIGINT; NULL for a NULL input. Raises ``ValueError`` when the
    expression is built if ``digits`` is outside 1..15."""
    if not 1 <= digits <= MAX_DIGITS:
        raise ValueError(f"md5_long digits must be in 1..{MAX_DIGITS}, got {digits}")
    return F.conv(F.substring(F.md5(expr), start, digits), 16, 10).cast("long")


def md5_long_py(text: str) -> int:
    """``md5_long(text)`` of a Python string (UTF-8, like Spark's
    ``md5``), for code that runs in a Python worker."""
    return int(md5_hex(text)[:MAX_DIGITS], 16)


def md5_hex(data: bytes | str) -> str:
    """The 32 hex digits of md5 as Spark's and DuckDB's ``md5`` print
    them; a string is hashed as UTF-8."""
    return hashlib.md5(data.encode() if isinstance(data, str) else data).hexdigest()
