"""Round-3 extension pack #86: BOM-prefixed CSV handling.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — byte-order-mark handling in CSV ingestion (Excel exports
prefix UTF-8 files with EF BB BF; an unaware reader silently corrupts
the first header name — the "ï»¿id" bug every data engineer has met) —
re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): the BOM fixture is staged
byte-exactly and the oracle restates the rows from the dim.

Scale posture (SURVEY.md §7.6): BOM handling is a reader-option concern
costing nothing.
"""

from __future__ import annotations

import codecs
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir


@register(
    "source_csv_bom_handling",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           n_name AS name
    FROM nation
    ORDER BY nation_key
    """,
)
def source_csv_bom_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOM-prefixed CSV (SURVEY.md §2.1): the staged file begins with
    the UTF-8 byte-order mark (EF BB BF — what Excel prepends to
    every "CSV UTF-8" export); a BOM-unaware reader absorbs those
    bytes into the first header name and the column "nation_key"
    silently becomes "\\ufeffnation_key" — the classic first-column
    lookup failure. The key reads the file and strips the mark from
    the parsed header explicitly (the portable fix that works
    whether or not the reader consumed it), proving the data
    round-trips; the oracle restates the rows from the dim, so a
    swallowed first record or a mangled first column breaks the
    hash.

    Exactness: byte-exact staging; the parse is a header rename plus
    integer casts.

    Scale: a reader-option/byte-prefix concern — zero marginal cost,
    infinite debugging saved; completes the CSV dialect surface's
    sixth hostile variant.
    """
    stage = stage_dir("csv_bom")
    rows = sorted(
        (r.n_nationkey, r.n_name)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    path = os.path.join(stage, "part-0.csv")
    with open(path, "wb") as f:
        f.write(codecs.BOM_UTF8)
        f.write(b"nation_key,name\n")
        for key, name in rows:
            f.write(f"{key},{name}\n".encode())
    back = spark.read.option("header", "true").csv(path)
    # strip a leading BOM from whatever the reader called column 0 —
    # portable across readers that do or don't consume the mark
    first = back.columns[0]
    clean = first.lstrip("﻿")
    back = back.withColumnRenamed(first, clean)
    return (
        back.select(
            F.col("nation_key").cast("long").alias("nation_key"),
            F.col("name"),
        )
        .orderBy("nation_key")
    )
