"""Round-3 extension pack #86: collocation lift and BOM-prefixed CSV
handling.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — collocation detection by association lift (the exponential
of PMI: P(ab)/(P(a)P(b)) — Church & Hanks' association ratio without
the logarithm, which is exactly what makes it computable in EXACT
integer arithmetic) and byte-order-mark handling in CSV ingestion
(Excel exports prefix UTF-8 files with EF BB BF; an unaware reader
silently corrupts the first header name — the "ï»¿id" bug every data
engineer has met) — re-expressed on the public PySpark DataFrame API
over the driver's testdata.

Hash-parity discipline (round-3 standard): lift folds the exact
integer cross-ratio 1e6·n_ab·N/(n_a·n_b) with a minimum-support gate
and (lift DESC, pair) top-k — no logarithm, no float; the BOM fixture
is staged byte-exactly and the oracle restates the rows from the dim.

Scale posture (SURVEY.md §7.6): collocations are two counting passes
(unigrams, adjacent bigrams) joined on the parts — the classic
NLP-at-scale shape; BOM handling is a reader-option concern costing
nothing.
"""

from __future__ import annotations

import codecs
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_rank
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

LIFT_MIN_SUPPORT = 5  # bigram must occur at least this often
LIFT_TOP = 25


@register(
    "llm_collocation_lift",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    words AS (
        SELECT unnest(ws) AS w FROM toks
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
        FROM words WHERE w <> '' GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        WHERE ws[i] <> '' AND ws[i + 1] <> ''
        GROUP BY ws[i], ws[i + 1]
        HAVING COUNT(*) >= {LIFT_MIN_SUPPORT}
    ),
    lifted AS (
        SELECT b.w1, b.w2, b.n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
               (1000000 * b.n_ab * t.n) // (ua.n_w * ub.n_w) AS lift_micro
        FROM bi b
        JOIN uni ua ON ua.w = b.w1
        JOIN uni ub ON ub.w = b.w2
        CROSS JOIN tot t
    )
    SELECT w1, w2, n_ab, n_a, n_b,
           CAST(lift_micro AS BIGINT) AS lift_micro,
           CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY lift_micro DESC, w1, w2) AS rk
        FROM lifted
    ) z
    WHERE rk <= {LIFT_TOP}
    ORDER BY rank
    """,
)
def llm_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation lift (SURVEY.md §2.12): the top-{LIFT_TOP} adjacent
    word pairs by association lift n_ab·N/(n_a·n_b) — exp(PMI), the
    Church-Hanks association ratio WITHOUT the logarithm, which is
    the whole trick: ranking by lift ranks exactly like ranking by
    PMI (log is monotone), and lift is a pure integer cross-ratio, so
    the classic collocation table becomes hash-exact. The minimum-
    support gate ({LIFT_MIN_SUPPORT}) is the standard guard against
    the hapax-pair degeneracy that dominates unfiltered PMI lists.

    Exactness: integer counts and one floor-micro cross-ratio; the
    top-k order is (lift DESC, w1, w2) — total.

    Scale: one unigram count, one adjacent-bigram count (both
    map-side combinable), two dictionary joins — the n-gram
    statistics shape the BPE keys already run, pointed at
    association instead of frequency.
    """
    toks = load(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("ws")
    )
    words = toks.select(F.explode("ws").alias("w")).where(F.col("w") != "")
    uni = words.groupBy("w").agg(F.count("*").alias("n_w"))
    tot = uni.agg(F.sum("n_w").cast("long").alias("n"))
    bi = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= LIFT_MIN_SUPPORT)
    )
    lifted = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(1000000 * n_ab * n) DIV (n_a * n_b)").alias("lift_micro"),
        )
    )
    return (
        grid_rank(lifted, [F.desc("lift_micro"), "w1", "w2"], "rank")
        .where(F.col("rank") <= LIFT_TOP)
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            F.col("lift_micro").cast("long").alias("lift_micro"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


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
