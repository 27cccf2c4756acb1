"""Round-3 extension pack #102: fixed-effect meta-analysis and CRLF
line-ending handling.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — inverse-variance fixed-effect meta-analysis (pool a
per-stratum effect with weights 1/vᵢ and report Cochran's Q
heterogeneity — the evidence-synthesis workhorse, and the right way to
combine an experiment's per-segment reads instead of eyeballing five
point estimates) and CRLF handling (Windows exports end lines with
\\r\\n; a reader that splits on \\n leaves a carriage return glued to
every last column — the "invisible character breaks the join key" bug)
— re-expressed on the public PySpark DataFrame API over the driver's
testdata.

Hash-parity discipline (round-3 standard): per-stratum risk
differences and variances fold from exact conditional counts with
identical double closes, and the pooled estimate / Q sums are
ORDER-PINNED over the stratum id (the Hellinger discipline); the CRLF
fixture is staged byte-exactly and the parse strips the \\r
explicitly, with the oracle restating rows from the dim.

Scale posture (SURVEY.md §7.6): meta-analysis is one conditional
count by stratum + a ≤|strata| fold; CRLF is a reader concern costing
one trim expression.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir

META_GATE = 50  # outcome: value > 50; exposure: weekend


@register(
    "agg_meta_analysis_fixed_effect",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS stratum,
               CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS e,
               CASE WHEN value > {META_GATE} THEN 1 ELSE 0 END AS o
        FROM events
    ),
    per AS (
        SELECT stratum,
               CAST(SUM(e * o) AS BIGINT) AS a,
               CAST(SUM(e * (1 - o)) AS BIGINT) AS b,
               CAST(SUM((1 - e) * o) AS BIGINT) AS c,
               CAST(SUM((1 - e) * (1 - o)) AS BIGINT) AS d
        FROM cells GROUP BY stratum
    ),
    eff AS (  -- risk difference and its variance per stratum
        SELECT stratum,
               CAST(a AS DOUBLE) / (a + b) - CAST(c AS DOUBLE) / (c + d)
                   AS rd,
               CAST(a AS DOUBLE) * b / ((a + b) * (a + b) * (a + b))
                   + CAST(c AS DOUBLE) * d / ((c + d) * (c + d) * (c + d))
                   AS v
        FROM per
    ),
    pooled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               SUM(rd / v ORDER BY stratum) AS num,
               SUM(1.0 / v ORDER BY stratum) AS den
        FROM eff
    ),
    q AS (
        SELECT SUM((e.rd - p.num / p.den) * (e.rd - p.num / p.den) / e.v
                   ORDER BY e.stratum) AS q_stat
        FROM eff e, pooled p
    )
    SELECT p.n_strata,
           ROUND(p.num / p.den, 6) AS pooled_rd,
           ROUND(1.0 / sqrt(p.den), 6) AS pooled_se,
           ROUND(q.q_stat, 6) AS cochran_q
    FROM pooled p, q
    """,
)
def agg_meta_analysis_fixed_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis (SURVEY.md §2.4): pool the
    weekend→high-value risk difference across event-type strata with
    inverse-variance weights — pooled = Σ(rdᵢ/vᵢ)/Σ(1/vᵢ), SE =
    1/√Σ(1/vᵢ) — plus Cochran's Q heterogeneity (Σ(rdᵢ−pooled)²/vᵢ;
    Q ≫ df says the strata genuinely differ and a fixed effect is the
    wrong model). The evidence-synthesis workhorse, pointed at the
    everyday problem it actually solves in analytics: combining an
    experiment's per-segment reads into one defensible number instead
    of five eyeballed ones. Shares its 2×2 cells with
    `agg_simpson_paradox_audit` deliberately — the paradox screen and
    the pooling that respects it.

    Exactness: exact conditional counts; the per-stratum rd/v and
    every cross-stratum sum are ORDER-PINNED double folds, ROUND-6
    closes.

    Scale: one conditional count by stratum + ≤|strata| folds.
    """
    cells = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("e"),
        F.when(F.col("value") > META_GATE, 1).otherwise(0).alias("o"),
    )
    per = cells.groupBy("stratum").agg(
        F.sum(F.col("e") * F.col("o")).cast("long").alias("a"),
        F.sum(F.col("e") * (1 - F.col("o"))).cast("long").alias("b"),
        F.sum((1 - F.col("e")) * F.col("o")).cast("long").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("o"))).cast("long").alias("d"),
    )
    rd = F.col("a").cast("double") / (F.col("a") + F.col("b")) - F.col(
        "c"
    ).cast("double") / (F.col("c") + F.col("d"))
    v = F.col("a").cast("double") * F.col("b") / (
        (F.col("a") + F.col("b"))
        * (F.col("a") + F.col("b"))
        * (F.col("a") + F.col("b"))
    ) + F.col("c").cast("double") * F.col("d") / (
        (F.col("c") + F.col("d"))
        * (F.col("c") + F.col("d"))
        * (F.col("c") + F.col("d"))
    )
    eff = per.select("stratum", rd.alias("rd"), v.alias("v"))
    pooled = eff.agg(
        F.count("*").alias("n_strata"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("stratum", "rd", "v"))),
            F.lit(0.0),
            lambda acc, z: acc + z["rd"] / z["v"],
        ).alias("num"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("stratum", "v"))),
            F.lit(0.0),
            lambda acc, z: acc + 1.0 / z["v"],
        ).alias("den"),
    )
    q = (
        eff.crossJoin(F.broadcast(pooled))
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("stratum", "rd", "v", "num", "den"))
                ),
                F.lit(0.0),
                lambda acc, z: acc
                + (z["rd"] - z["num"] / z["den"])
                * (z["rd"] - z["num"] / z["den"])
                / z["v"],
            ).alias("q_stat")
        )
    )
    return (
        pooled.crossJoin(F.broadcast(q))
        .select(
            "n_strata",
            F.round(F.col("num") / F.col("den"), 6).alias("pooled_rd"),
            F.round(1.0 / F.sqrt(F.col("den")), 6).alias("pooled_se"),
            F.round("q_stat", 6).alias("cochran_q"),
        )
    )


@register(
    "source_csv_crlf_handling",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
           n_name AS name,
           CAST(length(n_name) AS BIGINT) AS name_len
    FROM nation
    ORDER BY nation_key
    """,
)
def source_csv_crlf_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRLF handling (SURVEY.md §2.1): the staged file uses Windows
    \\r\\n line endings; a reader splitting on \\n alone leaves a
    carriage return glued to the LAST column of every record — names
    grow a phantom character, joins on them miss, and nothing prints
    differently (the invisible-character bug class). The parse strips
    a trailing \\r from the terminal field explicitly, and the
    name_len column makes the phantom VISIBLE to the hash: a reader
    that kept the \\r would be one character long on every row.
    Completes the CSV hostile-dialect set's seventh member.

    Exactness: byte-exact staging; the oracle restates names and
    lengths from the dim.

    Scale: one trim expression — the cheapest bug you will ever not
    have.
    """
    stage = stage_dir("csv_crlf")
    rows = sorted(
        (r.n_nationkey, r.n_name)
        for r in bounded_collect(
            load(spark, sf_dir, "nation"), max_rows=25, what="nation dim"
        )
    )
    path = os.path.join(stage, "part-0.csv")
    with open(path, "wb") as f:
        f.write(b"nation_key,name\r\n")
        for k, n in rows:
            f.write(f"{k},{n}\r\n".encode())
    back = (
        spark.read.option("header", "true")
        .schema("nation_key bigint, name string")
        .csv(path)
    )
    clean = F.regexp_replace("name", "\r$", "")
    return (
        back.select(
            "nation_key",
            clean.alias("name"),
            F.length(clean).cast("long").alias("name_len"),
        )
        .orderBy("nation_key")
    )
