"""Round-3 extension pack #103: two-way ANOVA with interaction.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — two-way fixed-effects ANOVA (main-effect and INTERACTION
sums of squares over a factorial design — Fisher's decomposition; the
interaction term is the formal answer to "does the effect differ by
segment") — re-expressed on the public PySpark DataFrame API over the
driver's testdata.

Hash-parity discipline (round-3 standard): ANOVA cell statistics are
exact integer (n, Σ, in deci units) per (weekend × type) cell, and every
SS folds from cell means in order-pinned double arithmetic with ROUND-6
closes.

Scale posture (SURVEY.md §7.6): ANOVA is one conditional-moment pass to
≤10 cells + bounded folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "agg_two_way_anova",
    oracle="""
    WITH obs AS (
        SELECT CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS wknd,
               event_type AS typ,
               CAST(round(value * 10) AS BIGINT) AS deci
        FROM events
    ),
    cells AS (
        SELECT wknd, typ,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(deci) AS BIGINT) AS s
        FROM obs GROUP BY wknd, typ
    ),
    margins AS (
        SELECT
            (SELECT SUM(s ORDER BY wknd, typ) FROM cells) AS gs,
            (SELECT SUM(n ORDER BY wknd, typ) FROM cells) AS gn
    ),
    ss AS (
        SELECT
            -- between-cells SS (the model SS with interaction)
            (SELECT SUM(CAST(s AS DOUBLE) * s / n ORDER BY wknd, typ)
             FROM cells)
                - CAST(m.gs AS DOUBLE) * m.gs / m.gn AS ss_cells,
            -- weekend main effect
            (SELECT SUM(CAST(ws AS DOUBLE) * ws / wn ORDER BY wknd)
             FROM (SELECT wknd, SUM(s) AS ws, SUM(n) AS wn FROM cells
                   GROUP BY wknd) z)
                - CAST(m.gs AS DOUBLE) * m.gs / m.gn AS ss_wknd,
            -- type main effect
            (SELECT SUM(CAST(ts2 AS DOUBLE) * ts2 / tn ORDER BY typ)
             FROM (SELECT typ, SUM(s) AS ts2, SUM(n) AS tn FROM cells
                   GROUP BY typ) z)
                - CAST(m.gs AS DOUBLE) * m.gs / m.gn AS ss_typ
        FROM margins m
    )
    SELECT ROUND(ss_cells, 4) AS ss_cells,
           ROUND(ss_wknd, 4) AS ss_weekend,
           ROUND(ss_typ, 4) AS ss_type,
           ROUND(ss_cells - ss_wknd - ss_typ, 4) AS ss_interaction
    FROM ss
    """,
)
def agg_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA (SURVEY.md §2.4): the factorial decomposition of
    value (deci units) over weekend × event type — between-cells SS,
    the two main-effect SS, and the INTERACTION SS as their
    difference (Fisher's partition for the balanced-enough case; the
    interaction term is the formal version of the question the
    Simpson audit screens informally: does the weekend effect differ
    by type?). Complements `agg_anova_f` (one-way) with the factorial
    design every segmented experiment actually is.

    Exactness: exact integer (n, Σ) per cell; every SS folds cell
    aggregates in order-pinned double arithmetic (DuckDB ordered
    aggregates / deterministic bounded folds), ROUND-4 closes
    (SS magnitudes are ~1e9 deci² — ROUND-6 would exceed double's
    exact-decimal range; stated).

    Scale: one conditional-moment pass to ≤10 cells + bounded folds.
    """
    obs = load(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wknd"),
        F.col("event_type").alias("typ"),
        F.expr("CAST(round(value * 10) AS BIGINT)").alias("deci"),
    )
    cells = obs.groupBy("wknd", "typ").agg(
        F.count("*").alias("n"), F.sum("deci").cast("long").alias("s")
    ).localCheckpoint(eager=True)

    def fold(df, keys, num="s", den="n"):
        return df.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(*keys, num, den))),
                F.lit(0.0),
                lambda acc, z: acc
                + z[num].cast("double") * z[num] / z[den],
            ).alias("t")
        )

    g = cells.agg(
        F.sum("s").cast("long").alias("gs"), F.sum("n").cast("long").alias("gn")
    )
    cells_t = fold(cells, ["wknd", "typ"])
    w_marg = cells.groupBy("wknd").agg(
        F.sum("s").cast("long").alias("s"), F.sum("n").cast("long").alias("n")
    )
    t_marg = cells.groupBy("typ").agg(
        F.sum("s").cast("long").alias("s"), F.sum("n").cast("long").alias("n")
    )
    w_t = fold(w_marg, ["wknd"])
    t_t = fold(t_marg, ["typ"])
    base = (
        g.crossJoin(F.broadcast(cells_t.withColumnRenamed("t", "t_cells")))
        .crossJoin(F.broadcast(w_t.withColumnRenamed("t", "t_wknd")))
        .crossJoin(F.broadcast(t_t.withColumnRenamed("t", "t_typ")))
    )
    cm = F.col("gs").cast("double") * F.col("gs") / F.col("gn")
    return base.select(
        F.round(F.col("t_cells") - cm, 4).alias("ss_cells"),
        F.round(F.col("t_wknd") - cm, 4).alias("ss_weekend"),
        F.round(F.col("t_typ") - cm, 4).alias("ss_type"),
        F.round(
            (F.col("t_cells") - cm)
            - (F.col("t_wknd") - cm)
            - (F.col("t_typ") - cm),
            4,
        ).alias("ss_interaction"),
    )
