"""Round-3 extension pack #39: graph link prediction and the GROUP BY ALL
SQL surface.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The patterns are public
knowledge — common-neighbor/Jaccard link prediction (Liben-Nowell &
Kleinberg 2003) and the GROUP BY ALL syntax
(DuckDB-pioneered, adopted by Spark 4) — re-expressed on the public
PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): link-prediction Jaccard is
floor-micro over exact common-neighbor counts with a total-order top-50;
GROUP BY ALL is pinned by running the SAME text through both engines'
parsers.

Scale posture (SURVEY.md §7.6): link prediction bounds the wedge join by
the co-purchase graph's degree-capped adjacency (the triangle-count
discipline); GROUP BY ALL compiles to the identical aggregate plan as
the explicit list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

LINK_TOP_K = 50
HUB_CAP = 64  # wedge centers above this degree are skipped (standard LP preprocessing)


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
    WITH pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (SELECT DISTINCT u, v FROM pairs),
    und AS (
        SELECT u AS s, v AS t FROM edges
        UNION ALL SELECT v, u FROM edges
    ),
    degs AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY s),
    non_hub AS (
        SELECT u.s, u.t FROM und u JOIN degs d ON u.t = d.s
        WHERE d.deg <= {HUB_CAP}
    ),
    wedges AS (
        SELECT x.s AS u, y.s AS v, CAST(count(*) AS BIGINT) AS common
        FROM non_hub x JOIN non_hub y ON x.t = y.t AND x.s < y.s
        GROUP BY x.s, y.s
    ),
    candidates AS (
        SELECT w.u, w.v, w.common, du.deg AS deg_u, dv.deg AS deg_v
        FROM wedges w
        JOIN degs du ON w.u = du.s
        JOIN degs dv ON w.v = dv.s
        LEFT JOIN edges e ON w.u = e.u AND w.v = e.v
        WHERE e.u IS NULL
    )
    SELECT u, v, common, deg_u, deg_v,
           CAST((1000000 * common) // (deg_u + deg_v - common) AS BIGINT)
               AS jaccard_micro
    FROM candidates
    ORDER BY jaccard_micro DESC, u, v
    LIMIT {LINK_TOP_K}
    """,
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the part co-purchase graph
    (SURVEY.md §2.4b): for every NON-adjacent part pair sharing at
    least one neighbor, the Jaccard overlap of their neighborhoods —
    the classic unsupervised link predictor (Liben-Nowell & Kleinberg):
    the top-50 predicted edges are the co-purchases most likely to
    appear next. Wedge CENTERS above degree 64 are skipped — the
    standard LP hub-exclusion (a ubiquitous hub certifies nothing and
    its deg² wedge fan-out is exactly what explodes on dense graphs:
    uncapped, this corpus' fixed part vocabulary drives wedges to
    ~1.4e9 rows at sf0.1; capped, the bound is parts·cap² at any SF). Completes the graph family (degree/triangles/CC/
    pagerank/k-core/modularity/BFS) with the PREDICTION task.

    Exactness: common counts ONLY non-hub shared neighbors (the cap is
    part of the contract, identical both engines); the non-adjacency
    filter is an anti-join on the edge set; Jaccard folds floor-micro
    over (capped common, full degrees); the cut is total-order
    deterministic.

    Scale: the wedge join is hub-capped (parts·cap² rows at ANY SF —
    the degree-orientation discipline of `graph_triangle_count`
    adapted to the prediction task); the co-purchase graph derives
    from one keyed aggregation and stays orders of magnitude smaller
    than the facts.
    """
    li = load(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    # r12 optimization (guide §3.3/§5): edges feeds FIVE consumers (both
    # und directions, the non-adjacency anti side, deg_u, deg_v) and
    # Spark does not reuse the exchange across them — the before-plan
    # materialized 26 lineitem scans (209 physical nodes). One
    # localCheckpoint of the deduped co-purchase graph (orders of
    # magnitude smaller than the facts — the docstring's scale argument)
    # and of the part-keyed degree dim truncates that to a single fact
    # self-join: at 100 TB that is 1 fact pass instead of ~5. Local wall
    # is ~flat (the 11 MB file is page-cached); the plan diff is the win.
    edges = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )
    degs = und.groupBy("s").agg(F.count("*").alias("deg")).localCheckpoint(eager=True)
    non_hub = und.join(
        degs.select(F.col("s").alias("t"), F.col("deg").alias("deg_t")), "t"
    ).where(F.col("deg_t") <= HUB_CAP)
    x = non_hub.select(F.col("s").alias("wu"), F.col("t").alias("mid"))
    y = non_hub.select(F.col("s").alias("wv"), F.col("t").alias("mid"))
    wedges = (
        x.join(y, "mid")
        .where(F.col("wu") < F.col("wv"))
        .groupBy("wu", "wv")
        .agg(F.count("*").alias("common"))
    )
    candidates = (
        wedges.join(
            edges.select(
                F.col("u").alias("wu"), F.col("v").alias("wv"), F.lit(1).alias("adj")
            ),
            ["wu", "wv"],
            "left",
        )
        .where(F.col("adj").isNull())
        .join(degs.select(F.col("s").alias("wu"), F.col("deg").alias("deg_u")), "wu")
        .join(degs.select(F.col("s").alias("wv"), F.col("deg").alias("deg_v")), "wv")
    )
    return (
        candidates.select(
            F.col("wu").alias("u"),
            F.col("wv").alias("v"),
            "common",
            "deg_u",
            "deg_v",
            F.expr(
                "CAST((1000000 * common) DIV (deg_u + deg_v - common)"
                " AS BIGINT)"
            ).alias("jaccard_micro"),
        )
        .orderBy(F.desc("jaccard_micro"), "u", "v")
        .limit(LINK_TOP_K)
    )


@register(
    "relational_group_by_all",
    oracle="""
    SELECT c_mktsegment, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_balance_cents
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ALL
    ORDER BY c_mktsegment, n_name
    """,
)
def relational_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL surface (SURVEY.md §2.2 SQL ergonomics): the
    DuckDB-pioneered shorthand (adopted by Spark 4) that infers the
    grouping keys from the non-aggregate select items — run through the
    engine's SQL entry path so BOTH parsers resolve the same text, and
    the results must hash-match. Pins that the inference picks exactly
    (segment, nation) and nothing else.

    Scale: compiles to the identical partial-agg plan as the explicit
    GROUP BY list — the sugar is free.
    """
    from classification_problem_with_pyspark_spark.sources.catalog import (
        register_views,
    )

    register_views(spark, sf_dir, ("customer", "nation"))
    return spark.sql(
        """
        SELECT c_mktsegment, n_name,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS total_balance_cents
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ALL
        ORDER BY c_mktsegment, n_name
        """
    )
