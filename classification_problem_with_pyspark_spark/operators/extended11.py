"""Round-3 extension pack #11: spatial and weighted-graph completions — a
grid-bucketed exact-distance kNN join and bounded-hop weighted shortest
paths (Bellman–Ford relaxation vs a recursive-CTE oracle).

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — grid-file spatial joins (the cell-bucketed neighbor-join
family) and Bellman–Ford single-source shortest paths — expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): coordinates are md5-derived
INTEGER micro-degrees so squared distances are exact BIGINTs (no sqrt, no
haversine libm anywhere); path costs are exact integer sums minimized
lexicographically by (cost, hops).

Scale posture (SURVEY.md §7.6):
- The kNN join explodes each point into its 3×3 neighbor cells and
  EQUI-joins on the cell key — the grid-file pattern: candidates are
  cell-bounded, never all-pairs (plan-asserted: no cartesian). Cell
  width trades recall for cost exactly like the IVF nprobe knob.
- Shortest paths run 4 Bellman–Ford relaxation rounds over a bounded
  per-round state table (one join + one lexmin groupBy each) — the
  iterative-graph shape of pagerank/k-core, NOT path enumeration
  (which the recursive oracle does; enumeration is exponential and
  stays oracle-side only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


def _hash_coord(key_col, salt: str):
    """32-bit uniform from md5(key:salt), reduced mod 1e6 → integer
    micro-degree coordinate, identical on both engines."""
    return md5_long(F.concat(key_col.cast("string"), F.lit(salt)), 8) % 1000000


@register(
    "join_geo_grid_knn",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST(CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || ':x'), 1, 8))
                         AS UBIGINT) % 1000000 AS BIGINT) AS x,
               CAST(CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || ':y'), 1, 8))
                         AS UBIGINT) % 1000000 AS BIGINT) AS y
        FROM customer
    ), width AS (
        SELECT 1000000 // CAST(ceil(sqrt(count(*) / 10.0)) AS BIGINT) AS w
        FROM pts
    ), cells AS (
        SELECT pts.*, x // w AS cx, y // w AS cy FROM pts, width
    ), cand AS (
        SELECT a.id AS id, b.id AS nbr,
               (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
        FROM cells a JOIN cells b
          ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
         AND a.id <> b.id
    ), ranked AS (
        SELECT id, nbr, dist2,
               row_number() OVER (PARTITION BY id ORDER BY dist2, nbr) AS rank
        FROM cand
    )
    SELECT id, CAST(rank AS BIGINT) AS rank, nbr, dist2
    FROM ranked WHERE rank <= 3
    ORDER BY id, rank
    """,
)
def join_geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial kNN join (SURVEY.md §2.5): every customer
    gets a deterministic planar position (md5-derived integer
    micro-degree coords), the plane is cut into an ADAPTIVE grid
    (cells-per-axis = ceil(sqrt(N/10)), so occupancy stays ~10 points
    per cell at every SF), and each point's 3 nearest neighbors are
    found among candidates in its 3×3 neighborhood of cells — by EXACT
    integer squared distance (no sqrt in the distances; BIGINT
    end-to-end; the one sqrt sizes the grid from a single exact count
    and is IEEE-identical on both engines).

    [MEASURED] The first cut used a FIXED 10×10 grid: candidate pairs
    grow as N²/100 — 20 M rows / 30 s at sf0.1 (2nd-slowest key in the
    sweep). The adaptive width keeps candidates at ~90·N: 2.9 s warm at
    sf0.1, identical row counts, and the same plan shape survives any
    SF because occupancy is pinned, not the cell count.

    This is the grid-file spatial-join pattern: Spark-side, each point
    explodes into its 9 neighbor cell keys and EQUI-joins points on the
    cell key — candidates are cell-bounded, never all-pairs (the same
    bucket-then-verify shape as the LSH dedup keys; the oracle's BETWEEN
    join is the semantic spec, the explode+equi-join is the scale
    plan — results identical, plan-asserted no-cartesian). Grid-bounded
    kNN is approximate by design at the cell boundary — a true neighbor
    >1 cell away is unseen — the standard recall/cost trade spatial
    indexes make; both engines apply the same definition so parity is
    exact. At sf0.01: 1 500 points ⇒ 4 500 (point, rank) rows.

    Scale: cell width ~ target candidate count; skewed cells salt like
    any hot key. At 100 TB use two grids (coarse for sparse regions,
    fine for dense) — same plan, two unions.
    """
    c = load(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        _hash_coord(F.col("c_custkey"), ":x").alias("x"),
        _hash_coord(F.col("c_custkey"), ":y").alias("y"),
    )
    width = pts.agg(
        F.expr(
            "1000000 DIV CAST(ceil(sqrt(count(*) / 10.0)) AS BIGINT)"
        ).alias("w")
    )
    cells = pts.crossJoin(F.broadcast(width)).select(
        "id",
        "x",
        "y",
        F.expr("x DIV w").alias("cx"),
        F.expr("y DIV w").alias("cy"),
    )
    # scale shape: explode each point into its 9 neighbor cells, then
    # EQUI-join on the (cell_x, cell_y) key — no inequality join anywhere
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    probes = cells.select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        "cx",
        "cy",
        offsets.alias("o"),
    ).select(
        "a_id",
        "ax",
        "ay",
        (F.col("cx") + F.col("o.dx")).alias("jcx"),
        (F.col("cy") + F.col("o.dy")).alias("jcy"),
    )
    cand = probes.join(
        cells.select(
            F.col("id").alias("nbr"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.col("cx").alias("jcx"),
            F.col("cy").alias("jcy"),
        ),
        ["jcx", "jcy"],
    ).where(F.col("a_id") != F.col("nbr"))
    dist2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    w = Window.partitionBy("id").orderBy("dist2", "nbr")
    return (
        cand.select(F.col("a_id").alias("id"), "nbr", dist2.alias("dist2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("id", "rank", "nbr", "dist2")
        .orderBy("id", "rank")
    )


@register(
    "graph_shortest_path_bounded",
    oracle="""
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(1000000 // (count(*) + 1) + 1 AS BIGINT) AS cost
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ), paths AS (
        WITH RECURSIVE walk(dst, cost, hops) AS (
            SELECT CAST(0 AS INTEGER), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            UNION ALL
            SELECT e.dst, w.cost + e.cost, w.hops + 1
            FROM walk w JOIN edges e ON e.src = w.dst
            WHERE w.hops < 4
        )
        SELECT dst, min(cost) AS best_cost FROM walk GROUP BY dst
    ), besthops AS (
        WITH RECURSIVE walk(dst, cost, hops) AS (
            SELECT CAST(0 AS INTEGER), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            UNION ALL
            SELECT e.dst, w.cost + e.cost, w.hops + 1
            FROM walk w JOIN edges e ON e.src = w.dst
            WHERE w.hops < 4
        )
        SELECT dst, cost, min(hops) AS hops FROM walk GROUP BY dst, cost
    )
    SELECT CAST(p.dst AS BIGINT) AS nationkey, p.best_cost,
           CAST(b.hops AS BIGINT) AS best_hops
    FROM paths p JOIN besthops b ON p.dst = b.dst AND p.best_cost = b.cost
    ORDER BY nationkey
    """,
)
def graph_shortest_path_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop weighted shortest paths (SURVEY.md §2.4b): over the
    nation-flow graph (edge cost = 1e6/(lineitem-count+1)+1, so
    high-traffic trade lanes are cheap — exact integer), the cheapest
    ≤4-hop route from nation 0 to every reachable nation, with the hop
    count of that cheapest route.

    Spark side runs 4 BELLMAN–FORD relaxation rounds — each round is
    one state⋈edges join plus one lexicographic-min groupBy
    (min(struct(cost, hops))), state localCheckpoint'd per round (the
    pagerank/k-core iteration shape). The DuckDB oracle instead
    ENUMERATES all ≤4-hop walks with a recursive CTE and minimizes —
    exponential, correct only because the oracle graph is 25 nodes; the
    relaxation is the 100-TB shape (per-round cost is O(E), state is
    one row per reached node). Both minimize (cost, then hops), whose
    DP-prefix optimality makes the lexmin relaxation exact.

    Exactness: integer costs (integer division), integer sums, struct
    lexmin — no floats anywhere.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .agg(
            (F.expr("div(1000000, count(*) + 1)") + 1).cast("long").alias("cost")
        )
    )

    # r12 optimization (guide §4.2): the relaxation state is bounded by
    # the NATION domain (≤25 nodes, ≤25² edges), so the former 4
    # distributed rounds — each a join + lexmin groupBy + eager
    # localCheckpoint, 32 jobs and ~5 s of construction-time round jobs
    # at sf0.1 — collapse into ONE single-group applyInPandas fold over
    # the aggregated edge relation. The Python fold replays the exact
    # per-round min(new ∪ old) over (cost, hops) tuples — pure integer
    # arithmetic, so the result is bit-identical (hash-verified). The
    # fact-sized work (the edge aggregation) is untouched; only the
    # dim-bounded iteration moved out of the scheduler.
    # ADVICE r12: groupBy(lit(0)) over an EMPTY edge relation yields zero
    # groups, which would drop the unconditional seed row (node 0, cost 0,
    # hops 0) the old loop and the oracle both emit. A null-cost sentinel
    # row keeps the group alive on degenerate inputs; the fold drops it.
    sentinel = spark.range(1).select(
        F.lit(0).cast("long").alias("src"),
        F.lit(0).cast("long").alias("dst"),
        F.lit(None).cast("long").alias("cost"),
    )
    edges = edges.unionByName(sentinel)

    def _bellman_ford(pdf):
        import pandas as pd

        pdf = pdf.dropna(subset=["cost"])
        es = list(zip(pdf["src"].astype(int), pdf["dst"].astype(int), pdf["cost"].astype(int)))
        state = {0: (0, 0)}
        for _ in range(4):
            cand = dict(state)
            for src, dst, ec in es:
                if src in state:
                    t = (state[src][0] + ec, state[src][1] + 1)
                    if dst not in cand or t < cand[dst]:
                        cand[dst] = t
            state = cand
        return pd.DataFrame(
            [(n, c, h) for n, (c, h) in state.items()],
            columns=["node", "cost", "hops"],
        ).astype("int64")

    state = edges.groupBy(F.lit(0).alias("__g")).applyInPandas(
        _bellman_ford, schema="node long, cost long, hops long"
    )
    return state.select(
        F.col("node").alias("nationkey"),
        F.col("cost").alias("best_cost"),
        F.col("hops").alias("best_hops"),
    ).orderBy("nationkey")
