"""Round-3 extension pack #85: Bradley–Terry strength estimation and
the inline-VALUES lookup join.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — the Bradley–Terry model fitted by Minorization-
Maximization (Bradley & Terry 1952; Hunter, Annals of Statistics 2004:
πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ) — the estimator behind every pairwise-
comparison leaderboard, chatbot arenas included) and the inline-VALUES
lookup (a literal dimension joined to facts — the canonical way to
ship a tiny mapping with the query instead of a table) — re-expressed
on the public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): matches are deterministic
(md5-sampled doc pairs across sources; longer text wins — the judge,
not the tournament, is synthetic); the MM fixpoint is unrolled a
FIXED number of iterations over the bounded source×source matrix with
every float sum ORDER-PINNED (DuckDB ordered aggregates, Spark
sorted-array folds — the Hellinger discipline), normalized each round
by the strength of the lexicographically-first source so the scale is
anchored identically; final strengths ROUND-6. The VALUES dim is a
shared literal.

Scale posture (SURVEY.md §7.6): the tournament reduces to a ≤|src|²
win matrix before ANY iteration (the bounded-fixpoint discipline of
`graph_pagerank_nation_flow`); each MM round is a join over that tiny
relation. The VALUES join broadcasts by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

BT_MATCH_MOD = 3  # doc pairs (i, i + stride) with md5 % 3 == 0 are matches
BT_ITERS = 6
SLA_DAYS = {"1-URGENT": 30, "2-HIGH": 60, "3-MEDIUM": 90, "4-NOT SPECIFIED": 120,
            "5-LOW": 150}


def _bt_oracle() -> str:
    sql = f"""
    WITH d1 AS (
        SELECT doc_id, source, length(text) AS len FROM documents
    ),
    matches AS (
        SELECT a.source AS sa, b.source AS sb,
               CASE WHEN a.len > b.len THEN 1
                    WHEN a.len < b.len THEN 0 END AS a_wins
        FROM d1 a JOIN d1 b ON b.doc_id = a.doc_id + 7
        WHERE a.source <> b.source
          AND CAST(('0x' || substr(md5('bt_' || CAST(a.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {BT_MATCH_MOD} = 0
          AND a.len <> b.len
    ),
    w AS MATERIALIZED (  -- win matrix and pair counts (i < j canonical)
        SELECT least(sa, sb) AS i, greatest(sa, sb) AS j,
               CAST(SUM(CASE WHEN (sa < sb) = (a_wins = 1) THEN 1 ELSE 0 END)
                    AS BIGINT) AS w_ij,
               CAST(COUNT(*) AS BIGINT) AS n_ij
        FROM matches GROUP BY least(sa, sb), greatest(sa, sb)
    ),
    pairs AS MATERIALIZED (  -- both directions for per-item sums
        SELECT i AS s, j AS o, w_ij AS wins, n_ij FROM w
        UNION ALL
        SELECT j, i, n_ij - w_ij, n_ij FROM w
    ),
    items AS MATERIALIZED (SELECT DISTINCT s FROM pairs),
    pi0 AS MATERIALIZED (SELECT s, 1.0 AS pi FROM items)
    """
    prev = "pi0"
    for t in range(1, BT_ITERS + 1):
        sql += f"""
    , raw{t} AS MATERIALIZED (
        SELECT p.s,
               SUM(p.wins ORDER BY p.o) AS w_i,
               SUM(p.n_ij / (a.pi + b.pi) ORDER BY p.o) AS denom
        FROM pairs p
        JOIN {prev} a ON a.s = p.s
        JOIN {prev} b ON b.s = p.o
        GROUP BY p.s
    ), anchor{t} AS MATERIALIZED (
        SELECT w_i / denom AS z FROM raw{t}
        WHERE s = (SELECT MIN(s) FROM items)
    ), pi{t} AS MATERIALIZED (
        SELECT s, (w_i / denom) / (SELECT z FROM anchor{t}) AS pi
        FROM raw{t}
    )"""
        prev = f"pi{t}"
    sql += f"""
    SELECT s AS source, ROUND(pi, 6) AS strength,
           CAST(row_number() OVER (ORDER BY ROUND(pi, 6) DESC, s) AS BIGINT)
               AS rank
    FROM {prev}
    ORDER BY source
    """
    return sql


@register("ml_bradley_terry_strengths", oracle=_bt_oracle())
def ml_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths (SURVEY.md §2.11): fit π for each source
    from deterministic pairwise matches (md5-sampled doc pairs;
    longer text wins — the tournament machinery, not the judge, is
    the product) by {BT_ITERS} unrolled MM iterations
    πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ) (Hunter 2004), anchored each round to
    the first source so the scale cannot drift. This is the estimator
    behind every pairwise-preference leaderboard — chatbot arenas
    rank models with exactly this fixpoint — and the key pins its
    distributed form: reduce the tournament to the bounded win
    matrix FIRST, iterate over that.

    Every float sum in the fixpoint is ORDER-PINNED (ordered
    aggregates / sorted-array folds over the opponent id — the
    Hellinger discipline), so both engines walk bit-identical
    iterates to the ROUND-6 close.

    Scale: the fact-sized work is one pass building the ≤|src|² win
    matrix; each MM round is a join over that tiny relation —
    iterate-over-the-aggregate, never over the corpus (the
    `graph_pagerank_nation_flow` discipline applied to tournaments).
    """
    d1 = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("len")
    )
    a = d1.select(
        F.col("doc_id").alias("ida"),
        F.col("source").alias("sa"),
        F.col("len").alias("la"),
    )
    b = d1.select(
        F.col("doc_id").alias("idb"),
        F.col("source").alias("sb"),
        F.col("len").alias("lb"),
    )
    mhash = md5_long(F.concat(F.lit("bt_"), F.col("ida").cast("string")))
    matches = (
        a.join(b, F.col("idb") == F.col("ida") + 7)
        .where(
            (F.col("sa") != F.col("sb"))
            & (mhash % BT_MATCH_MOD == 0)
            & (F.col("la") != F.col("lb"))
        )
        .select(
            "sa",
            "sb",
            F.when(F.col("la") > F.col("lb"), 1).otherwise(0).alias("a_wins"),
        )
    )
    w = matches.groupBy(
        F.least("sa", "sb").alias("i"), F.greatest("sa", "sb").alias("j")
    ).agg(
        F.sum(
            F.when(
                (F.col("sa") < F.col("sb")) == (F.col("a_wins") == 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("w_ij"),
        F.count("*").alias("n_ij"),
    )
    pairs = w.select(
        F.col("i").alias("s"), F.col("j").alias("o"),
        F.col("w_ij").alias("wins"), "n_ij",
    ).unionByName(
        w.select(
            F.col("j").alias("s"), F.col("i").alias("o"),
            (F.col("n_ij") - F.col("w_ij")).alias("wins"), "n_ij",
        )
    ).localCheckpoint(eager=True)
    # r12 optimization (guide §4.2): the MM fixpoint runs over the BOUNDED
    # win matrix (≤|src|² rows — the whole point of reducing the
    # tournament first), so the former {BT_ITERS} distributed rounds —
    # each a double join + ordered fold + anchor broadcast + eager
    # localCheckpoint, ~3 jobs/round — collapse into ONE single-group
    # applyInPandas pass over the checkpointed pairs. The Python fold
    # replays the EXACT order-pinned IEEE sequence of the former Spark
    # HOF folds (opponents visited in o-ascending order, the same float
    # adds/divides), so every iterate is bit-identical; rounding and the
    # final rank stay in the ENGINE below, untouched (hash-verified).
    # The one task holds |src|² integers — bounded by the source label
    # domain, never the corpus, at any SF.
    def _mm_fixpoint(pdf):
        import pandas as pd

        rows_by_s: dict[int | str, list] = {}
        for s, o, wins, n_ij in zip(pdf["s"], pdf["o"], pdf["wins"], pdf["n_ij"]):
            rows_by_s.setdefault(s, []).append((o, int(wins), int(n_ij)))
        for s in rows_by_s:
            rows_by_s[s].sort(key=lambda t: t[0])  # o-ascending fold order
        anchor = min(rows_by_s)
        pi = {s: 1.0 for s in rows_by_s}
        for _ in range(BT_ITERS):
            raw = {}
            for s, opp in rows_by_s.items():
                w_i = 0.0
                denom = 0.0
                for o, wins, n_ij in opp:
                    w_i = w_i + float(wins)
                    denom = denom + n_ij / (pi[s] + pi[o])
                raw[s] = w_i / denom
            z = raw[anchor]
            pi = {s: v / z for s, v in raw.items()}
        return pd.DataFrame(
            {"s": list(pi), "pi": [pi[s] for s in pi]}
        )

    pi = (
        pairs.groupBy(F.lit(0).alias("__g"))
        .applyInPandas(_mm_fixpoint, schema="s string, pi double")
    )
    from pyspark.sql.window import Window

    # De-globalized rank (r8): the (strength DESC, s) total order ranks
    # via the distinct-strength histogram base + a strength-partitioned
    # row_number — the post-checkpoint groupBy restores the Aggregate
    # node the bounded-grid assertion checks for.
    rows = pi.select("s", F.round("pi", 6).alias("strength"))
    hist = rows.groupBy("strength").agg(F.count("*").alias("c"))
    base = grid_cumsum(
        hist,
        [F.desc("strength")],
        [("base", "c")],
        keep=["strength"],
        frame_end=-1,
    )
    w_in = Window.partitionBy("strength").orderBy("s")
    return (
        rows.join(F.broadcast(base), "strength")
        .select(
            F.col("s").alias("source"),
            "strength",
            (F.col("base") + F.row_number().over(w_in))
            .cast("long")
            .alias("rank"),
        )
        .orderBy("source")
    )


@register(
    "relational_inline_values_lookup",
    oracle=f"""
    WITH sla(priority, sla_days) AS (VALUES
        {", ".join(f"('{k}', {v})" for k, v in SLA_DAYS.items())}
    ),
    joined AS (
        SELECT o.o_orderpriority AS priority, s.sla_days,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
                   AS age_d
        FROM orders o JOIN sla s ON s.priority = o.o_orderpriority
        WHERE o.o_orderstatus = 'O'
    )
    SELECT priority, CAST(MAX(sla_days) AS BIGINT) AS sla_days,
           CAST(COUNT(*) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN age_d > sla_days THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breached
    FROM joined
    GROUP BY priority
    ORDER BY priority
    """,
)
def relational_inline_values_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline-VALUES lookup (SURVEY.md §2.2): a literal priority→SLA
    mapping shipped WITH the query (the `VALUES`-clause dimension —
    the canonical way to attach a tiny business mapping without
    provisioning a table, and the degenerate case every broadcast
    join optimizer should eat for free), joined to open orders to
    count SLA breaches by priority at the data-edge as-of. The
    mapping is a shared constant on both engines, so the key also
    pins that literal-relation construction (a Spark LocalRelation /
    DuckDB VALUES) produces identical join behavior.

    Exactness: integer day arithmetic and counts.

    Scale: the VALUES dim broadcasts by construction — the plan is a
    scan + broadcast-hash join + census, the cheapest join shape
    there is.
    """
    o = load(spark, sf_dir, "orders")
    sla = local_rows(spark, list(SLA_DAYS.items()), "priority string, sla_days int")
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("t"))
    joined = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(asof))
        .join(F.broadcast(sla), F.col("o_orderpriority") == F.col("priority"))
        .select(
            "priority",
            "sla_days",
            F.datediff("t", F.to_date("o_orderdate")).alias("age_d"),
        )
    )
    return (
        joined.groupBy("priority")
        .agg(
            F.max("sla_days").cast("long").alias("sla_days"),
            F.count("*").alias("n_open"),
            F.sum(F.when(F.col("age_d") > F.col("sla_days"), 1).otherwise(0))
            .cast("long")
            .alias("n_breached"),
        )
        .orderBy("priority")
    )
