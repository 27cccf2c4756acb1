"""Round-3 extension pack #32: exact Shapley-value channel attribution.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — Shapley-value data-driven attribution (the coalition-game
formulation marketing analytics uses; Shapley 1953) — re-expressed on the
public PySpark DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): with k=4 channels the Shapley
position weights |S|!(k−1−|S|)!/k! are the rationals {1/4, 1/12, 1/12,
1/4} — multiplied by 12 they are the INTEGERS {3, 1, 1, 3}, so every
φ·12 is an exact BIGINT and efficiency (Σφ12 = 12·(v(full) − v(∅))) is
an exact integer identity asserted in tests — no sqrt, no floats
anywhere in the pack.

Scale posture (SURVEY.md §7.6): attribution reduces the fact table to
one per-user (touch-bitmask, converted) row, then plays the whole
coalition game on 16-row broadcast tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

CHANNELS = ("click", "error", "signup", "view")  # bit i = CHANNELS[i]
_K = len(CHANNELS)
# 12 × the Shapley position weight for |S| = 0..3 (k = 4)
W12 = (3, 1, 1, 3)

_MASK_SQL = " + ".join(
    f"max(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
    for i, ch in enumerate(CHANNELS)
)
_W12_CASE = (
    "CASE "
    + " ".join(f"WHEN sz = {s} THEN {w}" for s, w in enumerate(W12))
    + " END"
)
_POPCNT = " + ".join(f"((s >> {i}) & 1)" for i in range(_K))
_CH_CASE = (
    "CASE "
    + " ".join(f"WHEN i = {i} THEN '{ch}'" for i, ch in enumerate(CHANNELS))
    + " END"
)


@register(
    "events_shapley_attribution",
    oracle=f"""
    WITH touches AS (
        SELECT user_id, {_MASK_SQL} AS mask,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT mask, CAST(SUM(converted) AS BIGINT) AS conv
        FROM touches GROUP BY mask
    ),
    coalitions AS (SELECT unnest(range(0, {1 << _K})) AS s),
    v AS (
        SELECT c.s, CAST(COALESCE(SUM(m.conv), 0) AS BIGINT) AS worth
        FROM coalitions c LEFT JOIN m ON (m.mask & c.s) = m.mask
        GROUP BY c.s
    ),
    channels AS (SELECT unnest(range(0, {_K})) AS i),
    phi AS (
        SELECT ch.i,
               CAST(SUM(({_W12_CASE.replace("sz", "(" + _POPCNT.replace("s >>", "vo.s >>") + ")")})
                        * (vw.worth - vo.worth)) AS BIGINT) AS phi12
        FROM channels ch
        JOIN v vo ON (vo.s >> ch.i) % 2 = 0
        JOIN v vw ON vw.s = vo.s + (1 << ch.i)
        GROUP BY ch.i
    )
    SELECT {_CH_CASE} AS channel, phi12,
           CAST((1000000 * phi12) // SUM(phi12) OVER () AS BIGINT)
               AS share_micro
    FROM phi ORDER BY channel
    """,
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value conversion attribution over the four
    non-purchase channels (SURVEY.md §2.13): each user contributes
    their touched-channel bitmask and conversion flag; the coalition
    worth v(S) counts conversions reachable with channels ⊆ S; each
    channel's Shapley value is the weighted sum of its marginal
    contributions over all 8 coalitions excluding it — the
    axiomatically fair division of conversion credit, beside
    `events_attribution_multitouch`'s first/last/linear heuristics.

    Exactness: with k=4 the position weights ×12 are the integers
    {3,1,1,3}, so φ·12 is an exact BIGINT (efficiency Σφ12 =
    12·(v(full) − v(∅)) asserted in tests); shares fold floor-micro.

    Scale: ONE fact-sized per-user aggregate; the entire game then
    plays on 16-row coalition tables (the subset-sum join is 16×16) —
    k grows the game exponentially but the data cost stays one pass.
    """
    e = load(spark, sf_dir, "events")
    touches = e.groupBy("user_id").agg(
        F.expr(_MASK_SQL).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    m = touches.groupBy("mask").agg(F.sum("converted").alias("conv"))
    coalitions = spark.range(1 << _K).select(F.col("id").cast("int").alias("s"))
    v = (
        coalitions.join(
            F.broadcast(m),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv"), F.lit(0)).alias("worth"))
    )
    channels = spark.range(_K).select(F.col("id").cast("int").alias("i"))
    vo = v.select(F.col("s").alias("s0"), F.col("worth").alias("w0"))
    vw = v.select(F.col("s").alias("s1"), F.col("worth").alias("w1"))
    pop = " + ".join(f"((s0 >> {i}) & 1)" for i in range(_K))
    w12 = _W12_CASE.replace("sz", "(" + pop + ")")
    phi = (
        channels.join(F.broadcast(vo), F.expr("(s0 >> i) % 2 = 0"))
        .join(F.broadcast(vw), F.expr("s1 = s0 + (1 << i)"))
        .groupBy("i")
        .agg(F.sum(F.expr(f"({w12}) * (w1 - w0)")).alias("phi12"))
    )
    shares = phi.select(
        F.expr(_CH_CASE).alias("channel"),
        F.col("phi12").cast("long").alias("phi12"),
    )
    tot = shares.agg(F.sum("phi12").alias("total"))
    return (
        shares.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "phi12",
            F.expr("CAST((1000000 * phi12) DIV total AS BIGINT)").alias(
                "share_micro"
            ),
        )
        .orderBy("channel")
    )
