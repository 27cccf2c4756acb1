"""Round-3 extension pack #46: sampled harmonic centrality and
mutual-kNN pairs.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — harmonic centrality over seed samples (the Boldi–Vigna
"Axioms for centrality" formulation; HyperBall computes exactly this
shape at web scale) and the mutual-kNN graph (the symmetrization step
under spectral clustering, UMAP's fuzzy graph, and semantic-dedup
cluster seeds) — re-expressed on the public PySpark DataFrame API over
the driver's testdata.

Hash-parity discipline (round-3 standard): centrality seeds are a
portable md5 rule over the part key (no sampling state); hop sets are
DISTINCT frontier relations with explicit visited-set subtraction, so
membership is set algebra both engines replay identically; harmonic
weights fold integer micro-units (1/1, 1/2, 1/3 → 1000000 / 500000 /
333333). Mutual-kNN reuses the exact cosine discipline the driver
already hash-verified on llm_similarity_topk (double accumulation,
ROUND(·,6), (sim DESC, id) rank tie-break).

Scale posture (SURVEY.md §7.6): seed-sampled BFS is THE scale form of
centrality (exact all-pairs is O(V·E) and dead at 100 TB; HyperBall
replaces the frontier sets with HLL sketches — same plan shape, the
registry's `agg_hll_sketch_mergeable` shows the sketch side); the
mutual filter is a self-join of the top-k relation on the reversed
pair — O(V·k), never O(V²), once the directed top-k exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.embedding_kernels import exact_topk
from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, path_for

SEED_MOD = 400  # ~|parts|/400 hash-chosen centrality seeds (5 at sf0.01)
KNN_K = 5  # directed neighbor list size for the mutual graph

_EDGES_SQL = """
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )
"""


@register(
    "graph_harmonic_centrality_sampled",
    oracle=f"""
    WITH {_EDGES_SQL},
    seeds AS (
        SELECT DISTINCT src AS seed FROM edges
        WHERE CAST(('0x' || substr(md5('hc_' || CAST(src AS VARCHAR)), 1, 15))
                   AS BIGINT) % {SEED_MOD} = 0
    ),
    h1 AS (
        SELECT DISTINCT s.seed, e.dst AS node
        FROM seeds s JOIN edges e ON e.src = s.seed
        WHERE e.dst <> s.seed
    ),
    h2 AS (
        SELECT DISTINCT h.seed, e.dst AS node
        FROM h1 h JOIN edges e ON e.src = h.node
        WHERE e.dst <> h.seed
          AND NOT EXISTS (SELECT 1 FROM h1 x
                          WHERE x.seed = h.seed AND x.node = e.dst)
    ),
    h3 AS (
        SELECT DISTINCT h.seed, e.dst AS node
        FROM h2 h JOIN edges e ON e.src = h.node
        WHERE e.dst <> h.seed
          AND NOT EXISTS (SELECT 1 FROM h1 x
                          WHERE x.seed = h.seed AND x.node = e.dst)
          AND NOT EXISTS (SELECT 1 FROM h2 x
                          WHERE x.seed = h.seed AND x.node = e.dst)
    )
    SELECT s.seed,
           CAST(COALESCE(c1.n, 0) AS BIGINT) AS n_hop1,
           CAST(COALESCE(c2.n, 0) AS BIGINT) AS n_hop2,
           CAST(COALESCE(c3.n, 0) AS BIGINT) AS n_hop3,
           CAST(1000000 * COALESCE(c1.n, 0)
                + 500000 * COALESCE(c2.n, 0)
                + 333333 * COALESCE(c3.n, 0) AS BIGINT) AS harmonic_micro
    FROM seeds s
    LEFT JOIN (SELECT seed, COUNT(*) AS n FROM h1 GROUP BY seed) c1
           ON c1.seed = s.seed
    LEFT JOIN (SELECT seed, COUNT(*) AS n FROM h2 GROUP BY seed) c2
           ON c2.seed = s.seed
    LEFT JOIN (SELECT seed, COUNT(*) AS n FROM h3 GROUP BY seed) c3
           ON c3.seed = s.seed
    ORDER BY s.seed
    """,
)
def graph_harmonic_centrality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-sampled harmonic centrality, radius 3 (SURVEY.md §2.10):
    for an md5-chosen sample of parts in the co-purchase graph, count
    the nodes first reached at hops 1/2/3 and fold them with harmonic
    weights 1, 1/2, 1/3 (micro-units) — the bounded-radius harmonic
    centrality that ranks "how much of the graph is close to this
    node". Completes the graph family: degree (radius 1), BFS levels
    from ONE source (`graph_bfs_3hop`), and now a multi-source
    distance-weighted summary.

    Seed sampling IS the scale algorithm (exact all-pairs centrality
    is O(V·E)); HyperBall runs this exact plan with HLL frontier
    sketches when even per-seed sets blow up. Frontier levels are
    DISTINCT relations with explicit visited subtraction, so both
    engines agree on membership by set algebra, not traversal order.

    Scale (round-5 rewrite): the global edge relation is NEVER
    materialized. The previous form localCheckpoint-ed the full deduped
    self-join — O(E) pinned in block-manager memory, which OOMs a
    default-heap session at sf0.1 and is exactly the wrong shape at
    100 TB. Each hop now expands the frontier directly against the
    (orderkey, partkey) fact: join the frontier onto a 2-column scan
    to collect its incident orders, dedup, join those orders back for
    the co-parts — two joins and two ball-sized distincts per hop,
    zero fact-sized materialization. Join strategy is left to AQE on
    purpose: hop-1 frontiers are broadcast-sized, but a dense
    co-purchase ball approaches the part vocabulary by hop 2 (forcing
    broadcast there OOMs a default heap — measured), and AQE's runtime
    stats pick broadcast vs shuffle per hop correctly. Cost is bounded
    by |seeds| × |3-hop ball| incident edges (SEED_MOD is the knob);
    only frontiers (ball-bounded) are checkpointed. The oracle still
    states the set algebra over the explicit edge relation — hash
    equality proves the frontier expansion computes the same sets.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    seed_hash = md5_long(F.concat(F.lit("hc_"), F.col("l_partkey").cast("string")))
    # (seed, order) incidence for hash-chosen parts: the hop-1 frontier
    # seeds. Parts with no distinct co-part yield no h1 rows and drop
    # out — matching the oracle's "seeds are edge srcs" rule.
    seed_orders = (
        li.where(seed_hash % SEED_MOD == 0)
        .select(F.col("l_partkey").alias("seed"), "l_orderkey")
        .distinct()
    )
    h1 = (
        seed_orders
        .join(li, "l_orderkey")
        .where(F.col("l_partkey") != F.col("seed"))
        .select("seed", F.col("l_partkey").alias("node"))
        .distinct()
        # frontiers are small ((seed, node) pairs, ball-bounded);
        # checkpointing each level keeps hop k+1 from re-running every
        # earlier hop's joins AND truncates the growing lineage
        .localCheckpoint(eager=True)
    )

    # r13 optimization (guide §2.4): the per-hop VISITED anti-joins are
    # gone. Expanding hop k+1 from the full deduped reach-≤k candidate
    # set (instead of the exact first-reach frontier) only ever finds
    # paths of length ≤ k+1, so tagging each candidate set with its hop
    # and taking MIN(hop) per (seed, node) at the end reproduces the
    # oracle's NOT-EXISTS first-reach sets EXACTLY: every distance-d
    # node (d ≤ 3) appears in candidate set d (it is adjacent to a
    # distance-(d-1) node, which set d-1 contains), and min() discards
    # the re-reached shorter-distance members the anti-joins used to
    # subtract. Removes two SortMergeJoin LeftAnti (+ the visited-union
    # exchanges) and hop 3's standalone distinct — its dedup fuses into
    # the final min-hop aggregate's partial/final passes. The extra
    # expansion sources (reach-≤2 instead of exactly-2) are the tiny
    # hop-1 overlap of a dense ball; cost stays ball-bounded.
    def expand(frontier):
        fo = (
            frontier
            .join(li, frontier.node == li.l_partkey)
            .select("seed", "l_orderkey")
            .distinct()
        )
        return (
            fo.join(li, "l_orderkey")
            .where(F.col("l_partkey") != F.col("seed"))
            .select("seed", F.col("l_partkey").alias("node"))
        )

    r2 = expand(h1).distinct().localCheckpoint(eager=True)  # reach ≤ 2
    r3 = expand(r2)  # raw ≤3-reach candidates; min-hop agg dedups

    tagged = (
        h1.select("seed", "node", F.lit(1).alias("hop"))
        .unionByName(r2.select("seed", "node", F.lit(2).alias("hop")))
        .unionByName(r3.select("seed", "node", F.lit(3).alias("hop")))
    )
    first = tagged.groupBy("seed", "node").agg(F.min("hop").alias("hop"))
    return (
        first.groupBy("seed")
        .agg(
            *[
                F.sum(F.when(F.col("hop") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"n_hop{i}")
                for i in (1, 2, 3)
            ]
        )
        .select(
            "seed",
            "n_hop1",
            "n_hop2",
            "n_hop3",
            (
                1_000_000 * F.col("n_hop1")
                + 500_000 * F.col("n_hop2")
                + 333_333 * F.col("n_hop3")
            )
            .cast("long")
            .alias("harmonic_micro"),
        )
        .orderBy("seed")
    )


@register(
    "emb_mutual_knn_pairs",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND(list_cosine_similarity(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6)
                   AS cosine_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    topk AS (
        SELECT qid, nid, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine_sim DESC, nid) AS rnk
        FROM pairs
        QUALIFY rnk <= {KNN_K}
    )
    SELECT f.qid AS src, f.nid AS dst, f.cosine_sim,
           CAST(f.rnk AS BIGINT) AS rank_fwd,
           CAST(r.rnk AS BIGINT) AS rank_rev
    FROM topk f JOIN topk r ON r.qid = f.nid AND r.nid = f.qid
    WHERE f.qid < f.nid
    ORDER BY src, dst
    """,
)
def emb_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN pairs (SURVEY.md §2.12): undirected edges (i, j)
    where each vector is in the OTHER's cosine top-k — the
    symmetrization that turns a directed kNN list into the mutual
    graph spectral clustering, UMAP, and semantic-dedup clustering
    build on. Hub vectors (in everyone's top-k, reciprocating few)
    fall out exactly; that asymmetry filter is the point of "mutual".

    Exact-cosine discipline hash-verified on llm_similarity_topk:
    double accumulation, ROUND(·,6), (sim DESC, nid) rank tie-break —
    membership on both engines is fixture-verified to match.

    Scale: the directed top-k is the expensive stage (here the exact
    Arrow/numpy mapInPandas — the BLAS side-data pattern the driver
    hash-verified on llm_similarity_topk, which computes this exact
    relation; at 100 TB the ANN keys — IVF / LSH / sharded — produce
    the same (qid, nid, rank) relation); the mutual step is ONE
    self-join of that O(V·k) relation on the reversed pair, never a
    second pass over V² — the part this key pins.

    r13 optimization (guide §4.2): the directed top-k previously ran
    as the pure-JVM broadcast nested-loop + interpreted HOF dot + a
    V²-row window rank, AND was re-derived on BOTH sides of the mutual
    self-join (no subtree reuse) — two full V² passes. Now the top-k is
    the proven one-BLAS-product-per-batch worker (same tie-break
    contract, functions/embedding_kernels.py) and the O(V·k)
    result is localCheckpoint'd (bounded: V·k rows)
    so the self-join reads it instead of recomputing V².
    """
    e = spread(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    topk = e.mapInPandas(
        exact_topk(path_for(sf_dir, "embeddings"), KNN_K, "rnk"),
        schema="qid long, nid long, cosine_sim double, rnk integer",
    ).localCheckpoint(eager=False)
    fwd = topk.select(
        F.col("qid").alias("src"),
        F.col("nid").alias("dst"),
        "cosine_sim",
        F.col("rnk").cast("long").alias("rank_fwd"),
    )
    rev = topk.select(
        F.col("nid").alias("src"),
        F.col("qid").alias("dst"),
        F.col("rnk").cast("long").alias("rank_rev"),
    )
    return (
        fwd.join(rev, ["src", "dst"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst", "cosine_sim", "rank_fwd", "rank_rev")
        .orderBy("src", "dst")
    )
