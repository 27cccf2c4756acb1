"""Round-1 extension pack #5: graph analytics over derived edge tables
(degree distribution, triangle counting, fixed-iteration PageRank) and
training-pipeline extras (repetition-ratio quality signal, deterministic
mixture resampling, sharded corpus shuffle, join-key skew audit,
running-distinct window, binary-encoding scalar suite).

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. All patterns here are public
knowledge — the GraphX/Pregel PageRank formulation, the node-iterator
triangle-counting join shape (Schank & Wagner 2005), MAD/heavy-hitter skew
profiling, and the hash-shard shuffle used by public data-pipeline stacks —
expressed on the public PySpark DataFrame API over the driver's testdata.

Scale posture (SURVEY.md §7.6):
- Graphs are DERIVED from facts by aggregation; the heavy work (the
  edge-building groupBy) shuffles once on the edge key and every
  downstream step runs on the much smaller edge/node tables.
- PageRank iterates over the AGGREGATED graph (625 weighted edges here;
  at 100 TB the nation-roll-up is still tiny — the pattern generalizes to
  any bounded-cardinality entity graph). Transition probabilities come
  from exact integer weights; only the final rank is rounded.
- Triangle counting uses degree-ordered orientation + adjacency-list
  intersection (edge-iterator): each triangle closes once at its
  lowest-order vertex and out-degrees are bounded by O(√E), so no wedge
  set is ever materialized or shuffled.
- The shuffle/resample/skew ops are pure key functions (portable md5) or
  single-pass aggregations — no global sorts, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.functions.text import word_ngrams
from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_cumsum, grid_rank
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

# ---------------------------------------------------------------------------
# Graph fixture #1: part co-purchase graph
#
# Undirected edges between distinct parts appearing in the same order
# (lo < hi canonical orientation). The pair-explode is per-order local
# (items/order is bounded by order size, ~4 here), so edge generation is
# one self-equi-join on l_orderkey plus one dedup shuffle on the edge key.
# ---------------------------------------------------------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition: the single-file local scan would otherwise run the
    # self-join build on ONE task (SURVEY §7.9); no-op by count on a
    # many-partition 100-TB scan, and the join reuses this partitioning.
    li = spread(load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"), "l_orderkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .distinct()
    )


@register(
    "graph_degree_distribution",
    oracle="""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e
        ) ends GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_parts
    FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph — the first
    statistic of any graph workload (and the skew signal that decides
    whether downstream graph joins need hot-vertex handling).

    Each undirected edge contributes one degree to both endpoints
    (union-all of the two endpoint projections — no second join). Both
    groupBys are integer-keyed with map-side partials; the count-of-counts
    second shuffle is tiny (distinct degrees, not vertices).
    """
    e = _copurchase_edges(spark, sf_dir)
    ends = e.select(F.col("p1").alias("node")).unionAll(
        e.select(F.col("p2").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_parts"))


@register(
    "graph_triangle_count",
    oracle="""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.p1 = e1.p2
        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    )
    SELECT (SELECT COUNT(DISTINCT node) FROM (
                SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e) x
           ) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-purchase graph via the
    edge-iterator with degree-ordered adjacency intersection: orient
    every edge from its lower-(degree, id) endpoint to the higher, build
    sorted out-neighbor lists, and per directed edge u→v count
    |adj(u) ∩ adj(v)| — each triangle closes exactly once at its
    lowest-order vertex.

    This replaced the wedge-materializing node-iterator join, which
    shuffled ~37 M wedge rows at sf0.1 (27.7 s → 11 s measured; the
    remainder is the shared edge build). Degree orientation bounds
    out-degree by O(√E), so adjacency arrays stay worker-sized even on
    skewed graphs, and the intersection work is JVM-side array_intersect
    with no extra shuffle beyond the two adjacency joins on vertex keys.
    """
    # r12 optimization (guide §3.3/§5): e feeds six consumers (degree
    # build, orientation, anti side, n_nodes, n_edges), edir two, adj
    # two — the unshared plan re-derived the fact self-join per consumer
    # (36 lineitem scans, 304 physical nodes). Checkpointing the three
    # graph-sized intermediates (all orders of magnitude smaller than
    # the facts; same argument as the two graph keys below that already
    # do this) makes it ONE fact self-join: 5.1 s -> 3.5 s med at sf0.1,
    # and 1 fact pass instead of ~18 at 100 TB.
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    ends = e.select(F.col("p1").alias("node")).unionAll(
        e.select(F.col("p2").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").alias("deg"))
    ed = e.join(
        deg.select(F.col("node").alias("p1"), F.col("deg").alias("deg1")), "p1"
    ).join(deg.select(F.col("node").alias("p2"), F.col("deg").alias("deg2")), "p2")
    lt = F.struct("deg1", "p1") < F.struct("deg2", "p2")
    edir = ed.select(
        F.when(lt, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(lt, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    ).localCheckpoint(eager=True)
    adj = edir.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    ).localCheckpoint(eager=True)
    a_src = adj.select(F.col("src").alias("j_src"), F.col("nbrs").alias("nbrs_src"))
    a_dst = adj.select(F.col("src").alias("j_dst"), F.col("nbrs").alias("nbrs_dst"))
    tri = (
        edir.join(a_src, edir.src == a_src.j_src)
        .join(a_dst, edir.dst == a_dst.j_dst, "left")
        .select(
            F.size(
                F.array_intersect(
                    "nbrs_src",
                    F.coalesce(F.col("nbrs_dst"), F.array().cast("array<bigint>")),
                )
            ).alias("t")
        )
        .agg(F.sum("t").alias("n_triangles"))
    )
    ends = e.select(F.col("p1").alias("node")).unionAll(
        e.select(F.col("p2").alias("node"))
    )
    counts = ends.agg(F.countDistinct("node").alias("n_nodes")).crossJoin(
        e.agg(F.count("*").alias("n_edges"))
    )
    return counts.crossJoin(tri)


# ---------------------------------------------------------------------------
# Graph fixture #2: nation trade-flow graph + fixed-iteration PageRank
# ---------------------------------------------------------------------------

_PR_ITERS = 10  # damping factor 0.85 is written inline as 0.15/N + 0.85·Σ


def _pagerank_oracle() -> str:
    """Unrolled 10-iteration weighted PageRank as chained CTEs (DuckDB's
    recursive-CTE aggregation semantics differ from the textbook loop, so
    the oracle unrolls — same arithmetic, trivially auditable)."""
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
        SELECT nds.node,
               0.15 / nds.n + 0.85 * COALESCE(SUM({prev}.r * probs.p), 0) AS r
        FROM nds
        LEFT JOIN probs ON probs.dst = nds.node
        LEFT JOIN {prev} ON {prev}.node = probs.src
        GROUP BY nds.node, nds.n
    )"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(iters)
    return f"""
    WITH edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    probs AS (
        SELECT src, dst,
               CAST(w AS DOUBLE) / SUM(w) OVER (PARTITION BY src) AS p
        FROM edges
    ),
    nodes AS (
        SELECT DISTINCT src AS node FROM edges
        UNION
        SELECT DISTINCT dst FROM edges
    ),
    nds AS (SELECT node, (SELECT COUNT(*) FROM nodes) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / n AS r FROM nds),
    {chain}
    SELECT n.n_name AS nation, ROUND({prev}.r, 6) AS pagerank
    FROM {prev} JOIN nation n ON n.n_nationkey = {prev}.node
    """


@register("graph_pagerank_nation_flow", oracle=_pagerank_oracle())
def graph_pagerank_nation_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 10 fixed iterations) over the
    nation trade-flow graph: edge supplier-nation → customer-nation
    weighted by lineitem count.

    Scale shape: the ONLY fact-sized work is the edge aggregation — one
    lineitem⋈orders shuffle with the three dims broadcast — after which
    the graph is bounded (N² nation pairs). Iteration is the Pregel
    dataflow form (join ranks to out-edges, sum contributions per dst)
    expressed as 10 chained DataFrame joins on the aggregated table;
    transition probabilities divide exact integer weights, and only the
    final rank is rounded (,6 absorbs summation-order ulps, drift over
    10 iterations is ~1e-14). Dangling-node handling is unnecessary here
    because every nation has out-flow (complete 25×25 graph); on sparse
    graphs add the standard dangling-mass redistribution term.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer is fact-sized at scale (SF x 150k rows) — no broadcast
        # hint; AQE picks broadcast when it actually fits (VERDICT r2 #5).
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    probs = edges.select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    )

    # r13 optimization (guide §4.2): the graph is bounded by the NATION
    # domain (≤25 nodes, ≤625 probability rows), so the 10 unrolled SQL
    # iterations — each a double LEFT JOIN + GROUP BY over the
    # checkpointed matrix, plus the nodes/nds subtrees and their two
    # eager checkpoints — collapse into ONE single-group applyInPandas
    # fixpoint over the probability rows (the Bellman–Ford /
    # Bradley–Terry pattern from r12). The node set and its count
    # derive from the same rows inside the fold (distinct src ∪ dst —
    # exactly the former nodes CTE), making the fact-sized edge build
    # the plan's ONLY consumer-once subtree: no checkpoint needed at
    # all. Per-iteration arithmetic is the identical float64
    # 0.15/n + 0.85·Σ r·p; summation order differs from the engine's
    # GROUP BY fold, which the final ROUND(·,6) absorbs exactly as it
    # already absorbed the Spark-vs-DuckDB order difference (drift over
    # 10 iterations ~1e-14, stated in the docstring).
    def _pagerank_fold(pdf):
        import numpy as np
        import pandas as pd

        nodes = sorted(set(pdf["src"]) | set(pdf["dst"]))
        n = len(nodes)
        idx = {v: i for i, v in enumerate(nodes)}
        P = np.zeros((n, n))
        for s_, d_, p_ in zip(pdf["src"], pdf["dst"], pdf["p"]):
            P[idx[s_], idx[d_]] = p_
        r = np.full(n, 1.0 / n)
        for _ in range(_PR_ITERS):
            r = 0.15 / n + 0.85 * (P.T @ r)
        return pd.DataFrame({"node": [int(v) for v in nodes], "r": r})

    ranks = probs.groupBy(F.lit(0).alias("__g")).applyInPandas(
        _pagerank_fold, schema="node long, r double"
    )
    return ranks.join(F.broadcast(n), ranks.node == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.round("r", 6).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Join-key skew audit
# ---------------------------------------------------------------------------


@register(
    "audit_key_skew",
    oracle="""
    WITH ck AS (
        SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    pk AS (
        SELECT l_partkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
    ),
    stats AS (
        SELECT 'orders.o_custkey' AS key_col, COUNT(*) AS n_keys,
               SUM(cnt) AS n_rows, MAX(cnt) AS max_cnt, MIN(cnt) AS min_cnt,
               quantile_cont(cnt, 0.9) AS p90_cnt
        FROM ck
        UNION ALL
        SELECT 'lineitem.l_partkey', COUNT(*), SUM(cnt), MAX(cnt), MIN(cnt),
               quantile_cont(cnt, 0.9)
        FROM pk
    )
    SELECT key_col, n_keys, CAST(n_rows AS BIGINT) AS n_rows, max_cnt, min_cnt,
           ROUND(p90_cnt, 6) AS p90_cnt,
           ROUND(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_cnt,
           ROUND(CAST(max_cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew_factor
    FROM stats
    """,
)
def audit_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for the two hottest fact join keys — the
    diagnostic that decides between plain shuffle, AQE skew split, and
    explicit salting (`join_salted_skew`).

    One integer groupBy per key (map-side partial; the shuffle the join
    itself would pay anyway), then a 1-row summary per key: max/min/p90
    per-key row counts, and skew_factor = max_cnt / mean_cnt — >10 is the
    usual "salt this key" tripwire. Exact percentile shares the (n-1)·p
    convention with `agg_percentiles`.
    """

    def stats(df: DataFrame, key: str, label: str) -> DataFrame:
        counts = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("cnt"))
        return counts.agg(
            F.lit(label).alias("key_col"),
            F.count("*").alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_cnt"),
            F.min("cnt").alias("min_cnt"),
            F.round(F.expr("percentile(cnt, 0.9)"), 6).alias("p90_cnt"),
            F.round(F.sum("cnt").cast("double") / F.count("*"), 6).alias("avg_cnt"),
            F.round(
                F.max("cnt").cast("double") * F.count("*") / F.sum("cnt"), 6
            ).alias("skew_factor"),
        )

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return stats(o, "o_custkey", "orders.o_custkey").unionByName(
        stats(li, "l_partkey", "lineitem.l_partkey")
    )


# ---------------------------------------------------------------------------
# Window: running distinct count (first-occurrence flag + running sum)
# ---------------------------------------------------------------------------


@register(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn,
               ts
        FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_types_so_far
    FROM flagged
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user — not directly a SQL
    window aggregate; decomposed as a first-occurrence flag (row_number
    = 1 within (user, type)) running-summed over the user's timeline.

    Both windows partition per user (bounded state, no global sort);
    (ts, event_id) tie-break makes every rank deterministic. This flag
    trick is the scalable form of expanding-window distinct counts —
    collect_set-based alternatives carry O(k) state per row.
    """
    e = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("rn", F.row_number().over(w_first))
        .withColumn(
            "n_types_so_far",
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).over(w_run),
        )
        .select("user_id", "event_id", "n_types_so_far")
    )


# ---------------------------------------------------------------------------
# Scalar suite: binary encodings (base64 / hex / digest roundtrips)
# ---------------------------------------------------------------------------


@register(
    "scalar_encoding_suite",
    oracle="""
    SELECT c_custkey,
           to_base64(encode(c_name)) AS name_b64,
           hex(c_name) AS name_hex,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256,
           CAST(from_base64(to_base64(encode(c_name))) AS VARCHAR) = c_name
               AS b64_roundtrip_ok,
           length(to_base64(encode(c_name))) AS b64_len
    FROM customer
    WHERE c_custkey <= 200
    """,
)
def scalar_encoding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-encoding scalar family: base64/hex encodings, md5/sha256
    digests, and a decode-roundtrip proof — the portable-hash toolkit the
    dedup/split/shuffle operators build on (engine-private hashes like
    murmur3 never cross engines; these do).

    Pure projection over a pruned scan — no shuffle, fully codegen'd.
    """
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    b64 = F.base64(F.col("c_name").cast("binary"))
    return c.select(
        "c_custkey",
        b64.alias("name_b64"),
        F.hex(F.col("c_name")).alias("name_hex"),
        F.md5(F.col("c_name")).alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        (F.unbase64(b64).cast("string") == F.col("c_name")).alias("b64_roundtrip_ok"),
        F.length(b64).alias("b64_len"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline: repetition-ratio quality signal
# ---------------------------------------------------------------------------


@register(
    "llm_repetition_ratio",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, tok, COUNT(*) AS c
        FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) t
        GROUP BY doc_id, lang, tok
    ),
    per_doc AS (
        SELECT doc_id, lang,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct,
               MAX(c) AS top_token_cnt
        FROM tok GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_tokens, n_distinct,
           ROUND(CAST(top_token_cnt AS DOUBLE) / n_tokens, 6) AS top_token_share,
           ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
           CASE WHEN CAST(top_token_cnt AS DOUBLE) / n_tokens > 0.1 THEN 'repetitive'
                WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.2 THEN 'low_diversity'
                ELSE 'ok' END AS quality_flag
    FROM per_doc
    """,
)
def llm_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — top-token share and type-token
    ratio — the cheap quality filter that catches boilerplate/looping
    text before expensive dedup stages in a pretraining pipeline.

    explode → (doc, token) count → per-doc aggregate: both groupBys key
    on doc_id so the second reuses the first's partitioning (one real
    shuffle); all ratios derive from exact integer counts, rounded (,6)
    on both engines.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    tok = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    per_doc = tok.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_token_cnt"),
    )
    top_share = F.col("top_token_cnt").cast("double") / F.col("n_tokens")
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        F.round(top_share, 6).alias("top_token_share"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.when(top_share > 0.1, "repetitive")
        .when(ttr < 0.2, "low_diversity")
        .otherwise("ok")
        .alias("quality_flag"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline: deterministic per-language mixture resampling
# ---------------------------------------------------------------------------

_MIX_RATES = {"en": 1.0, "zh": 0.5, "es": 0.25, "fr": 0.75, "de": 0.5}


def _mix_rate_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {int(rate * 1000)}" for lang, rate in _MIX_RATES.items()
    )
    return f"CASE lang {whens} ELSE 100 END"


@register(
    "llm_mixture_resample",
    oracle=f"""
    WITH hashed AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1000 AS h,
               {_mix_rate_sql()} AS keep_below
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN h < keep_below THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN h < keep_below THEN n_tokens ELSE 0 END) AS BIGINT) AS sampled_tokens
    FROM hashed
    GROUP BY lang
    """,
)
def llm_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture resampling: each language is kept at a
    target rate (en 100%, fr 75%, zh/de 50%, es 25%) by thresholding a
    portable content hash — md5('mix_'||doc_id) mod 1000 < rate·1000.

    The mixture-weighting step of corpus assembly as a pure key function:
    no RNG state, no shuffle, identical membership on every engine and
    re-run (unlike sampleBy, whose selection is seed+partitioning
    dependent — kept as `llm_sample_stratified` for the Bernoulli form).
    """
    d = load(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 1000
    keep_below = F.lit(100)
    for lang, rate in _MIX_RATES.items():
        keep_below = F.when(F.col("lang") == lang, int(rate * 1000)).otherwise(keep_below)
    kept = h < keep_below
    return (
        d.select(
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            kept.alias("kept"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_sampled"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
                "sampled_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Training-pipeline: sharded deterministic corpus shuffle
# ---------------------------------------------------------------------------


@register(
    "llm_shuffle_shards",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id, lang,
           h % 8 AS shard,
           ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos_in_shard
    FROM hashed
    """,
)
def llm_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle, sharded: md5 hash assigns each
    doc to one of 8 shards, and position within a shard is the rank of
    the hash (doc_id tie-break). Reading shards in (shard, pos) order IS
    a uniform random permutation of the corpus — the training-order
    shuffle — without any global sort: each shard sorts independently
    (partitioned window), so the pattern scales to any corpus size by
    raising the shard count.

    Contrast with a single ROW_NUMBER over md5(doc_id): same statistical
    shuffle, but one task sorts the world.
    """
    d = load(spark, sf_dir, "documents")
    h = md5_long(F.concat(F.lit("shuf_"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", "lang", h.alias("h"))
        .withColumn("shard", F.col("h") % 8)
        .select(
            "doc_id",
            "lang",
            "shard",
            F.row_number().over(w).alias("pos_in_shard"),
        )
    )


# ---------------------------------------------------------------------------
# Training-pipeline: benchmark decontamination (train/test shingle overlap)
# ---------------------------------------------------------------------------


@register(
    "llm_decontaminate",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               CAST(('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 AS b
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, b,
               array_to_string(list_slice(toks, i, i + 4), ' ') AS shingle
        FROM (
            SELECT doc_id, lang, b, toks,
                   unnest(range(1, greatest(len(toks) - 3, 1))) AS i
            FROM base
        ) x
    ),
    train_sh AS (SELECT DISTINCT shingle FROM sh WHERE b < 8),
    test_sh AS (SELECT doc_id, lang, shingle FROM sh WHERE b = 9)
    SELECT t.doc_id, t.lang,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           ROUND(CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS contamination_ratio,
           SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) * 10 >= COUNT(*)
               AS is_contaminated
    FROM test_sh t LEFT JOIN train_sh tr USING (shingle)
    GROUP BY t.doc_id, t.lang
    """,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every TEST-split document, the share
    of its 5-token shingles that also appear anywhere in the TRAIN split
    (the n-gram-overlap decontamination check run before any benchmark
    eval on a trained model). Splits come from the same portable
    md5(doc_id) mod 10 assignment as `llm_split_hash` — the check is a
    pure function of the corpus, reproducible on any engine.

    Spark shape: shingles are built JVM-side by `word_ngrams` (no Python
    boundary, no self-join); a document of fewer than 5 tokens has none
    and drops out, as in the oracle. The only fact-sized shuffle is the
    shingle equi-join, with the train side pre-deduplicated. The
    contamination flag uses the exact integer form
    (10·hits >= total, i.e. ratio >= 0.1) — no float threshold. At 100 TB
    the join key would be a 64-bit hash of the shingle rather than the
    string (same plan, ~10× less shuffle traffic); the string form keeps
    the oracle byte-identical here.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    b = md5_long(F.concat(F.lit("split_"), F.col("doc_id").cast("string"))) % 10
    sh = word_ngrams(d.withColumn("b", b), 5, "doc_id", "lang", "b")
    train_sh = sh.where(F.col("b") < 8).select("ngram").distinct()
    test_sh = sh.where(F.col("b") == 9)
    hit = F.col("tr_shingle").isNotNull()
    joined = test_sh.join(
        train_sh.select(F.col("ngram").alias("tr_shingle")),
        test_sh.ngram == F.col("tr_shingle"),
        "left",
    )
    return joined.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_shingles"),
        F.sum(hit.cast("long")).alias("n_contaminated"),
        F.round(
            F.sum(hit.cast("long")).cast("double") / F.count("*"), 6
        ).alias("contamination_ratio"),
        (F.sum(hit.cast("long")) * 10 >= F.count("*")).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# Graph: k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------


@register("graph_kcore", oracle=None)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph by iterative
    peeling: repeatedly delete vertices with degree < k; survivors form
    the k-core. Reports surviving node/edge counts for k = 2..6 — the
    density profile used to find tightly-bundled product groups (and, in
    dedup pipelines, near-dup clusters dense enough to need re-canonicalization).

    Rows-only: the fixpoint is not SQL-expressible (DuckDB recursive CTEs
    cannot re-aggregate degrees per round); tests/test_scale_helpers.py
    pins the result against a Python peeling oracle at sf0.001.

    Scale shape: each peel round is one degree aggregation + one semi
    join, all keyed on vertex id (co-partitioned shuffles); rounds are
    bounded by the peeling depth (small for near-uniform graphs).
    localCheckpoint truncates per-round lineage exactly as in
    llm_dedup_cluster_cc. The k-loop reuses the (k-1)-core as its start —
    peeling k never resurrects vertices, so work shrinks monotonically.
    """
    e0 = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)

    def peel(edges: DataFrame, n_edges: int, k: int) -> tuple[DataFrame, int]:
        while True:
            deg = (
                edges.select(F.col("p1").alias("node"))
                .unionAll(edges.select(F.col("p2").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("deg"))
            )
            keep = deg.where(F.col("deg") >= k).select("node")
            edges = (
                edges.join(
                    keep.select(F.col("node").alias("p1")), "p1", "left_semi"
                )
                .join(keep.select(F.col("node").alias("p2")), "p2", "left_semi")
                .localCheckpoint(eager=True)
            )
            n_after = edges.count()
            if n_after == n_edges:
                return edges, n_after
            n_edges = n_after

    rows = []
    core, n_core = e0, e0.count()
    for k in range(2, 7):
        core, n_core = peel(core, n_core, k)
        nodes = (
            core.select(F.col("p1").alias("node"))
            .unionAll(core.select(F.col("p2").alias("node")))
            .agg(F.countDistinct("node").alias("n_core_nodes"))
        )
        rows.append(
            nodes.crossJoin(core.agg(F.count("*").alias("n_core_edges"))).select(
                F.lit(k).alias("k"), "n_core_nodes", "n_core_edges"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Time-series: time-weighted average (value holds until next observation)
# ---------------------------------------------------------------------------


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               epoch_us(ts) AS t,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS t_next
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_intervals,
           CAST(SUM(t_next - t) // 1000000 AS BIGINT) AS total_dur_s,
           ROUND(CAST(SUM(CAST(cents AS DECIMAL(18,0))
                          * CAST(t_next - t AS DECIMAL(18,0))) AS DOUBLE)
                 / (100.0 * SUM(t_next - t)), 6) AS time_weighted_avg
    FROM seq
    WHERE t_next IS NOT NULL
    GROUP BY event_type
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per event type, where each
    observation holds until the user's next event (LOCF weighting) — the
    correct mean for irregularly-sampled telemetry, vs the naive row mean
    that over-weights bursts.

    Exactness: value is 2-decimal → integer cents; durations are exact
    epoch-microsecond differences; the weighted sum is decimal(18)×
    decimal(18) products summed in decimal — bit-identical on both
    engines, with ONE double division at the end (round ,6). The LEAD
    window partitions per user (bounded state); the aggregation is
    map-side partial over 5 type keys.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    ).where(F.col("t_next").isNotNull())
    dur = F.col("t_next") - F.col("t")
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        # floor-div on BOTH engines: cast-of-double-division truncates in
        # Spark but rounds in DuckDB (off-by-one at .5+ boundaries)
        F.floor(F.sum(dur) / 1000000).cast("long").alias("total_dur_s"),
        F.round(
            F.sum(
                F.col("cents").cast("decimal(18,0)") * dur.cast("decimal(18,0)")
            ).cast("double")
            / (F.lit(100.0) * F.sum(dur)),
            6,
        ).alias("time_weighted_avg"),
    )


# ---------------------------------------------------------------------------
# Aggregates: bitwise AND/OR/XOR
# ---------------------------------------------------------------------------


@register(
    "agg_bitwise",
    oracle="""
    SELECT o_orderpriority,
           bit_and(o_custkey) AS key_and,
           bit_or(o_custkey) AS key_or,
           bit_xor(o_custkey) AS key_xor,
           bit_or(CASE WHEN o_orderstatus = 'F' THEN 1
                       WHEN o_orderstatus = 'O' THEN 2
                       ELSE 4 END) AS status_mask
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and/bit_or/bit_xor) — flag-mask
    rollups (which statuses occur per group, encoded as one integer) and
    XOR checksums. All three are commutative/associative integer ops:
    map-side partial aggregation, order-independent, exact on both
    engines at any scale.
    """
    o = load(spark, sf_dir, "orders")
    status_bit = (
        F.when(F.col("o_orderstatus") == "F", 1)
        .when(F.col("o_orderstatus") == "O", 2)
        .otherwise(4)
    )
    return o.groupBy("o_orderpriority").agg(
        F.bit_and("o_custkey").alias("key_and"),
        F.bit_or("o_custkey").alias("key_or"),
        F.bit_xor("o_custkey").alias("key_xor"),
        F.bit_or(status_bit).alias("status_mask"),
    )


# ---------------------------------------------------------------------------
# Set operation: EXCEPT ALL (multiset difference)
# ---------------------------------------------------------------------------


@register(
    "setop_except_all",
    oracle="""
    SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_orderstatus <> 'P'
    EXCEPT ALL
    SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_custkey < 750
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (`df.exceptAll`) — bag semantics: each row on
    the left survives as many times as its left-count exceeds its
    right-count (vs EXCEPT's set semantics in `setop_except`). Planned as
    a count-compare aggregate join — one shuffle on the row value.
    """
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus")
    left = o.where(F.col("o_orderstatus") != "P")
    right = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 750).select(
        "o_orderpriority", "o_orderstatus"
    )
    return left.exceptAll(right)


# ---------------------------------------------------------------------------
# Training-pipeline: compression-ratio quality signal (Arrow UDF + zlib)
# ---------------------------------------------------------------------------


@register("llm_compression_quality", oracle=None)
def llm_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap proxy for
    repetitive/boilerplate text (highly compressible ⇒ low information
    density; used alongside `llm_repetition_ratio` as a pretraining
    quality gate).

    Arrow-path showcase done right: mapInPandas with a fixed zlib level —
    one Python worker round-trip per PARTITION of Arrow batches, never
    per row; the stage is embarrassingly parallel and shuffle-free (the
    final per-lang ordering is the only exchange). Rows-only: zlib is not
    SQL-expressible; determinism (fixed level ⇒ identical bytes) and a
    direct-zlib spot check live in tests/test_scale_helpers.py.
    """
    import pandas as pd

    d = spread(load(spark, sf_dir, "documents"), "doc_id")

    def score(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp_len = raw.map(lambda b: len(zlib.compress(b, 6)))
            raw_len = raw.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "raw_bytes": raw_len,
                    "compressed_bytes": comp_len,
                    "compression_ratio": (comp_len / raw_len).round(6),
                }
            )

    out = d.select("doc_id", "lang", "text").mapInPandas(
        score,
        schema=(
            "doc_id long, lang string, raw_bytes long, "
            "compressed_bytes long, compression_ratio double"
        ),
    )
    return out.withColumn(
        "quality_flag",
        F.when(F.col("compression_ratio") < 0.3, "highly_compressible")
        .when(F.col("compression_ratio") > 0.8, "incompressible")
        .otherwise("normal"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline: vocabulary coverage curve
# ---------------------------------------------------------------------------


@register(
    "llm_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ),
    ranked AS (
        SELECT token, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
               SUM(cnt) OVER (ORDER BY cnt DESC, token
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_cnt,
               SUM(cnt) OVER () AS total_cnt
        FROM vocab
    )
    SELECT rank, token, cnt,
           ROUND(CAST(cum_cnt AS DOUBLE) / total_cnt, 6) AS cumulative_coverage
    FROM ranked
    WHERE rank <= 20
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: top-20 corpus tokens by frequency with
    the cumulative share of all token occurrences they cover — the
    statistic behind tokenizer vocab sizing (how big must the vocab be to
    cover X% of the corpus).

    The fact-sized work is the (token → count) aggregation — map-side
    partial, one shuffle on token. The ranking windows run over the
    AGGREGATED vocabulary (bounded by vocab size, never raw tokens);
    (cnt DESC, token) is a total order so ranks and cumulative integer
    sums are deterministic on both engines.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    order = [F.desc("cnt"), F.asc("token")]
    tot = vocab.agg(F.sum("cnt").alias("total_cnt"))
    ranked = grid_cumsum(
        grid_rank(vocab.crossJoin(F.broadcast(tot)), order, "rank"),
        order,
        [("cum_cnt", "cnt")],
        keep=["token", "cnt", "rank", "total_cnt"],
    )
    return ranked.where(F.col("rank") <= 20).select(
        "rank",
        "token",
        "cnt",
        F.round(F.col("cum_cnt").cast("double") / F.col("total_cnt"), 6).alias(
            "cumulative_coverage"
        ),
    )


# ---------------------------------------------------------------------------
# Robust statistics: MAD-based anomaly detection (z-score's robust twin)
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           COUNT(*) AS n_events,
           ROUND(MAX(d.med), 6) AS median_value,
           ROUND(MAX(m2.mad), 6) AS mad_value,
           CAST(SUM(CASE WHEN ABS(d.value - d.med) > 3 * 1.4826 * m2.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m2 USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median + MAD (median
    absolute deviation), flagging |x − med| > 3·1.4826·MAD — immune to
    the outliers that inflate `events_anomaly_zscore`'s stddev.

    Both engines share the (n−1)·p percentile interpolation convention
    (proven by `agg_percentiles`); the 5 median/MAD rows broadcast back
    onto the fact scan, which never reshuffles — two bounded aggregations
    + two broadcast joins, the same plan shape as the z-score key.
    """
    e = load(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad_value"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


def _copurchase_edges_min2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges with co-occurrence count >= 2 — the sparsified
    graph for community detection (the full distinct-pair graph is so
    dense that LPA collapses it into one community; repeated
    co-occurrence is the meaningful tie)."""
    li = spread(load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"), "l_orderkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("p1", "p2")
    )


# ---------------------------------------------------------------------------
# Graph: synchronous label propagation (community detection)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 5


@register("graph_label_propagation", oracle=None)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (5 fixed rounds) on the sparsified
    part co-purchase graph (co-occurrence >= 2): every vertex starts as its own community and each
    round adopts the most frequent label among its neighbors, ties broken
    by smallest label — fully deterministic (unlike classic randomized
    LPA), so the result is pinned against a Python implementation in
    tests/test_scale_helpers.py. Output: community-size distribution.

    Scale shape: each round is one edge⋈labels join (shuffle on vertex
    id) + a (vertex, label) count + a max_by(label, (cnt, -label))
    argmax — the GraphX Pregel LPA expressed as DataFrame ops, with
    localCheckpoint truncating per-round lineage. Synchronous updates
    mean no ordering dependence across partitions.
    """
    e = _copurchase_edges_min2(spark, sf_dir).localCheckpoint(eager=True)
    # undirected: each edge contributes both directions
    directed = e.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(e.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))
    labels = (
        directed.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_LPA_ROUNDS):
        nbr_labels = directed.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counts = nbr_labels.groupBy("node", "label").agg(F.count("*").alias("c"))
        # argmax by (count desc, label asc): max_by over struct(c, -label)
        labels = counts.groupBy("node").agg(
            F.max_by("label", F.struct(F.col("c"), (-F.col("label")))).alias("label")
        ).localCheckpoint(eager=True)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return sizes.groupBy("community_size").agg(
        F.count("*").alias("n_communities")
    )


# ---------------------------------------------------------------------------
# Closed-form OLS from exact moments (SQL-expressible regression twin)
# ---------------------------------------------------------------------------


@register(
    "agg_ols_closed_form",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
           ROUND(POW(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r_squared
    FROM m
    """,
)
def agg_ols_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple OLS per returnflag: slope/intercept/R² of
    l_extendedprice ~ l_quantity, derived from the five exact decimal
    moments (n, Σx, Σy, Σxx, Σxy, Σyy) — the SQL-expressible,
    hash-checkable twin of `ml_train_regression`.

    The 100-TB regression pattern: moments are algebraic → one map-side
    partial aggregation, five numbers per group across the shuffle; every
    2-decimal product is exact in DECIMAL, and the handful of double ops
    that follow are identical expression trees on both engines
    (the `agg_corr_covar` discipline).
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / F.col("n"), 6).alias("intercept"),
        F.round(
            F.pow(nd * sxy - sx * sy, 2) / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Time-bound conversion funnel (each step within 2h of the previous)
# ---------------------------------------------------------------------------


@register(
    "events_funnel_timebound",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
        FROM events GROUP BY user_id
    ),
    with_click AS (
        SELECT p.user_id, p.t_view,
               MIN(CASE WHEN e.event_type = 'click'
                         AND epoch_us(e.ts) >= p.t_view
                         AND epoch_us(e.ts) < p.t_view + 7200000000
                        THEN epoch_us(e.ts) END) AS t_click
        FROM per_user p JOIN events e ON e.user_id = p.user_id
        GROUP BY p.user_id, p.t_view
    ),
    with_purchase AS (
        SELECT c.user_id, c.t_view, c.t_click,
               MIN(CASE WHEN e.event_type = 'purchase'
                         AND epoch_us(e.ts) >= c.t_click
                         AND epoch_us(e.ts) < c.t_click + 7200000000
                        THEN epoch_us(e.ts) END) AS t_purchase
        FROM with_click c JOIN events e ON e.user_id = c.user_id
        GROUP BY c.user_id, c.t_view, c.t_click
    )
    SELECT COUNT(t_view) AS n_view,
           COUNT(t_click) AS n_click_2h,
           COUNT(t_purchase) AS n_purchase_2h,
           ROUND(CAST(COUNT(t_click) AS DOUBLE)
                 / NULLIF(COUNT(t_view), 0), 6) AS view_to_click,
           ROUND(CAST(COUNT(t_purchase) AS DOUBLE)
                 / NULLIF(COUNT(t_click), 0), 6) AS click_to_purchase
    FROM with_purchase
    """,
)
def events_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound ordered funnel: view → click within 2 h → purchase
    within 2 h of the click. Unbounded funnels (`events_funnel`)
    over-count conversions that happen days later; the windowed variant
    is what product analytics actually reports.

    Same plan discipline as the base funnel: a cascade of conditional-MIN
    groupBys all keyed on user_id — the shuffle is paid once and reused
    (co-partitioned joins). Timestamps compared as exact epoch-µs
    integers; the two ratio doubles divide exact integer counts.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    two_h = 7_200_000_000
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias("t_view")
    )
    with_click = (
        per_user.join(e, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("t") >= F.col("t_view"))
                    & (F.col("t") < F.col("t_view") + two_h),
                    F.col("t"),
                )
            ).alias("t_click")
        )
    )
    with_purchase = (
        with_click.join(e, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("t") >= F.col("t_click"))
                    & (F.col("t") < F.col("t_click") + two_h),
                    F.col("t"),
                )
            ).alias("t_purchase")
        )
    )
    return with_purchase.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click_2h"),
        F.count("t_purchase").alias("n_purchase_2h"),
        F.round(
            F.count("t_click").cast("double") / F.nullif(F.count("t_view"), F.lit(0)), 6
        ).alias("view_to_click"),
        F.round(
            F.count("t_purchase").cast("double") / F.nullif(F.count("t_click"), F.lit(0)),
            6,
        ).alias("click_to_purchase"),
    )


# ---------------------------------------------------------------------------
# Time-series: lag-1 autocorrelation of the daily event-count series
# ---------------------------------------------------------------------------


@register(
    "events_autocorrelation",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT d.event_type, d.c AS x, p.c AS y
        FROM daily d JOIN daily p
          ON p.event_type = d.event_type AND p.day = d.day - INTERVAL 1 DAY
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM pairs GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS lag1_autocorr
    FROM m
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the per-type daily event-count series —
    the burstiness/seasonality statistic of stream monitoring (near 0 ⇒
    memoryless arrivals, near 1 ⇒ trending volume).

    The raw shuffle is the integer daily count; the (day, day−1) pairing
    joins the AGGREGATED series to itself (≤ days×types rows), and the
    correlation derives from exact integer moments via the
    `agg_corr_covar` expression-tree discipline.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("c"))
    d = daily.alias("d")
    p = daily.alias("p")
    pairs = d.join(
        p,
        (F.col("p.event_type") == F.col("d.event_type"))
        & (F.col("p.day") == F.date_sub(F.col("d.day"), 1)),
    ).select(
        F.col("d.event_type").alias("event_type"),
        F.col("d.c").alias("x"),
        F.col("p.c").alias("y"),
    )
    m = pairs.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "event_type",
        n.cast("long").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# Inequality: Gini coefficient per group (rank-weighted exact cents)
# ---------------------------------------------------------------------------


@register(
    "agg_gini",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT o_orderpriority, v,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY v, o_orderkey) AS i
        FROM cents
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(
               2.0 * CAST(SUM(i * v) AS DOUBLE)
               / (COUNT(*) * CAST(SUM(v) AS DOUBLE))
               - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    GROUP BY o_orderpriority
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per priority class — the
    inequality statistic (0 = uniform spend, →1 = concentrated), via the
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    exact cents.

    The sort is a PARTITIONED window (per priority class), never global;
    rank·cents products and both sums are exact longs (rank ≤ n,
    cents ≤ 5e7 ⇒ products < 2^63 far past this scale), with two double
    divisions at the end. (o_orderkey tie-break ⇒ deterministic ranks;
    Σi·v is tie-order-invariant anyway since equal v swap freely.)
    """
    o = load(spark, sf_dir, "orders")
    v = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy("v", "o_orderkey")
    ranked = o.select("o_orderpriority", v.alias("v"), "o_orderkey").withColumn(
        "i", F.row_number().over(w)
    )
    n = F.count("*")
    return ranked.groupBy("o_orderpriority").agg(
        n.alias("n_orders"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("v")).cast("double")
            / (n * F.sum("v").cast("double"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# NULL semantics suite (three-valued logic edge cases)
# ---------------------------------------------------------------------------


@register(
    "scalar_null_semantics_suite",
    oracle="""
    SELECT o_orderkey,
           (CASE WHEN NULLIF(o_orderstatus, 'O') IS NULL
                 THEN 'null' ELSE 'set' END) AS derived_null_state,
           NULLIF(o_orderstatus, 'O') AS status_nullif,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_folded,
           (o_totalprice > 100000) AND (o_orderstatus = 'O') AS and_result,
           (NULL = NULL) IS NULL AS null_eq_is_null,
           (o_custkey IN (1, 2, 3)) AS in_small,
           CASE WHEN o_custkey IS DISTINCT FROM NULL THEN 1 ELSE 0 END AS key_not_null
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def scalar_null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic edge cases — NULLIF/COALESCE folding, NULL=NULL
    propagation, IS DISTINCT FROM — the semantics corner where engines
    historically diverge; both must agree row-for-row.

    Pure projection over a pruned, pushed-down scan.
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    # no nullable columns in the fixture -> derive NULLs with NULLIF
    status_nullif = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        F.when(status_nullif.isNull(), "null").otherwise("set").alias("derived_null_state"),
        status_nullif.alias("status_nullif"),
        F.coalesce(status_nullif, F.lit("open")).alias("status_folded"),
        ((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O")).alias(
            "and_result"
        ),
        (F.lit(None) == F.lit(None)).isNull().alias("null_eq_is_null"),
        F.col("o_custkey").isin(1, 2, 3).alias("in_small"),
        F.when(F.expr("o_custkey IS DISTINCT FROM NULL"), 1).otherwise(0).alias(
            "key_not_null"
        ),
    )


# ---------------------------------------------------------------------------
# Multiple DISTINCT aggregates in one pass (Expand-based plan)
# ---------------------------------------------------------------------------


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           COUNT(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)) AS n_months,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over DIFFERENT columns in one
    aggregation — Catalyst plans this with an Expand node (one replicated
    row per distinct-group) so all distincts resolve in a single shuffle
    round instead of N self-joins; the plain COUNT(*) rides along.

    At 100 TB the Expand multiplies shuffle rows by the number of
    distinct clauses — acceptable for 3, and still strictly better than
    separate jobs re-scanning the fact.
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct(F.to_date(F.date_trunc("month", "o_orderdate"))).alias(
            "n_months"
        ),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Lateral explode with null preservation (explode vs explode_outer)
# ---------------------------------------------------------------------------


@register(
    "scalar_explode_outer",
    oracle="""
    WITH arrs AS (
        SELECT vec_id, list_slice(embedding, 1, vec_id % 3) AS arr
        FROM embeddings WHERE vec_id < 100
    ),
    exploded AS (
        SELECT vec_id, ROUND(CAST(unnest(arr) AS DOUBLE), 4) AS element
        FROM arrs WHERE len(arr) > 0
        UNION ALL
        SELECT vec_id, NULL FROM arrs WHERE len(arr) = 0
    )
    SELECT vec_id,
           COUNT(*) AS n_rows_emitted,
           CAST(SUM(CASE WHEN element IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rows,
           ROUND(COALESCE(SUM(element), 0), 4) AS element_sum
    FROM exploded
    GROUP BY vec_id
    """,
)
def scalar_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer semantics: empty arrays still emit one NULL-element
    row (plain explode silently drops the parent — the classic lateral
    data-loss bug). Arrays of varying length (vec_id mod 3, including
    empty) are derived from the embedding column; per-parent emitted-row
    accounting proves the null-preservation contract.

    The oracle spells the same semantics as unnest-UNION-ALL (DuckDB has
    no outer unnest). Narrow codegen lateral — no shuffle before the
    final small aggregation.
    """
    e = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    arrs = e.select(
        "vec_id",
        F.expr("slice(embedding, 1, CAST(vec_id % 3 AS INT))").alias("arr"),
    )
    exploded = arrs.select("vec_id", F.explode_outer("arr").alias("raw")).select(
        "vec_id", F.round(F.col("raw").cast("double"), 4).alias("element")
    )
    return exploded.groupBy("vec_id").agg(
        F.count("*").alias("n_rows_emitted"),
        F.sum(F.col("element").isNull().cast("long")).alias("n_null_rows"),
        F.round(F.coalesce(F.sum("element"), F.lit(0.0)), 4).alias("element_sum"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): gap-filled monthly spine
# ---------------------------------------------------------------------------


@register(
    "relational_recursive_spine",
    oracle="""
    WITH RECURSIVE months(m, hi) AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
        FROM orders
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months WHERE m < hi
    ),
    monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT strftime(months.m, '%Y-%m') AS month,
           COALESCE(monthly.n_orders, 0) AS n_orders,
           (monthly.m IS NULL) AS is_gap
    FROM months LEFT JOIN monthly ON monthly.m = months.m
    """,
)
def relational_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE, EP2 entry point): a
    month-by-month spine from MIN to MAX order date built by recursion,
    left-joined to monthly counts so empty months surface explicitly —
    the recursive twin of `events_resample_gapfill`'s sequence+explode.

    Recursion depth = number of months (bounded by data span, not row
    count); the min/max bounds are computed ONCE in the anchor and
    carried as recursion columns — a scalar subquery in the recursive
    member re-evaluates per step (measured 33 s for ~80 steps vs ~2 s
    carried). The only fact-sized work is the monthly aggregate.
    """
    from classification_problem_with_pyspark_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE months(m, hi) AS (
            SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
                   CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
            FROM orders
            UNION ALL
            SELECT CAST(m + INTERVAL '1' MONTH AS DATE), hi
            FROM months WHERE m < hi
        ),
        monthly AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               COALESCE(monthly.n_orders, 0) AS n_orders,
               (monthly.m IS NULL) AS is_gap
        FROM months LEFT JOIN monthly ON monthly.m = months.m
        """
    )


# ---------------------------------------------------------------------------
# VARIANT type (Spark 4): semi-structured ingestion without a schema
# ---------------------------------------------------------------------------


@register(
    "scalar_variant_suite",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_path
    FROM events
    GROUP BY event_type
    """,
)
def scalar_variant_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4): parse_json once into the binary
    semi-structured type, then typed path extraction (`v:k`,
    variant_get) — the schema-on-read path that replaces repeated string
    re-parsing (get_json_object re-tokenizes the text per call; VARIANT
    parses once and navigates a binary encoding).

    Output is plain integers so the DuckDB oracle (json_extract over the
    same props) hash-matches; the VARIANT value itself never crosses the
    comparison boundary. Missing paths return NULL on both engines.
    """
    e = load(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("v"))
    k = F.expr("CAST(v:k AS BIGINT)")
    missing = F.expr("variant_get(v, '$.missing', 'string')")
    return v.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        F.sum(missing.isNull().cast("long")).alias("n_missing_path"),
    )


# ---------------------------------------------------------------------------
# String collations (Spark 4): case-insensitive semantics without lower()
# ---------------------------------------------------------------------------


@register(
    "scalar_collation_suite",
    oracle="""
    SELECT lower(o_orderpriority) AS priority_ci,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN lower(o_orderstatus) = 'o' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_open_ci
    FROM orders
    GROUP BY lower(o_orderpriority)
    """,
)
def scalar_collation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collated string semantics (Spark 4): grouping and equality under
    UNICODE_CI collation — case-insensitive comparisons carried by the
    TYPE instead of wrapping every expression in lower() (at 100 TB,
    collation-aware grouping also keeps statistics and pushdown aware of
    the real key domain).

    The oracle expresses the identical semantics with lower(); the output
    key is lower-cased on both engines so the hash compares the VALUES,
    not the collation metadata.
    """
    o = load(spark, sf_dir, "orders")
    ci = F.expr("o_orderpriority COLLATE UNICODE_CI")
    status_ci = F.expr("o_orderstatus COLLATE UNICODE_CI")
    return (
        o.groupBy(ci.alias("pr"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(status_ci == "o", 1).otherwise(0)).alias("n_open_ci"),
        )
        .select(
            F.lower(F.col("pr").cast("string")).alias("priority_ci"),
            "n_orders",
            "n_open_ci",
        )
    )


# ---------------------------------------------------------------------------
# SQL scalar UDF (Spark 4 CREATE FUNCTION ... RETURN)
# ---------------------------------------------------------------------------


@register(
    "udf_sql_scalar",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 1.08, 2) AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS taxed_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def udf_sql_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN expr`): the
    body is INLINED into the plan by Catalyst — full codegen, pushdown
    through it, zero Python boundary; the right tool for shared business
    logic (contrast `udf_row_legacy`, which black-boxes the expression).

    The oracle applies the same expression textually — proving the UDF is
    semantically transparent.
    """
    from classification_problem_with_pyspark_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION with_tax(p DOUBLE) "
        "RETURNS DOUBLE RETURN ROUND(p * 1.08, 2)"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(with_tax(o_totalprice) AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS taxed_total
        FROM orders
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Time-series: local peak detection on the daily series
# ---------------------------------------------------------------------------


@register(
    "events_peak_detection",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    flagged AS (
        SELECT event_type, day, c,
               LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS prev_c,
               LEAD(c) OVER (PARTITION BY event_type ORDER BY day) AS next_c
        FROM daily
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           c AS n_events,
           (c > prev_c AND c > next_c) AS is_peak,
           (c < prev_c AND c < next_c) AS is_trough
    FROM flagged
    WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
    """,
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peaks/troughs in the per-type daily event series (strictly
    greater/less than both neighbors) — the base signal of burst and
    anomaly monitors, composable with `events_anomaly_mad` for severity.

    Windows run over the AGGREGATED daily series (days×types rows),
    partitioned per type; integer comparisons only. Boundary days (no
    neighbor) are excluded identically on both engines.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    flagged = daily.select(
        "event_type",
        "day",
        "c",
        F.lag("c").over(w).alias("prev_c"),
        F.lead("c").over(w).alias("next_c"),
    ).where(F.col("prev_c").isNotNull() & F.col("next_c").isNotNull())
    return flagged.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("c").alias("n_events"),
        ((F.col("c") > F.col("prev_c")) & (F.col("c") > F.col("next_c"))).alias(
            "is_peak"
        ),
        ((F.col("c") < F.col("prev_c")) & (F.col("c") < F.col("next_c"))).alias(
            "is_trough"
        ),
    )


# ---------------------------------------------------------------------------
# Data quality: Benford first-digit profile
# ---------------------------------------------------------------------------


@register(
    "agg_benford_profile",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS d
        FROM orders WHERE o_totalprice > 0
    )
    SELECT d AS first_digit,
           COUNT(*) AS n_values,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM digits), 6) AS observed_share,
           ROUND(log10(1.0 + 1.0 / d), 6) AS benford_expected
    FROM digits
    GROUP BY d
    """,
)
def agg_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the classic
    fabricated-data / unit-mixing detector: natural multiplicative data
    follows P(d)=log10(1+1/d); flat or spiked distributions flag
    synthetic or truncated values.

    First digits come from exact integer cents (string of a long — no
    float formatting ambiguity); shares divide exact counts; expected
    values are the same closed form on both engines. One integer groupBy
    over 9 keys, map-side partial.
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("d")
    )
    total = digits.agg(F.count("*").alias("n_total"))
    return (
        digits.groupBy("d")
        .agg(F.count("*").alias("n_values"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("d").alias("first_digit"),
            "n_values",
            F.round(F.col("n_values").cast("double") / F.col("n_total"), 6).alias(
                "observed_share"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("benford_expected"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis: adjacent word-bigram frequencies (BPE-merge statistics)
# ---------------------------------------------------------------------------


@register(
    "llm_word_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
        SELECT t[i] || ' ' || t[i + 1] AS bigram
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks) x
    ),
    counted AS (
        SELECT bigram, COUNT(*) AS cnt FROM bigrams GROUP BY bigram
    )
    SELECT bigram, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rank
    FROM counted
    QUALIFY rank <= 15
    """,
)
def llm_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 adjacent word bigrams across the corpus — the pair-count
    statistic that drives one BPE merge step (most frequent adjacent pair
    becomes the next merge) and collocation mining.

    Bigrams are built JVM-side by `word_ngrams` (no position self-join);
    the only fact-sized shuffle is the (bigram → count) aggregation, and
    ranking runs over
    the aggregated pair vocabulary with a total (cnt DESC, bigram) order.
    """
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    counted = (
        word_ngrams(d, 2).groupBy(F.col("ngram").alias("bigram")).agg(F.count("*").alias("cnt"))
    )
    return (
        grid_rank(counted, [F.desc("cnt"), F.asc("bigram")], "rank")
        .where(F.col("rank") <= 15)
        .select("bigram", "cnt", "rank")
    )


# ---------------------------------------------------------------------------
# Range join at scale: bucket-and-refine (equi-join, no nested loop)
# ---------------------------------------------------------------------------


@register(
    "join_range_bucketed",
    oracle="""
    WITH intervals AS (
        SELECT user_id,
               MIN(epoch_us(ts)) AS w_start,
               MIN(epoch_us(ts)) + 7200000000 AS w_end
        FROM events
        GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
    )
    SELECT i.user_id,
           COUNT(*) AS n_in_window_events,
           COUNT(DISTINCT i.w_start) AS n_windows_hit
    FROM intervals i
    JOIN events e
      ON e.user_id = i.user_id
     AND epoch_us(e.ts) >= i.w_start
     AND epoch_us(e.ts) < i.w_end
    GROUP BY i.user_id
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×point range join by BUCKET-AND-REFINE: each per-(user,
    day) 2-hour activity window explodes into the hour buckets it covers,
    points carry their single hour bucket, and the join is a plain
    EQUI-join on (user_id, bucket) refined by the exact range predicate —
    no nested-loop join anywhere (asserted in tests/test_plans.py).

    This is how interval×interval/point joins survive 100 TB: the
    nested-loop form compares every pair per user; the bucketed form
    shuffles both sides once on an equi-key whose fan-out is
    interval_span/bucket_width (≤3 here). Each (point, interval) pair
    meets exactly once because a point has ONE bucket. The oracle states
    the same join in its naive range form — results must be identical.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    us = 3_600_000_000  # 1h bucket in µs
    intervals = (
        e.groupBy("user_id", "day")
        .agg(F.min("t").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + 7_200_000_000)
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    (F.col("w_start") / us).cast("long"),
                    ((F.col("w_end") - 1) / us).cast("long"),
                )
            ),
        )
    )
    points = e.select("user_id", "t", (F.col("t") / us).cast("long").alias("bucket"))
    joined = intervals.join(points, ["user_id", "bucket"]).where(
        (F.col("t") >= F.col("w_start")) & (F.col("t") < F.col("w_end"))
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_in_window_events"),
        F.countDistinct("w_start").alias("n_windows_hit"),
    )


# ---------------------------------------------------------------------------
# As-of join with tolerance (merge_asof tolerance semantics)
# ---------------------------------------------------------------------------


@register(
    "join_asof_tolerance",
    oracle="""
    WITH tagged AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
               MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_click_t
        FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN last_click_t IS NOT NULL
                     AND t - last_click_t <= 3600000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
           CAST(SUM(CASE WHEN last_click_t IS NULL
                     OR t - last_click_t > 3600000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_unattributed
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof's `tolerance`): each
    purchase matches its most recent prior click only if the gap is ≤1 h,
    otherwise it stays unattributed — the variant `join_asof_events`
    (unbounded lookback) silently over-attributes.

    Same union-and-window plan as the base as-of (one per-user window,
    bounded state, no join at all); the tolerance is one integer
    comparison on exact epoch-µs. Per-user attribution counts keep the
    output bounded.
    """
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = F.unix_micros("ts")
    tagged = e.select(
        "user_id",
        "event_id",
        "event_type",
        t.alias("t"),
        F.max(F.when(F.col("event_type") == "click", t)).over(w).alias("last_click_t"),
    ).where(F.col("event_type") == "purchase")
    within = F.col("last_click_t").isNotNull() & (
        F.col("t") - F.col("last_click_t") <= 3_600_000_000
    )
    return tagged.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.sum(within.cast("long")).alias("n_attributed"),
        F.sum((~within).cast("long")).alias("n_unattributed"),
    )


# ---------------------------------------------------------------------------
# Rolling windowed correlation (frame sums of exact integer moments)
# ---------------------------------------------------------------------------


@register(
    "window_rolling_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1
    ),
    framed AS (
        SELECT day, x, y,
               COUNT(*) OVER w AS n,
               SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
               SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
               SUM(x * y) OVER w AS sxy
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n AS n_days,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0), 6)
               AS rolling_corr_7d
    FROM framed
    WHERE n = 7
    """,
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day correlation between daily click and purchase volumes
    — the co-movement monitor statistic — composed entirely from FRAME
    SUMS of exact integer moments (Σx Σy Σxx Σyy Σxy over ROWS 6
    PRECEDING): no corr() aggregate, no self-join, one window pass.

    The windows run over the aggregated daily series; integer frame sums
    are order-exact, and the single double formula is the shared
    `agg_corr_covar` expression tree. Partial frames (first 6 days) are
    excluded identically on both engines.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    framed = grid_cumsum(
        daily,
        ["day"],
        [
            ("n", F.count("*")),
            ("sx", "x"),
            ("sy", "y"),
            ("sxx", F.sum(F.col("x") * F.col("x"))),
            ("syy", F.sum(F.col("y") * F.col("y"))),
            ("sxy", F.sum(F.col("x") * F.col("y"))),
        ],
        keep=["day"],
        frame_start=-6,
    ).where(F.col("n") == 7)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    denom = F.sqrt(
        (n * sxx - sx * sx).cast("double") * (n * syy - sy * sy).cast("double")
    )
    return framed.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        n.alias("n_days"),
        F.round((n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)), 6).alias(
            "rolling_corr_7d"
        ),
    )


# ---------------------------------------------------------------------------
# Benford goodness-of-fit (chi-square statistic, closed form)
# ---------------------------------------------------------------------------


@register(
    "agg_benford_chi2",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS d
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
        SELECT d, COUNT(*) AS o FROM digits GROUP BY d
    ),
    tot AS (SELECT SUM(o) AS n FROM obs)
    SELECT CAST(tot.n AS BIGINT) AS n_values,
           ROUND(SUM(POW(obs.o - tot.n * log10(1.0 + 1.0 / obs.d), 2)
                     / (tot.n * log10(1.0 + 1.0 / obs.d))), 6) AS chi2_stat,
           8 AS dof
    FROM obs, tot
    GROUP BY tot.n
    """,
)
def agg_benford_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the first-digit distribution against
    Benford's law — `agg_benford_profile` reduced to one decision
    statistic (compare to χ²₈ critical values to flag the table).

    The statistic is a closed form over the 9 observed counts: exact
    integer counts in, nine double terms out, identical expression trees
    both engines.
    """
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    obs = (
        o.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("o"))
    )
    tot = obs.agg(F.sum("o").alias("n"))
    exp = F.col("n") * F.log10(1.0 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(F.sum(F.pow(F.col("o") - exp, 2) / exp), 6).alias("chi2_stat"),
        )
        .select(
            F.col("n").cast("long").alias("n_values"),
            "chi2_stat",
            F.lit(8).alias("dof"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
    WITH bucketed AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE c_nationkey % 4 END AS nbucket
        FROM customer
    )
    SELECT a.nbucket,
           COUNT(*) AS n_pairs,
           MIN(a.c_custkey) AS min_custkey
    FROM bucketed a
    JOIN bucketed b
      ON a.nbucket IS NOT DISTINCT FROM b.nbucket
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    GROUP BY a.nbucket
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): a fifth
    of the customers get a NULL bucket, and the null-safe predicate makes
    NULL match NULL — the semantic a plain ``=`` join silently drops
    (standard SQL: NULL = NULL is NULL → row vanishes). The pattern shows
    up constantly in CDC diffing and dimension conformance, where "both
    unknown" must compare equal.

    Scale note: Spark plans ``<=>`` as a HASH join key (null hashes like
    any value) — null-safe joins stay shuffle-hash/broadcast, they do NOT
    degenerate to nested loops; but every NULL lands in ONE partition, so
    a mostly-null key needs the same skew treatment as any hot key (the
    second equi-condition here keeps the null bucket subdivided by
    segment).
    """
    c = load(spark, sf_dir, "customer")
    b = c.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("int"))
        .otherwise(F.col("c_nationkey") % 4)
        .alias("nbucket"),
    )
    a = b.select(
        F.col("c_custkey").alias("k_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("nbucket").alias("nb_a"),
    )
    bb = b.select(
        F.col("c_custkey").alias("k_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("nbucket").alias("nb_b"),
    )
    return (
        a.join(
            bb,
            (F.col("nb_a").eqNullSafe(F.col("nb_b")))
            & (F.col("seg_a") == F.col("seg_b"))
            & (F.col("k_a") < F.col("k_b")),
        )
        .groupBy(F.col("nb_a").alias("nbucket"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("k_a").alias("min_custkey"),
        )
    )


@register(
    "scalar_try_suite",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_size % 3 = 0 THEN NULL
                ELSE ROUND(p_retailprice / (p_size % 3), 6) END AS safe_div,
           TRY_CAST(p_type AS INTEGER) AS type_as_int,
           TRY_CAST(substr(CAST(p_partkey AS VARCHAR), 1, 2) AS INTEGER)
               AS key_prefix,
           CASE WHEN p_size % 3 = 0 THEN -1.0
                ELSE ROUND(p_retailprice / (p_size % 3), 6) END AS div_defaulted
    FROM part
    """,
)
def scalar_try_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function family (``try_divide`` / ``try_cast``,
    Spark 3.5+): division by zero and failed casts yield NULL instead of
    aborting the job — at 100 TB the difference between a pipeline that
    quarantines bad rows and one that dies at 99% on the single malformed
    record. The oracle re-derives each NULL contract with CASE/TRY_CAST;
    the defaulted variant shows the standard coalesce-to-sentinel recipe.
    """
    p = load(spark, sf_dir, "part")
    safe_div = F.round(F.try_divide("p_retailprice", F.col("p_size") % 3), 6)
    return p.select(
        "p_partkey",
        safe_div.alias("safe_div"),
        F.col("p_type").cast("string").try_cast("int").alias("type_as_int"),
        F.substring(F.col("p_partkey").cast("string"), 1, 2)
        .try_cast("int")
        .alias("key_prefix"),
        F.coalesce(safe_div, F.lit(-1.0)).alias("div_defaulted"),
    )


@register(
    "llm_mixture_temperature",
    oracle="""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), tot AS (
        SELECT SUM(n_docs) AS total FROM counts
    ), w AS (
        SELECT lang, n_docs,
               CAST(n_docs AS DOUBLE) / total AS p,
               pow(CAST(n_docs AS DOUBLE) / total, 0.5) AS wa
        FROM counts CROSS JOIN tot
    ), z AS (
        SELECT SUM(wa) AS zsum FROM w
    )
    SELECT lang, n_docs,
           ROUND(p, 6) AS corpus_share,
           ROUND(wa / zsum, 6) AS sample_weight,
           ROUND((wa / zsum) / p, 6) AS upweight_factor
    FROM w CROSS JOIN z
    """,
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (T=2, i.e. w ∝ p^(1/T) = √p) —
    the multilingual-pretraining standard for flattening a skewed corpus:
    high-resource languages are downweighted, low-resource upweighted,
    with the upweight factor per language reported (the number that says
    "zh is seen 1.8× more often than its corpus share"). Unlike
    llm_mixture_resample's FIXED rates, the weights here derive from the
    corpus itself — recompute after every corpus change.

    Shape: one count per lang (map-side partial), then two 1-row
    broadcast totals (corpus size, normalizer) — the per-language weight
    table this feeds is itself a broadcast input to the actual sampler
    (llm_sample_hash_stratified's rate-table pattern).
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("total")).alias("p"),
        F.pow(F.col("n_docs").cast("double") / F.col("total"), 0.5).alias("wa"),
    )
    z = w.agg(F.sum("wa").alias("zsum"))
    return w.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        F.round("p", 6).alias("corpus_share"),
        F.round(F.col("wa") / F.col("zsum"), 6).alias("sample_weight"),
        F.round((F.col("wa") / F.col("zsum")) / F.col("p"), 6).alias("upweight_factor"),
    )


@register(
    "agg_ab_test_ttest",
    oracle="""
    WITH cents AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('purchase', 'view')
    ), moments AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(c) AS s1,
               SUM(c * c) AS s2
        FROM cents GROUP BY event_type
    ), stats AS (
        SELECT event_type, n,
               (CAST(s1 AS DOUBLE) / n) / 100.0 AS mean_val,
               ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                   / 10000.0 AS var_val
        FROM moments
    )
    SELECT t.n AS n_treatment, c.n AS n_control,
           ROUND(t.mean_val, 6) AS mean_treatment,
           ROUND(c.mean_val, 6) AS mean_control,
           ROUND(t.mean_val - c.mean_val, 6) AS mean_diff,
           ROUND((t.mean_val - c.mean_val)
                 / sqrt(t.var_val / t.n + c.var_val / c.n), 6) AS t_stat
    FROM (SELECT * FROM stats WHERE event_type = 'purchase') t
    CROSS JOIN (SELECT * FROM stats WHERE event_type = 'view') c
    """,
)
def agg_ab_test_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B comparison (Welch t-statistic) between purchase and
    view values, computed from EXACT integer-cents moments: sums and
    sums-of-squares stay in int64 until the final divisions (the
    agg_corr_covar discipline — float summation order can never perturb
    the hash), then mean difference and t-stat round at 6. The p-value
    needs a t-CDF (no SQL form) — production reads the statistic against
    a threshold, which is exactly what this emits.

    Shape: one conditional scan → two-group moment aggregation (map-side
    partial) → a 1×1 cross of two single-row stat tables. At 100 TB the
    moments are also the mergeable state for sequential testing —
    re-aggregate the new day, merge the sums.
    """
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    cents = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    m = cents.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    stats = m.select(
        "event_type",
        "n",
        ((F.col("s1").cast("double") / F.col("n")) / 100.0).alias("mean_val"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
            / 10000.0
        ).alias("var_val"),
    )
    t = stats.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_treatment"),
        F.col("mean_val").alias("mt"),
        F.col("var_val").alias("vt"),
    )
    c = stats.where(F.col("event_type") == "view").select(
        F.col("n").alias("n_control"),
        F.col("mean_val").alias("mc"),
        F.col("var_val").alias("vc"),
    )
    return t.crossJoin(F.broadcast(c)).select(
        "n_treatment",
        "n_control",
        F.round("mt", 6).alias("mean_treatment"),
        F.round("mc", 6).alias("mean_control"),
        F.round(F.col("mt") - F.col("mc"), 6).alias("mean_diff"),
        F.round(
            (F.col("mt") - F.col("mc"))
            / F.sqrt(
                F.col("vt") / F.col("n_treatment") + F.col("vc") / F.col("n_control")
            ),
            6,
        ).alias("t_stat"),
    )


@register(
    "window_drawdown",
    oracle="""
    WITH cum AS (
        SELECT user_id, ts, event_id,
               SUM(CAST(round(value * 100) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_c
        FROM events
    ), dd AS (
        SELECT user_id, cum_c,
               MAX(cum_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak_c
        FROM cum
    )
    SELECT user_id,
           CAST(MAX(peak_c) AS DOUBLE) / 100.0 AS peak_value,
           CAST(MAX(peak_c - cum_c) AS DOUBLE) / 100.0 AS max_drawdown
    FROM dd
    GROUP BY user_id
    """,
)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — the risk metric every portfolio/quota
    monitor computes: running cumulative value, its running peak, and the
    deepest peak-to-current drop. Two stacked windows over the SAME
    (user_id, ts, event_id) ordering — Spark plans ONE sort+shuffle and
    evaluates both frames in a single WindowExec pass — then a per-user
    rollup. All arithmetic in int64 cents until the final /100 (the
    integer-moments discipline), so the hash is summation-order-proof.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("cum_c"),
    )
    dd = cum.select(
        "user_id", "cum_c", F.max("cum_c").over(w).alias("peak_c")
    )
    return dd.groupBy("user_id").agg(
        (F.max("peak_c").cast("double") / 100.0).alias("peak_value"),
        (F.max(F.col("peak_c") - F.col("cum_c")).cast("double") / 100.0).alias(
            "max_drawdown"
        ),
    )


@register(
    "events_bot_detection",
    oracle="""
    WITH es AS (
        SELECT user_id, event_id, ts,
               CAST(floor(epoch(ts)) AS BIGINT) AS esec
        FROM events
    ), gaps AS (
        SELECT user_id,
               esec - LAG(esec) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS gap_s
        FROM es
    ), m AS (
        SELECT user_id,
               COUNT(gap_s) AS n_gaps,
               SUM(gap_s) AS s1,
               SUM(gap_s * gap_s) AS s2
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY user_id
        HAVING COUNT(gap_s) >= 10
    )
    SELECT user_id, n_gaps,
           ROUND(CAST(s1 AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
           ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_gaps)
                      / (n_gaps - 1))
                 / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS gap_cv,
           sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_gaps)
                / (n_gaps - 1))
               / (CAST(s1 AS DOUBLE) / n_gaps) < 0.5 AS suspected_bot
    FROM m
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by inter-arrival regularity: humans are
    bursty (coefficient of variation of the gap between consecutive
    events ≈ 1 for Poisson-like behavior), schedulers are metronomic
    (CV → 0). Per user with ≥ 10 gaps: mean gap, gap CV from exact int64
    whole-second moments (sums and sums-of-squares never touch floats —
    the agg_corr_covar discipline; µs gaps SQUARED would overflow int64
    over a 30-day span, which ANSI mode caught on first run), and the CV < 0.5 flag an abuse
    pipeline would route to review.

    Shape: one per-user lag window (the events_inter_arrival ordering),
    one moment aggregation with map-side partials. The flag compares the
    UNROUNDED CV on both engines, so the boundary is bit-identical.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # whole-second gaps: µs gaps SQUARED overflow int64 over a 30-day
    # span (2.6e12² ≈ 7e24 ≫ 9.2e18 — ANSI mode caught it); second
    # precision keeps s2 ≤ ~1e16 and both engines floor epochs identically
    es = e.select(
        "user_id", "event_id", "ts", F.unix_timestamp("ts").alias("esec")
    )
    gaps = es.select(
        "user_id",
        (F.col("esec") - F.lag("esec").over(w)).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.sum("gap_s").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
        )
        .where(F.col("n_gaps") >= 10)
    )
    mean_us = F.col("s1").cast("double") / F.col("n_gaps")
    sd_us = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n_gaps"))
        / (F.col("n_gaps") - 1)
    )
    cv = sd_us / mean_us
    return m.select(
        "user_id",
        "n_gaps",
        F.round(mean_us, 6).alias("mean_gap_s"),
        F.round(cv, 6).alias("gap_cv"),
        (cv < 0.5).alias("suspected_bot"),
    )


@register(
    "events_pareto_concentration",
    oracle="""
    WITH totals AS (
        SELECT user_id,
               SUM(CAST(round(value * 100) AS BIGINT)) AS c
        FROM events GROUP BY user_id
    ), deciled AS (
        SELECT user_id, c,
               NTILE(10) OVER (ORDER BY c DESC, user_id) AS decile
        FROM totals
    ), per_decile AS (
        SELECT decile, COUNT(*) AS n_users, SUM(c) AS dc
        FROM deciled GROUP BY decile
    ), tot AS (SELECT SUM(c) AS total_c FROM totals)
    SELECT decile, n_users,
           CAST(dc AS DOUBLE) / 100.0 AS decile_value,
           ROUND(CAST(dc AS DOUBLE) / total_c, 6) AS value_share,
           ROUND(CAST(SUM(dc) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / total_c, 6) AS cum_share
    FROM per_decile CROSS JOIN tot
    """,
)
def events_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration (Pareto) curve: users ranked by lifetime value
    into deciles, each decile's share and cumulative share of total value
    — the "top 10% of users drive X% of revenue" table every business
    review opens with (and the skew signal that tells the engine which
    user keys need salting — audit_key_skew's commercial twin).

    Shape: one fact-sized groupBy to user totals (int64 cents), then the
    NTILE as a CLOSED FORM of the bucket-stitch global rank (r9: the
    user-total table is ENTITY-scale — it grows with the fact table — so
    the former single-task ntile sort was the 100×-scale bottleneck;
    now the only single-task window is over the non-empty cents-BUCKET
    grid, bounded by the value range / 2^16, and the per-user ranking is
    hash-partitioned by bucket), a 10-row rollup, and a 10-row
    cumulative window. Totals ride as 1-row broadcasts.
    """
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_rank,
        closed_form_ntile,
    )

    e = load(spark, sf_dir, "events")
    totals = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    )
    n_users_tot = totals.agg(F.count("*").cast("long").alias("n_users_tot"))
    deciled = (
        bucketed_global_rank(
            totals, "c", [F.asc("user_id")], descending=True, bucket_bits=16
        )
        .crossJoin(F.broadcast(n_users_tot))
        .select(
            "user_id",
            "c",
            closed_form_ntile(F.col("rn"), F.col("n_users_tot"), 10).alias("decile"),
        )
    )
    per_decile = deciled.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("c").alias("dc")
    )
    tot = totals.agg(F.sum("c").alias("total_c"))
    return grid_cumsum(
        per_decile.crossJoin(F.broadcast(tot)),
        ["decile"],
        [("cum_dc", "dc")],
        keep=["decile", "n_users", "dc", "total_c"],
    ).select(
        "decile",
        "n_users",
        (F.col("dc").cast("double") / 100.0).alias("decile_value"),
        F.round(F.col("dc").cast("double") / F.col("total_c"), 6).alias("value_share"),
        F.round(
            F.col("cum_dc").cast("double") / F.col("total_c"), 6
        ).alias("cum_share"),
    )


@register(
    "events_forecast_naive_error",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               SUM(CAST(round(value * 100) AS BIGINT)) AS c
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), lagged AS (
        SELECT event_type, d, c,
               LAG(c, 7) OVER (PARTITION BY event_type ORDER BY d) AS pred_c
        FROM daily
    )
    SELECT event_type,
           COUNT(pred_c) AS n_days_scored,
           ROUND(CAST(SUM(ABS(c - pred_c)) AS DOUBLE)
                 / COUNT(pred_c) / 100.0, 6) AS mae,
           ROUND(SUM(CAST(ABS(c - pred_c) AS DOUBLE) / c) * 100.0
                 / COUNT(pred_c), 6) AS mape_pct
    FROM lagged WHERE pred_c IS NOT NULL
    GROUP BY event_type
    """,
)
def events_forecast_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline evaluation: predict each day's
    per-type value with the value from 7 days earlier (the baseline every
    real forecast must beat) and score MAE and MAPE over the scorable
    days — the backtest table a forecasting pipeline publishes before any
    model ships.

    Exactness: daily totals are int64 cents, absolute errors stay integer
    until the final divisions; MAPE's per-day ratio divides two exact
    integers, so the only float summation is over ~23 ratio terms per
    type, absorbed by round(,6) (ratios are engine-identical doubles —
    same operands, same IEEE division). One (type, day) shuffle, one lag
    window, one rollup.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type", "d", "c", F.lag("c", 7).over(w).alias("pred_c")
    ).where(F.col("pred_c").isNotNull())
    abs_err = F.abs(F.col("c") - F.col("pred_c"))
    return lagged.groupBy("event_type").agg(
        F.count("pred_c").alias("n_days_scored"),
        F.round(
            F.sum(abs_err).cast("double") / F.count("pred_c") / 100.0, 6
        ).alias("mae"),
        F.round(
            F.sum(abs_err.cast("double") / F.col("c")) * 100.0 / F.count("pred_c"), 6
        ).alias("mape_pct"),
    )


@register(
    "agg_rfm_segmentation",
    oracle="""
    WITH maxd AS (
        SELECT MAX(ts) AS corpus_max FROM events
    ), per_user AS (
        SELECT user_id,
               date_diff('day', MAX(ts), (SELECT corpus_max FROM maxd))
                   AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(round(value * 100) AS BIGINT)) AS monetary_c
        FROM events GROUP BY user_id
    ), scored AS (
        SELECT user_id, recency_days, frequency, monetary_c,
               NTILE(5) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
               NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
               NTILE(5) OVER (ORDER BY monetary_c DESC, user_id) AS m_score
        FROM per_user
    )
    SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS rfm_segment,
           COUNT(*) AS n_users,
           CAST(SUM(monetary_c) AS DOUBLE) / 100.0 AS segment_value,
           MIN(user_id) AS example_user
    FROM scored
    GROUP BY 1
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer scoring: per user, days
    since last activity (Recency, vs the corpus max so the score is
    data-relative), event count (Frequency), and value total in exact
    cents (Monetary); each dimension quintiled into 1-5 (best = 1 for R,
    5-way NTILE with user_id tie-breaks for determinism), concatenated
    into the 'rfm' segment label marketing routes on (e.g. '111' =
    champions, '555' = lost).

    Shape: one fact groupBy to user aggregates, then each NTILE as a
    CLOSED FORM of the bucket-stitch global rank (r9: the user table is
    ENTITY-scale, so the former three single-task ntile sorts were the
    100×-scale bottleneck; now the only single-task windows are over
    value-domain grids — recency days and frequency counts verbatim,
    monetary cents in 2^16 buckets — and all per-user ranking is
    hash-partitioned), a label rollup. The corpus max and the user
    count ride as broadcast 1-row cross joins.
    """
    e = load(spark, sf_dir, "events")
    maxd = e.agg(F.max("ts").alias("corpus_max"))
    # r12 optimization (guide §5): the three quintile pipelines each
    # re-derived this user aggregate per branch (bucket histogram +
    # bounds + rank per dimension — 32 events scans, 308 plan nodes).
    # One checkpoint = one fact pass; the user table is the aggregate a
    # 100 TB RFM job would materialize anyway (3.0 s -> ~1.5 s at sf0.1).
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "user_id",
            F.datediff("corpus_max", "last_ts").alias("recency_days"),
            "frequency",
            "monetary_c",
        )
        .localCheckpoint(eager=True)
    )
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_rank,
        closed_form_ntile,
    )

    n_users = per_user.agg(F.count("*").cast("long").alias("__n_users"))

    def quintile(df, value_col, descending, bits, out):
        ranked = bucketed_global_rank(
            df,
            value_col,
            [F.asc("user_id")],
            descending=descending,
            bucket_bits=bits,
            out="__rn",
        )
        return ranked.withColumn(
            out, closed_form_ntile(F.col("__rn"), F.col("__n_users"), 5)
        ).drop("__rn")

    scored = per_user.crossJoin(F.broadcast(n_users))
    scored = quintile(scored, "recency_days", False, 0, "r_score")
    scored = quintile(scored, "frequency", True, 0, "f_score")
    scored = quintile(scored, "monetary_c", True, 16, "m_score")
    scored = scored.select("user_id", "monetary_c", "r_score", "f_score", "m_score")
    return (
        scored.select(
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("rfm_segment"),
            "monetary_c",
            "user_id",
        )
        .groupBy("rfm_segment")
        .agg(
            F.count("*").alias("n_users"),
            (F.sum("monetary_c").cast("double") / 100.0).alias("segment_value"),
            F.min("user_id").alias("example_user"),
        )
    )


@register(
    "events_cusum_drift",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               SUM(CAST(round(value * 100) AS BIGINT)) AS c
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ), base AS (
        SELECT event_type,
               SUM(c) AS s_tot, COUNT(*) AS n_days
        FROM daily GROUP BY event_type
    ), dev AS (
        SELECT daily.event_type, d,
               c - CAST(round(CAST(s_tot AS DOUBLE) / n_days) AS BIGINT)
                   AS dev_c
        FROM daily JOIN base USING (event_type)
    ), cusum AS (
        SELECT event_type, d, dev_c,
               SUM(dev_c) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cusum_c
        FROM dev
    )
    SELECT event_type,
           CAST(MAX(ABS(cusum_c)) AS DOUBLE) / 100.0 AS max_excursion,
           strftime(MIN(CASE WHEN rnk = 1 THEN d END), '%Y-%m-%d')
               AS excursion_day
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY ABS(cusum_c) DESC, d) AS rnk
        FROM cusum
    ) r
    GROUP BY event_type
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection per event type: cumulative sum of each
    day's deviation from the series mean — a sustained drift builds a
    monotone excursion a spot z-score never sees (complements
    events_anomaly_zscore's point outliers). Reports the maximum
    |CUSUM| excursion and the day it peaks (the change-point estimate).

    Exactness: daily totals, the ROUNDED integer mean, deviations, and
    the running sum all stay int64 cents — the window accumulates
    integers, so engine summation order is irrelevant; only the final
    report divides. One (type, day) shuffle + one ordered window per
    type + an argmax rollup.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    base = daily.groupBy("event_type").agg(
        F.sum("c").alias("s_tot"), F.count("*").alias("n_days")
    )
    dev = daily.join(base, "event_type").select(
        "event_type",
        "d",
        (
            F.col("c")
            - F.round(F.col("s_tot").cast("double") / F.col("n_days")).cast("long")
        ).alias("dev_c"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = dev.select(
        "event_type", "d", F.sum("dev_c").over(wc).alias("cusum_c")
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum_c"))), F.asc("d")
    )
    ranked = cusum.withColumn("rnk", F.row_number().over(wr))
    return ranked.groupBy("event_type").agg(
        (F.max(F.abs(F.col("cusum_c"))).cast("double") / 100.0).alias("max_excursion"),
        F.date_format(
            F.min(F.when(F.col("rnk") == 1, F.col("d"))), "yyyy-MM-dd"
        ).alias("excursion_day"),
    )


@register(
    "events_top_session_paths",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_no
        FROM flagged
    ), paths AS (
        SELECT user_id, session_no,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
               COUNT(*) AS path_len
        FROM numbered GROUP BY user_id, session_no
    )
    SELECT path, COUNT(*) AS n_sessions, MAX(path_len) AS path_len
    FROM paths
    GROUP BY path
    QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) <= 15
    """,
)
def events_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: sessionize (30-minute gaps — the
    stream_session_30m construction), serialize each session's ordered
    event-type sequence into a path string, and rank the 15 most common
    journeys — the full-path view the pairwise transition matrix
    (events_transition_matrix) cannot reconstruct (Markov chains forget
    history; real funnels don't).

    Ordering discipline: the path serialization sorts by (ts, event_id)
    INSIDE the aggregation on both engines (sort_array over structs here,
    string_agg ORDER BY there) — per-session order is total, so the path
    string is deterministic. Shapes: two per-user windows (shared sort),
    one (user, session) groupBy, one path rollup with a top-k window over
    the path table (paths ≪ sessions ≪ events).
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = flagged.withColumn("session_no", F.sum("is_new").over(wc))
    paths = (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count("*").alias("path_len"),
        )
    )
    ranked = (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"), F.max("path_len").alias("path_len"))
    )
    # r9: the per-path rollup grows with the corpus (unique long-session
    # paths), so the top-15 is the bucket-stitch top-k — only head
    # n_sessions-count buckets get ranked, hash-partitioned by count.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_topk,
    )

    ranked = bucketed_global_topk(
        ranked, "n_sessions", [F.asc("path")], 15, out="rk"
    ).drop("rk")
    return ranked


@register(
    "audit_duplicate_payments",
    oracle="""
    SELECT o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS amount_c,
           strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
           COUNT(*) AS n_orders,
           MIN(o_orderkey) AS first_orderkey,
           MAX(o_orderkey) AS last_orderkey
    FROM orders
    GROUP BY 1, 2, 3
    HAVING COUNT(*) > 1
    """,
)
def audit_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection — the ops/fraud audit every billing
    system runs: distinct orders from the SAME customer for the SAME
    exact amount on the SAME day (double-submit, retry bugs, fraud
    probes). Amount compares in integer cents (float equality on money is
    how real dupes hide), grouped with min/max order ids for the
    reviewer. One shuffle on the composite key, map-side partial; output
    is dupe-sized.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("amount_c"),
            F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("first_orderkey"),
            F.max("o_orderkey").alias("last_orderkey"),
        )
        .where(F.col("n_orders") > 1)
    )


@register(
    "events_peak_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_no
        FROM flagged
    ), sessions AS (
        SELECT user_id, session_no,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_s,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) + 1800 AS end_s
        FROM numbered GROUP BY user_id, session_no
    ), deltas AS (
        SELECT start_s AS t, 1 AS delta FROM sessions
        UNION ALL
        SELECT end_s AS t, -1 AS delta FROM sessions
    ), swept AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS concurrent
        FROM deltas
    )
    SELECT CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent_sessions,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
    FROM swept
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions via the SWEEP-LINE algorithm: each
    session (30-minute-gap construction, closed 30 minutes after its
    last event) contributes a +1 at start and a −1 at end; the running
    sum over the time-ordered delta stream is the concurrency curve and
    its max is the capacity-planning number. Tie discipline: deltas sort
    (t, delta) so an end (−1) at instant t processes BEFORE a start (+1)
    at the same t — back-to-back sessions never double-count — and the
    integer epoch keys make the order total on both engines.

    Scale: the sweep pre-aggregates deltas PER DISTINCT SECOND (net delta
    + row count per t) and runs the running sum as the BUCKET-STITCH
    cumsum (r10: distinct boundary seconds track the session count until
    the time range saturates, so the per-second relation is NOT a
    value-domain grid — the only single-task window is now the ~17-min
    bucket grid, bounded by the time RANGE). Collapsing ties per second
    is peak-safe: within one instant the (t, delta) ordering processes
    all −1s then all +1s, so the running value is monotone down-then-up
    and its max is always attained at a group boundary — the per-t net
    walk visits every boundary value.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = (
        flagged.withColumn("session_no", F.sum("is_new").over(wc))
        .groupBy("user_id", "session_no")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("start_s"),
            (F.unix_timestamp(F.max("ts")) + 1800).alias("end_s"),
        )
    )
    deltas = (
        sessions.select(F.col("start_s").alias("t"), F.lit(1).alias("delta"))
        .unionAll(sessions.select(F.col("end_s").alias("t"), F.lit(-1).alias("delta")))
        .groupBy("t")
        .agg(F.sum("delta").alias("delta"), F.count("*").alias("n_rows"))
    )
    # r10: distinct boundary seconds are NOT a value-domain grid — their
    # count tracks the session count until the time range saturates
    # (19k→184k rows through one WindowExec task at sf0.01→0.1, caught
    # by the grid cardinality tripwire). Bucket-stitch cumsum: 2^10-s
    # (~17-min) buckets bound the only single-task window by the TIME
    # RANGE (~2.6M s → ≤2532 buckets), per-second work hash-partitioned.
    from classification_problem_with_pyspark_spark.plans.global_rank import (
        bucketed_global_cumsum,
    )

    swept = bucketed_global_cumsum(
        deltas, "t", [], [("concurrent", "delta")], bucket_bits=10
    )
    return swept.agg(
        F.max("concurrent").alias("peak_concurrent_sessions"),
        (F.sum("n_rows") / 2).cast("long").alias("n_sessions"),
    )
