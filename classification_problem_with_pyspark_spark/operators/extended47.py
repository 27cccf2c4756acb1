"""Round-3 extension pack #47: product-quantization code assignment and
ViT patch-grid token budgeting.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — product quantization (Jégou/Douze/Schmid, "Product
quantization for nearest neighbor search", TPAMI 2011: split the vector
into M subspaces, quantize each against a small codebook, store M small
codes) and the ViT patch-grid arithmetic (images become ceil(w/p)·
ceil(h/p) tokens; oversize images are integer-downscaled to a token
budget before encoding) — re-expressed on the public PySpark DataFrame
API over the driver's testdata.

Hash-parity discipline (round-3 standard): PQ codebooks are the
subvectors of md5-chosen anchor vectors (no k-means state — the
assignment pipeline, not the codebook trainer, is the product);
distances reuse the exact-cosine discipline the driver hash-verified on
llm_similarity_topk (double accumulation, ROUND(·,6), id tie-break).
Image dimensions are a deterministic md5 synthesis per media row, and
the downscale is pure integer arithmetic (floor-rational rescale), so
every budget number is exact.

Scale posture (SURVEY.md §7.6): PQ assignment is vectors × (M·K) tiny
centroid comparisons with the codebook BROADCAST — the classic
embarrassingly-parallel encode pass (the IVF key holds the coarse
quantizer side); patch budgeting is a pure per-row projection plus one
aggregation — scan-shaped, no shuffle beyond the final group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.embedding_kernels import (
    as_matrix,
    read_embeddings,
    round6,
)
from classification_problem_with_pyspark_spark.functions.hashing import md5_long, md5_long_py
from classification_problem_with_pyspark_spark.plans.fanout import spread
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, path_for

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (8 × 8 = the 64-dim fixture)
PQ_ANCHOR_MOD = 31  # ~|vectors|/31 md5-chosen codebook anchors

PATCH = 16  # ViT patch side in pixels
TOKEN_BUDGET = 1024  # max patches per image before downscale
LONG_SIDE_CAP = 512  # downscale rule: clamp the long side to this


@register(
    "emb_pq_codebook_assign",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS centroid_id, embedding
        FROM embeddings
        WHERE CAST(('0x' || substr(md5('pq_' || CAST(vec_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % {PQ_ANCHOR_MOD} = 0
    ),
    sub AS (SELECT unnest(range({PQ_M})) AS subspace),
    dists AS (
        SELECT v.vec_id, s.subspace, a.centroid_id,
               ROUND(list_distance(
                   list_transform(v.embedding[(s.subspace * {PQ_SUBDIM} + 1):((s.subspace + 1) * {PQ_SUBDIM})],
                                  x -> CAST(x AS DOUBLE)),
                   list_transform(a.embedding[(s.subspace * {PQ_SUBDIM} + 1):((s.subspace + 1) * {PQ_SUBDIM})],
                                  x -> CAST(x AS DOUBLE))), 6) AS dist
        FROM embeddings v, sub s, anchors a
    ),
    ranked AS (
        SELECT vec_id, subspace, centroid_id, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY dist, centroid_id) AS rn
        FROM dists
    )
    SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
           centroid_id AS code, dist AS code_dist
    FROM ranked WHERE rn = 1
    ORDER BY vec_id, subspace
    """,
)
def emb_pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode pass (SURVEY.md §2.12): split every
    64-dim embedding into PQ_M 8-dim subspaces and assign each to its
    nearest codebook centroid — the compression step that lets a
    100 TB vector corpus keep M bytes per vector instead of 256, with
    ANN distance served from code lookup tables. Complements the
    family's coarse quantizer (`llm_similarity_ivf`) with the fine
    quantizer; together they are the standard IVF-PQ index.

    Codebooks are the subvectors of md5-chosen anchor vectors (the
    assignment pipeline, not the k-means trainer, is the product — a
    trained codebook drops in as the same broadcast relation).
    Distance folds the exact discipline the driver hash-verified on
    the cosine keys: double accumulation, ROUND(·,6), (dist,
    centroid_id) tie-break. The argmin is fixture-verified, not identical
    by construction (the rounding caveat of functions/embedding_kernels.py).

    Scale: vectors × (M·K) comparisons with the codebook held as
    side data per worker — one embarrassingly-parallel scan, zero
    shuffles — the encode pass that runs at ingest rate on any number
    of executors.

    r13 optimization (guide §4.2): the former JVM form fanned every
    vector out through crossJoin(subspaces)×crossJoin(anchors) —
    N·M·K rows, each paying an interpreted zip_with/aggregate fold —
    then ranked rn=1 through a full (vec_id, subspace, dist) sort.
    Now the codebook loads ONCE per task from the parquet side file
    (the llm_similarity_topk side-data pattern, hash-verified there),
    the anchor rule is replayed exactly (md5('pq_'||vec_id) % mod),
    and each Arrow batch computes all M·K squared distances as one
    vectorized float64 op with the same ROUND(sqrt,6) + (dist,
    centroid_id) argmin tie-break. Only N·M assignment rows leave
    Python; the window sort and both fan-out joins are gone.
    """
    import numpy as np
    import pandas as pd

    emb_path = path_for(sf_dir, "embeddings")
    m, subdim, mod = PQ_M, PQ_SUBDIM, PQ_ANCHOR_MOD

    def assign_batches(batches):
        cid, C = read_embeddings(emb_path)
        keep = np.array([md5_long_py(f"pq_{v}") % mod == 0 for v in cid], dtype=bool)
        cid, C = cid[keep], C[keep]
        order = np.argsort(cid)  # pre-sort so argmin ties pick the min id
        cid, C = cid[order], C[order]
        for pdf in batches:
            V = as_matrix(pdf["embedding"])
            vids = pdf["vec_id"].to_numpy()
            out = []
            for s in range(m):
                Vs = V[:, s * subdim : (s + 1) * subdim]
                Cs = C[:, s * subdim : (s + 1) * subdim]
                d2 = ((Vs[:, None, :] - Cs[None, :, :]) ** 2).sum(axis=-1)
                dist = round6(np.sqrt(d2))
                # ties on rounded dist resolve to the smallest centroid_id:
                # cid is ascending, and argmin returns the first minimum
                best = dist.argmin(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": vids,
                            "subspace": np.int64(s),
                            "code": cid[best],
                            "code_dist": dist[np.arange(len(vids)), best],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    e = spread(load(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    return e.mapInPandas(
        assign_batches,
        schema="vec_id long, subspace long, code long, code_dist double",
    ).orderBy("vec_id", "subspace")


@register(
    "multimodal_patch_grid_budget",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id AS media_id, source,
               256 + CAST(('0x' || substr(md5('w_' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 1280 AS w,
               256 + CAST(('0x' || substr(md5('h_' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 800 AS h
        FROM documents
    ),
    toks AS (
        SELECT media_id, source, w, h,
               ((w + {PATCH} - 1) // {PATCH}) * ((h + {PATCH} - 1) // {PATCH})
                   AS raw_tokens
        FROM dims
    ),
    scaled AS (
        SELECT *,
               CASE WHEN raw_tokens > {TOKEN_BUDGET} THEN 1 ELSE 0 END
                   AS needs_downscale,
               CASE WHEN raw_tokens > {TOKEN_BUDGET}
                    THEN CASE WHEN w >= h THEN {LONG_SIDE_CAP}
                              ELSE (w * {LONG_SIDE_CAP}) // h END
                    ELSE w END AS out_w,
               CASE WHEN raw_tokens > {TOKEN_BUDGET}
                    THEN CASE WHEN w >= h THEN (h * {LONG_SIDE_CAP}) // w
                              ELSE {LONG_SIDE_CAP} END
                    ELSE h END AS out_h
        FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(needs_downscale) AS BIGINT) AS n_downscaled,
           CAST(SUM(raw_tokens) AS BIGINT) AS raw_tokens,
           CAST(SUM(((out_w + {PATCH} - 1) // {PATCH})
                    * ((out_h + {PATCH} - 1) // {PATCH})) AS BIGINT)
               AS budget_tokens,
           CAST(MAX(raw_tokens) AS BIGINT) AS max_raw_tokens
    FROM scaled
    GROUP BY source
    ORDER BY source
    """,
)
def multimodal_patch_grid_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid token budgeting (SURVEY.md §2.12): every media row
    carries synthesized pixel dimensions (deterministic md5 of the id —
    the metadata a real image table stores alongside the opaque
    payload); the query computes each image's patch-grid token count
    (ceil(w/16)·ceil(h/16)), flags images over the encoder budget,
    integer-downscales them (long side clamped, aspect preserved by
    floor-rational arithmetic — the exact arithmetic a resize UDF's
    output shape contract is tested against), and reports the
    per-source token bill before and after. This is the capacity query
    every multimodal training pipeline runs before provisioning
    encoder GPUs; the decode/resize itself stays behind the
    `decode_media` stub seam (multimodal.py), which this key
    deliberately never touches — budgeting must be metadata-only.

    Exactness: dimensions, ceil-div patch counts, and the floor
    rescale are all integer; no float enters the plan.

    Scale: pure per-row projection + one groupBy(source) — scan-shaped,
    payload column never read (parquet column pruning), shuffle
    O(|sources|).
    """
    d = load(spark, sf_dir, "documents")

    def _dim(prefix: str, span: int):
        return 256 + md5_long(F.concat(F.lit(prefix), F.col("doc_id").cast("string"))) % span

    dims = d.select(
        F.col("doc_id").alias("media_id"),
        "source",
        _dim("w_", 1280).alias("w"),
        _dim("h_", 800).alias("h"),
    )
    ceil_div = lambda c, k: (c + k - 1) / F.lit(k)  # noqa: E731
    toks = dims.select(
        "*",
        (
            F.floor(ceil_div(F.col("w"), PATCH))
            * F.floor(ceil_div(F.col("h"), PATCH))
        ).alias("raw_tokens"),
    )
    over = F.col("raw_tokens") > TOKEN_BUDGET
    scaled = toks.select(
        "*",
        F.when(over, 1).otherwise(0).alias("needs_downscale"),
        F.when(
            over,
            F.when(F.col("w") >= F.col("h"), F.lit(LONG_SIDE_CAP)).otherwise(
                F.expr(f"(w * {LONG_SIDE_CAP}) DIV h")
            ),
        )
        .otherwise(F.col("w"))
        .alias("out_w"),
        F.when(
            over,
            F.when(F.col("w") >= F.col("h"), F.expr(f"(h * {LONG_SIDE_CAP}) DIV w")).otherwise(
                F.lit(LONG_SIDE_CAP)
            ),
        )
        .otherwise(F.col("h"))
        .alias("out_h"),
    )
    return (
        scaled.groupBy("source")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("needs_downscale").cast("long").alias("n_downscaled"),
            F.sum("raw_tokens").cast("long").alias("raw_tokens"),
            F.sum(
                F.floor(ceil_div(F.col("out_w"), PATCH))
                * F.floor(ceil_div(F.col("out_h"), PATCH))
            )
            .cast("long")
            .alias("budget_tokens"),
            F.max("raw_tokens").cast("long").alias("max_raw_tokens"),
        )
        .orderBy("source")
    )
