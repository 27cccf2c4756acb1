"""Round-3 extension pack #56: farthest-first clustering seeds and the
A/V stream-sync metadata audit.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Both patterns are public
knowledge — farthest-first traversal (Gonzalez 1985, the 2-approximation
for k-center and the deterministic cousin of k-means++ D² seeding; the
"pick what's farthest from everything chosen so far" greedy every
diverse-sampling pipeline uses) and the audio/video stream-sync audit
(container metadata carries per-track durations; drift beyond a lip-sync
threshold flags remux candidates — an FFmpeg-probe triage every video
ingestion pipeline runs) — re-expressed on the public PySpark DataFrame
API over the driver's testdata.

Hash-parity discipline (round-3 standard): seed selection is the
greedy unrolled a fixed K rounds, each an argmax over ROUND(·,6)
distances with vec_id tie-break (the driver-verified cosine-key
discipline, applied to Euclidean); track durations are a deterministic
md5 synthesis (the decode stays behind the multimodal.py stub seam —
sync auditing is metadata-only by design), and drift classes fold
exact integer milliseconds.

Scale posture (SURVEY.md §7.6): each greedy round is one broadcast of
the (tiny) chosen-seed set against the vectors + one global argmax —
K scans, embarrassingly parallel, the standard distributed form of
farthest-first; the sync audit is a pure projection + one group-by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.functions.hashing import md5_long
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

N_SEEDS = 4  # greedy rounds after the deterministic start
SYNC_OK_MS = 45  # lip-sync tolerance (the broadcast-industry ±45 ms)
SYNC_FIX_MS = 200  # beyond this: remux candidate


def _dist_sql(a: str, b: str) -> str:
    return (
        f"ROUND(list_distance(list_transform({a}, x -> CAST(x AS DOUBLE)), "
        f"list_transform({b}, x -> CAST(x AS DOUBLE))), 6)"
    )


def _seed_oracle() -> str:
    """Unrolled greedy: s0 = min vec_id; each round adds the vector
    maximizing its distance to the NEAREST chosen seed (ties: vec_id)."""
    sql = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    s0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
    chosen0 AS (SELECT 0 AS round, vec_id, embedding FROM s0)
    """
    prev = "chosen0"
    for r in range(1, N_SEEDS + 1):
        sql += f"""
    , mind{r} AS (
        SELECT v.vec_id, v.embedding,
               MIN({_dist_sql('v.embedding', 'c.embedding')}) AS d_near
        FROM e v, {prev} c
        WHERE v.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY v.vec_id, v.embedding
    ), pick{r} AS (
        SELECT vec_id, embedding FROM mind{r}
        ORDER BY d_near DESC, vec_id LIMIT 1
    ), chosen{r} AS (
        SELECT * FROM {prev}
        UNION ALL SELECT {r} AS round, vec_id, embedding FROM pick{r}
    )"""
        prev = f"chosen{r}"
    sql += f"""
    SELECT CAST(round AS BIGINT) AS pick_order, vec_id,
           CASE WHEN round = 0 THEN 0.0 ELSE (
               SELECT MIN({_dist_sql('c.embedding', 'p.embedding')})
               FROM {prev} p
               WHERE p.round < c.round
           ) END AS d_to_nearest_prior
    FROM {prev} c
    ORDER BY pick_order
    """
    return sql


@register("emb_farthest_first_seeds", oracle=_seed_oracle())
def emb_farthest_first_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first clustering seeds (SURVEY.md §2.12): starting from
    the lowest vec_id, greedily add the vector whose distance to its
    NEAREST already-chosen seed is largest (Gonzalez's k-center
    2-approximation; the deterministic analogue of k-means++ D²
    seeding) — the diverse-sample selector behind clustering init,
    coreset construction, and eval-set diversification. Returns the
    pick order and each pick's distance to its nearest prior seed —
    a non-increasing sequence (asserted in tests: it is the k-center
    radius curve).

    Each round is an argmax over ROUND(·,6) Euclidean distances with
    vec_id tie-break — the driver-verified similarity discipline — so
    both engines choose identical seeds by construction.

    Scale: K rounds × (broadcast the ≤K chosen seeds, one scan for
    the global argmax) — the standard distributed farthest-first;
    K is small by definition of "seeds", so the cost is K scans, not
    a pairwise matrix. The exact argmax per round is the part
    k-means++'s sampling replaces when even K scans is too many.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = e.orderBy("vec_id").limit(1)
    rows = first.collect()
    picked = [(0, rows[0].vec_id, 0.0, list(rows[0].embedding))]

    # r12 optimization (guide §2.4/§3): the chosen-seed set is ≤K rows of
    # PLAN-TIME data, so each round's min-distance is a per-row least()
    # over K literal seed vectors — zero joins, zero exchanges: the round
    # is scan → project → TakeOrdered(1). The former form anti-joined and
    # cross-joined a broadcast seed DF and then ran groupBy(vec_id,
    # embedding) — a full shuffle of every embedding PER ROUND (K shuffles
    # of the payload; measured 8.6 s → 3.2 s med at sf0.1). The literal
    # seeds cast to double exactly like the old array<float> column did,
    # so the ROUND(·,6) argmax is bit-identical (hash-verified).
    def dist_to(lit_emb):
        b = F.array(*[F.lit(float(x)) for x in lit_emb])
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        b,
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )

    for r in range(1, N_SEEDS + 1):
        ids = [vid for _, vid, _, _ in picked]
        dists = [dist_to(emb) for _, _, _, emb in picked]
        d_near = F.least(*dists) if len(dists) > 1 else dists[0]
        cand = (
            # ADVICE r12: ~isin(ids) is NULL (row dropped) for a NULL
            # vec_id where the former left_anti join kept it. vec_id is
            # the embeddings fixture's non-null primary key (FIXTURES.md;
            # every oracle joins on it), so the invariant holds by
            # construction — add isNotNull handling if that ever changes.
            e.where(~F.col("vec_id").isin(ids))
            .select("vec_id", "embedding", d_near.alias("d_near"))
            .orderBy(F.desc("d_near"), "vec_id")
            .limit(1)
        )
        row = cand.collect()[0]
        picked.append((r, row.vec_id, float(row.d_near), list(row.embedding)))

    out = local_rows(
        spark,
        [(r, vid, d) for r, vid, d, _ in picked],
        "pick_order long, vec_id long, d_to_nearest_prior double",
    )
    return out.orderBy("pick_order")


@register(
    "multimodal_av_sync_audit",
    oracle=f"""
    WITH meta AS (
        SELECT doc_id AS media_id, source,
               30000 + CAST(('0x' || substr(md5('adur_' || CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 60000 AS audio_ms
        FROM documents
    ),
    tracks AS (
        SELECT media_id, source, audio_ms,
               audio_ms
               + CAST(('0x' || substr(md5('vdrift_' || CAST(media_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 600 - 300 AS video_ms
        FROM meta
    ),
    classed AS (
        SELECT source,
               abs(video_ms - audio_ms) AS drift_ms,
               CASE WHEN abs(video_ms - audio_ms) <= {SYNC_OK_MS} THEN 'in_sync'
                    WHEN abs(video_ms - audio_ms) <= {SYNC_FIX_MS} THEN 'degraded'
                    ELSE 'remux' END AS verdict
        FROM tracks
    )
    SELECT source, verdict,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(MAX(drift_ms) AS BIGINT) AS max_drift_ms,
           CAST(SUM(drift_ms) AS BIGINT) AS total_drift_ms
    FROM classed
    GROUP BY source, verdict
    ORDER BY source, verdict
    """,
)
def multimodal_av_sync_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/V stream-sync audit (SURVEY.md §2.12): each media row carries
    per-track durations (deterministic md5 synthesis standing in for
    container-probe metadata — the decode itself stays behind the
    `decode_media` stub seam, because sync triage is METADATA-ONLY by
    design: you probe headers, you never decode frames to find
    drift); classify every asset against the broadcast lip-sync
    tolerance (±{SYNC_OK_MS} ms in-sync, ≤{SYNC_FIX_MS} ms degraded,
    beyond = remux candidate) and report the per-source verdict
    census. The ingestion-gate query a video training pipeline runs
    before paying for frame extraction.

    Exactness: durations and drifts are exact integer milliseconds.

    Scale: pure projection + one group-by — scan-shaped; the payload
    column is never read (parquet pruning), which is the entire
    operating cost model of metadata-first media triage.
    """
    d = load(spark, sf_dir, "documents")

    def _h(prefix: str, col: str):
        return md5_long(F.concat(F.lit(prefix), F.col(col).cast("string")))

    tracks = d.select(
        F.col("doc_id").alias("media_id"),
        "source",
        (30000 + _h("adur_", "doc_id") % 60000).alias("audio_ms"),
    ).withColumn(
        "video_ms",
        F.col("audio_ms") + _h("vdrift_", "media_id") % 600 - 300,
    )
    classed = tracks.select(
        "source",
        F.abs(F.col("video_ms") - F.col("audio_ms")).alias("drift_ms"),
    ).withColumn(
        "verdict",
        F.when(F.col("drift_ms") <= SYNC_OK_MS, "in_sync")
        .when(F.col("drift_ms") <= SYNC_FIX_MS, "degraded")
        .otherwise("remux"),
    )
    return (
        classed.groupBy("source", "verdict")
        .agg(
            F.count("*").alias("n_media"),
            F.max("drift_ms").cast("long").alias("max_drift_ms"),
            F.sum("drift_ms").cast("long").alias("total_drift_ms"),
        )
        .orderBy("source", "verdict")
    )
