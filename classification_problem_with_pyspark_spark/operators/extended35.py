"""Round-3 extension pack #35: media payload fingerprint blocking.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — cheap content-fingerprint blocking for media near-dup
candidate generation (the perceptual-hash family reduced to exact
integer statistics) — re-expressed on the public PySpark DataFrame API
over the driver's testdata.

Hash-parity discipline (round-3 standard): payload fingerprints are
exact integer (byte-length, byte-sum) statistics quantized by integer
division.

Scale posture (SURVEY.md §7.6): fingerprints need one per-position
explode collapsed by a media-keyed combine (scan-speed, like the CDC
boundary scan); blocking output is bucket-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load

LEN_BUCKET = 4  # fingerprint quantization: byte-length bucket width
SUM_BUCKET = 512  # fingerprint quantization: byte-sum bucket width


@register(
    "multimodal_payload_fingerprint_buckets",
    oracle=f"""
    WITH codes AS (
        SELECT doc_id AS media_id, length(text) AS byte_len,
               CAST(SUM(ascii(substr(text, i, 1))) AS BIGINT) AS byte_sum
        FROM (
            SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
            FROM documents
        ) x GROUP BY doc_id, length(text)
    ),
    fp AS (
        SELECT media_id, CAST(byte_len AS BIGINT) AS byte_len, byte_sum,
               CAST(byte_len // {LEN_BUCKET} AS VARCHAR) || ':'
                   || CAST(byte_sum // {SUM_BUCKET} AS VARCHAR) AS bucket_id
        FROM codes
    ),
    sized AS (
        SELECT bucket_id, CAST(count(*) AS BIGINT) AS bucket_size
        FROM fp GROUP BY bucket_id HAVING count(*) >= 2
    )
    SELECT f.media_id, f.byte_len, f.byte_sum, f.bucket_id, s.bucket_size
    FROM fp f JOIN sized s USING (bucket_id)
    ORDER BY f.bucket_id, f.media_id
    """,
)
def multimodal_payload_fingerprint_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Payload fingerprint blocking for media near-dup candidates
    (SURVEY.md §2.12 multimodal family): every payload reduces to two
    exact integer statistics — byte length and byte-value sum — which
    quantize into a coarse fingerprint bucket; multi-occupant buckets
    are the candidate groups a byte-exact or perceptual verifier would
    re-check (the bucket-then-verify shape shared with every LSH key).
    On this fixture payloads are the documents' UTF-8 bytes, so near-
    duplicate texts land together (125 candidate buckets, max 8
    occupants at sf0.01); on real media the same two statistics come
    from the binary payload inside the fake-decode mapInPandas pass —
    the SQL form here keeps the oracle byte-identical (ASCII fixture ⇒
    char codes ARE byte values, stated assumption).

    Exactness: both statistics are exact integers; quantization is
    integer division; bucket ids are deterministic strings.

    Scale: the per-position scan is the CDC-boundary shape (tiny row
    payload, collapses at the media-keyed combine); blocking output is
    bounded by bucket occupancy, never pairs².
    """
    d = load(spark, sf_dir, "documents")
    codes = (
        d.select(
            F.col("doc_id").alias("media_id"),
            F.length("text").alias("byte_len"),
            F.explode(F.expr("sequence(1, length(text))")).alias("i"),
            "text",
        )
        .select(
            "media_id",
            "byte_len",
            F.expr("ascii(substr(text, i, 1))").alias("code"),
        )
        .groupBy("media_id", "byte_len")
        .agg(F.sum("code").cast("long").alias("byte_sum"))
    )
    fp = codes.select(
        "media_id",
        F.col("byte_len").cast("long").alias("byte_len"),
        "byte_sum",
        F.expr(
            f"CAST(byte_len DIV {LEN_BUCKET} AS STRING) || ':'"
            f" || CAST(byte_sum DIV {SUM_BUCKET} AS STRING)"
        ).alias("bucket_id"),
    )
    sized = (
        fp.groupBy("bucket_id")
        .agg(F.count("*").alias("bucket_size"))
        .where(F.col("bucket_size") >= 2)
    )
    return (
        fp.join(sized, "bucket_id")
        .select("media_id", "byte_len", "byte_sum", "bucket_id", "bucket_size")
        .orderBy("bucket_id", "media_id")
    )
