"""Round-3 extension pack #20: the lakehouse data-skipping READ path —
a manifest-pruned scan that plans its file list from min/max statistics
and is proven equivalent to the full-table query.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. The pattern is public
knowledge — Iceberg/Delta data skipping: a manifest of per-file column
statistics lets the planner drop files whose [min, max] cannot satisfy
the predicate before any data is read — expressed on the public PySpark
DataFrame API over the driver's testdata.

Hash-parity discipline (round-3 standard): money in integer cents; band
membership by one floor-division; the planner file list is a bounded
DRIVER-side collect of band keys (the one legal collect class: plan-time
metadata, like every real table format's planning phase).

Scale posture (SURVEY.md §7.6): the manifest is per-FILE metadata — its
size is file-count, not row-count; planning cost is a manifest scan
(kilobytes per petabyte of data); the data read after pruning touches
only surviving directories. This key is the mechanism
`layout_zonemap_prune_audit` only measures.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import bounded_collect, load, stage_dir


@register(
    "sink_manifest_pruned_read",
    oracle="""
    WITH bands AS (
        SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS band,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_totalprice
        FROM orders
    ), manifest AS (
        SELECT band, max(o_totalprice) AS mx FROM bands GROUP BY band
    )
    SELECT CAST((SELECT count(*) FROM manifest) AS BIGINT) AS n_bands_total,
           CAST((SELECT count(*) FROM manifest WHERE mx > 450000.0) AS BIGINT)
               AS n_bands_read,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM bands WHERE o_totalprice > 450000.0
    """,
)
def sink_manifest_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven data skipping (SURVEY.md §2.1), the
    Iceberg/Delta read path built from parts: orders land partitioned
    into price BANDS (floor(price/50k) directories), a MANIFEST of
    per-band max stats is derived, and a `price > 450k` query plans
    its file list by consulting ONLY the manifest — directories whose
    max cannot match are never opened — then reads the survivors and
    aggregates. The oracle runs the same query against the original
    table: a hash match proves pruned-read ≡ full-read, and the
    emitted n_bands_read/n_bands_total (1 of 10 at sf0.01) pins HOW
    MUCH was skipped, not just that results agree.

    The planner's band-list collect is plan-time METADATA (bounded by
    file count, like every table format's planning phase) — the only
    collect class the engine permits (SURVEY §7.6).

    Scale: manifests are kilobytes per petabyte; planning is a
    manifest scan; the data path touches only surviving directories.
    At 100 TB the manifest itself is a parquet table maintained
    incrementally on write (the compaction keys' discipline), not
    recomputed — recomputation here keeps the fixture self-contained.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.floor(F.col("o_totalprice") / 50000).cast("long").alias("band"),
    )
    root = stage_dir("manifest_bands")
    o.write.mode("overwrite").partitionBy("band").parquet(root)

    # manifest: per-band stats (in a real table format this is maintained
    # on write; derived here to keep the fixture self-contained)
    manifest = (
        spark.read.parquet(root)
        .groupBy("band")
        .agg(F.max("o_totalprice").alias("mx"))
    )
    # plan-time metadata: |bands| = ceil(price_range / 50k) — a
    # value-domain grid (~12 at any SF), not a data-sized relation
    bands = bounded_collect(
        manifest.select("band", "mx"), max_rows=1_000, what="price-band manifest"
    )
    selected = sorted(r.band for r in bands if r.mx > 450000.0)
    paths = [os.path.join(root, f"band={b}") for b in selected]

    pruned = (
        spark.read.option("basePath", root).parquet(*paths)
        if paths
        else spark.read.parquet(root).where(F.lit(False))
    )
    return (
        pruned.where(F.col("o_totalprice") > 450000.0)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .select(
            F.lit(len(bands)).cast("long").alias("n_bands_total"),
            F.lit(len(selected)).cast("long").alias("n_bands_read"),
            "n_rows",
            "revenue_cents",
        )
    )
