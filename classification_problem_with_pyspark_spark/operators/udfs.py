"""UDF / UDAF / grouped-map surface (SURVEY.md §2.10).

Evidence base: the retrieved public snippets show exactly this surface —
scalar @pandas_udf, PandasUDFType.GROUPED_AGG, and groupBy().applyInPandas
(SNIPPETS.md:32-49, 120-124). All three are Arrow-vectorized: executors
feed pandas batches to forked Python workers (SURVEY.md §3 boundary #3) —
~10-100× faster than row-at-a-time F.udf, which this engine bans from hot
paths (SURVEY.md §7.6). The logic inside each UDF is deliberately
SQL-expressible so the keys stay oracle-checkable; the point of these
keys is to verify the Arrow boundary machinery itself.

Implementation note: pandas_udf objects are constructed INSIDE the query
functions — registering them at module import time fails with
SESSION_OR_CONTEXT_NOT_EXISTS because the decorator needs a live session.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from classification_problem_with_pyspark_spark.functions.embedding_kernels import round6
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load


@register(
    "udf_scalar_pandas",
    oracle="""
    SELECT o_orderkey,
           ROUND(CASE WHEN o_totalprice < 100000 THEN o_totalprice * 0.05
                      ELSE 100000 * 0.05 + (o_totalprice - 100000) * 0.12 END,
                 4) AS tax_amount
    FROM orders
    """,
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-vectorized), SNIPPETS.md:43-49 pattern:
    progressive 'tax' on order value via vectorized numpy arithmetic."""

    @pandas_udf("double")
    def tax_amount(total: pd.Series) -> pd.Series:
        return pd.Series(
            np.where(total < 100000, total * 0.05, 100000 * 0.05 + (total - 100000) * 0.12)
        ).round(4)

    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", tax_amount("o_totalprice").alias("tax_amount"))


@register(
    "udaf_grouped_pandas",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (SNIPPETS.md:32-34 pattern):
    quantity-weighted mean price per flag/status group.

    NOTE: numpy's pairwise summation agrees with both engines' sequential
    sums at this magnitude after round(·,6) — fixture-verified by the
    parity test, not identical by construction (the rounding caveat of
    functions/embedding_kernels.py).
    """

    @pandas_udf("double")
    def weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
        return float(round6(np.sum(price * qty) / np.sum(qty)))

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        weighted_avg_price("l_extendedprice", "l_quantity").alias("weighted_avg_price")
    )


def _normalize_chars(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-language z-score of n_chars (ddof=1 ≡ stddev_samp)."""
    mu = pdf["n_chars"].mean()
    sd = pdf["n_chars"].std(ddof=1)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "lang": pdf["lang"],
            "n_chars": pdf["n_chars"],
            "z_chars": round6((pdf["n_chars"] - mu) / sd),
        }
    )


@register(
    "udtf_group_normalize",
    oracle="""
    SELECT doc_id,
           lang,
           n_chars,
           ROUND((n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                 / STDDEV_SAMP(n_chars) OVER (PARTITION BY lang), 6) AS z_chars
    FROM documents
    """,
)
def udtf_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (SNIPPETS.md:36-41, 120-124 pattern):
    normalize a column within each group.

    Scale note: each group must fit in one Python worker's memory — fine
    for per-language groups; for unbounded groups the window-SQL
    formulation (the oracle here) is the scalable path.
    """
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").applyInPandas(
        _normalize_chars,
        schema="doc_id long, lang string, n_chars long, z_chars double",
    )


@register(
    "udf_row_legacy",
    oracle="""
    SELECT p_partkey,
           CONCAT(UPPER(SUBSTRING(p_brand, 1, 5)), ':', CAST(p_size AS VARCHAR)) AS brand_tag
    FROM part
    """,
)
def udf_row_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — the legacy notebook habit, kept for
    API parity but EXPLICITLY the slow path (SURVEY.md §2.10: discourage;
    each row round-trips the Python boundary individually)."""
    tag = F.udf(lambda brand, size: f"{brand[:5].upper()}:{size}", "string")
    p = load(spark, sf_dir, "part")
    return p.select("p_partkey", tag("p_brand", "p_size").alias("brand_tag"))


@register(
    "udtf_python_lateral",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), e AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, n - 1, 10)) AS seg_start
        FROM t
    )
    SELECT doc_id,
           CAST(FLOOR(seg_start / 10.0) AS INTEGER) AS segment_idx,
           CAST(len(toks[seg_start + 1 : seg_start + 10]) AS INTEGER)
               AS n_seg_tokens,
           array_to_string(toks[seg_start + 1 : seg_start + 10], ' ')
               AS segment_text
    FROM e
    """,
)
def udtf_python_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 3.5+ `@udtf`) applied as
    a correlated LATERAL join: each document expands into 10-token
    segments, one output row per segment (SURVEY.md §2.10). This is the
    remaining UDF-family member after scalar pandas / grouped-agg /
    grouped-map / legacy row UDFs — and, because the segmentation is
    deterministic integer logic, it is ORACLE-CHECKED, not rows-only.

    Scale: a UDTF is row-at-a-time Python (the slow path — SURVEY.md
    §7.6); it belongs on corpus-sized tables only when the built-in
    explode/sequence form (see llm_chunking, the fast twin of this
    operator) cannot express the expansion. Declared here to cover the
    API surface; the engine's guidance is llm_chunking for production.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="segment_idx int, n_seg_tokens int, segment_text string")
    class SegmentDoc:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(0, len(toks), 10):
                chunk = toks[i : i + 10]
                yield (i // 10, len(chunk), " ".join(chunk))

    spark.udtf.register("segment_doc", SegmentDoc)
    load(spark, sf_dir, "documents").createOrReplaceTempView("udtf_documents_v")
    return spark.sql(
        """
        SELECT d.doc_id, s.segment_idx, s.n_seg_tokens, s.segment_text
        FROM udtf_documents_v d, LATERAL segment_doc(d.text) s
        """
    )


@register(
    "udaf_grouped_arrow",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY source
    """,
)
def udaf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInArrow (Spark 4 Arrow-native group API): per-source
    document stats computed with pyarrow.compute kernels on the raw Arrow
    table — no pandas materialization at all, the zero-copy lower-overhead
    sibling of `udtf_group_normalize`'s applyInPandas.

    All outputs are exact int64 sums/maxes, so the key stays
    hash-checkable. Same scale contract as every grouped-map op: a group
    must fit one Python worker; for unbounded groups use the plain
    aggregate (the oracle's formulation).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def source_stats(table: pa.Table) -> pa.Table:
        chars = table.column("n_chars")
        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": pa.array([table.num_rows], pa.int64()),
                "total_chars": pa.array([pc.sum(chars).as_py()], pa.int64()),
                "max_chars": pa.array([pc.max(chars).as_py()], pa.int64()),
            }
        )

    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").applyInArrow(
        source_stats,
        schema="source string, n_docs long, total_chars long, max_chars long",
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(text) AS BIGINT) AS n_chars_arrow
    FROM documents
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (Spark 4): stream RecordBatches through pyarrow string
    kernels (count_substring / utf8_length) without ever building pandas
    objects — the minimal-overhead Python boundary, right below
    mapInPandas in cost and the one to pick when the logic is pure Arrow
    compute.

    Word/char counts are exact integers (split on single space matches
    the oracle's string_split). Per-batch map, zero shuffle — scales
    embarrassingly with input splits like every mapInArrow stage.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def batch_stats(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.add(pc.count_substring(text, " "), 1), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                ["doc_id", "n_words", "n_chars_arrow"],
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        batch_stats, schema="doc_id long, n_words long, n_chars_arrow long"
    )
