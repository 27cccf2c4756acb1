"""Bounded-grid ordered-window helper (round 8, VERDICT r7 item 6).

An ordered window with no ``partitionBy`` funnels its whole input
through ONE ``WindowExec`` task, so it is only ever safe over a relation
whose row count is bounded by a VALUE DOMAIN (distinct scores, calendar
days, histogram cells) — never by the fact-table row count. This module
is the single place the distinct-value-grid cumsum family spells that
window: callers hand it a post-aggregation grid and the helper ASSERTS
the plan shape at build time, turning the window-ratchet allowlist's
prose boundedness argument into enforced code.

The assertion is structural and LINEAGE-AWARE (round 9, ADVICE r8
medium): it walks the analyzed logical plan tree and requires EVERY
root-to-leaf path to pass through an ``Aggregate`` (``groupBy().agg``)
or ``Deduplicate`` (``distinct()``) node before reaching a source
relation — literal relations (``LocalRelation``/``OneRowRelation``)
count as bounded leaves. Joins require ALL branches bounded, so the
earlier loophole — a raw fact scan ``crossJoin(broadcast(tot))`` where
only the tiny total side was aggregated — now fails at plan-build time
instead of funnelling fact-scale rows through one WindowExec task.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["grid_cumsum", "grid_rank", "grid_shift"]

# Test-only capture hook (tests/test_bounded_grid.py). The lineage-walk
# assertion below proves "post-aggregation", NOT "value-domain bounded":
# groupBy(user_id) passes it while growing linearly with the fact table
# (the class round 9's hand audit fixed eight times). When set to a list,
# every grid_* call appends its routed grid DataFrame so the multi-SF
# cardinality tripwire can COUNT each grid at several scale factors and
# fail any site whose cardinality grows with SF — making the value-domain
# distinction structural instead of a per-round human audit (VERDICT r9).
GRID_CAPTURE: list[DataFrame] | None = None


# Nodes that bound their whole subtree: one output row per distinct cell.
_BOUNDING = {"Aggregate", "Deduplicate"}
# Leaves taken as bounded: driver-side literal data (catalog.local_rows
# builds a LocalRelation) and LogicalRDD, which in this package only
# localCheckpoint makes. The analyzed plan keeps no trace of what a
# checkpoint cut off, so a checkpointed aggregate (agg_hodges_lehmann's
# daily grid) and a checkpointed fact scan look the same here: grid a
# checkpoint only of a relation that is itself a bounded grid.
_LITERAL_LEAVES = {"LocalRelation", "OneRowRelation", "LogicalRDD"}


def _lineage_bounded(node) -> bool:
    """True iff every root-to-leaf path in the analyzed plan below `node`
    passes through an Aggregate/Deduplicate (pruned: stop at the first
    bounding node) or ends in a literal relation. Source scans
    (LogicalRelation / DataSourceV2Relation / file scans) that are NOT
    under a bounding node make the lineage unbounded; joins require ALL
    branches bounded, so fact ⨯ broadcast(aggregate) no longer passes."""
    name = node.getClass().getSimpleName()
    if name in _BOUNDING:
        return True
    children = node.children()
    n = children.size()
    if n == 0:
        return name in _LITERAL_LEAVES
    return all(_lineage_bounded(children.apply(i)) for i in range(n))


def _assert_bounded_grid(grid: DataFrame) -> None:
    """Fail fast unless `grid` is post-aggregation (one row per distinct
    value cell) along EVERY input lineage. Tree walk on the ANALYZED
    logical plan — zero jobs run (ADVICE r8: the previous substring check
    passed if ANY Aggregate appeared anywhere, so a fact-scale relation
    cross-joined with a tiny aggregated total slipped through)."""
    if GRID_CAPTURE is not None:
        GRID_CAPTURE.append(grid)
    if not _lineage_bounded(grid._jdf.queryExecution().analyzed()):
        raise AssertionError(
            "grid_cumsum input must be a post-aggregation distinct-value "
            "grid: every lineage path in its analyzed plan must pass "
            "through an Aggregate/Deduplicate (or end in a literal "
            "relation); an unaggregated branch would funnel fact-scale "
            "rows through a single WindowExec task"
        )


def grid_cumsum(
    grid: DataFrame,
    order_by: Iterable[Column | str],
    sums: Iterable[tuple[str, str | Column]],
    keep: Iterable[Column | str],
    frame_end: int = 0,
    frame_start: int | None = None,
) -> DataFrame:
    """Framed running aggregates over a bounded distinct-value grid.

    Parameters
    ----------
    grid : one row per distinct value cell (MUST be post-aggregation —
        asserted structurally, see `_assert_bounded_grid`).
    order_by : window ordering, e.g. ``[F.desc("score")]``.
    sums : ``(out_name, src)`` pairs. A string `src` becomes
        ``sum(src) OVER (frame)``; a Column `src` must be an aggregate
        expression (``F.max("m")``, ``F.count("*")``, ``F.sum(x*y)``)
        and is applied over the frame as-is.
    keep : passthrough columns selected before the aggregate columns.
    frame_end : window frame end offset — 0 (inclusive running total) or
        a negative offset such as -1 (strictly-before total; string sums
        coalesce the empty-frame NULL to 0, the rank-sum "count before"
        form).
    frame_start : window frame start offset — None (the default) means
        UNBOUNDED PRECEDING; an int such as -6 gives a rolling frame.

    Scale: the input is one row per distinct value of the ordered key, so
    the single WindowExec partition holds |value domain| rows regardless
    of fact-table size — the same posture at sf0.001 and at 100 TB.
    """
    _assert_bounded_grid(grid)
    start = Window.unboundedPreceding if frame_start is None else frame_start
    w = Window.orderBy(*order_by).rowsBetween(  # bounded-grid site (asserted above)
        start, frame_end
    )
    out: list[Column] = []
    for name, src in sums:
        if isinstance(src, str):
            c = F.sum(src).over(w)
            if frame_end < 0:
                c = F.coalesce(c, F.lit(0))
        else:
            c = src.over(w)
        out.append(c.alias(name))
    return grid.select(*keep, *out)


def grid_rank(
    grid: DataFrame,
    order_by: Iterable[Column | str],
    name: str,
    fn: Column | None = None,
    cast: str | None = None,
) -> DataFrame:
    """Ranking function over a bounded distinct-value grid (asserted
    post-aggregation, like `grid_cumsum`): appends column `name` =
    ``fn OVER (ORDER BY order_by)``. `fn` defaults to ``row_number()``;
    pass e.g. ``F.ntile(10)`` for decile assignment. The single-task
    window is safe for the same reason as the cumsum: its input is one
    row per distinct value cell, never the fact relation."""
    _assert_bounded_grid(grid)
    w = Window.orderBy(*order_by)  # bounded-grid site (asserted above)
    c = (F.row_number() if fn is None else fn).over(w)
    if cast is not None:
        c = c.cast(cast)
    return grid.withColumn(name, c)


def grid_shift(
    grid: DataFrame,
    order_by: Iterable[Column | str],
    shifts: Iterable[tuple[str, str, int]],
) -> DataFrame:
    """lag/lead columns over a bounded distinct-value grid (asserted
    post-aggregation): `shifts` is ``(name, src_col, offset)`` with
    offset -k = the value k rows BACK (lag) and +k = k rows AHEAD
    (lead) in `order_by` order; missing neighbours are NULL."""
    _assert_bounded_grid(grid)
    w = Window.orderBy(*order_by)  # bounded-grid site (asserted above)
    df = grid
    for name, src, off in shifts:
        shifted = F.lag(src, -off).over(w) if off < 0 else F.lead(src, off).over(w)
        df = df.withColumn(name, shifted)
    return df
