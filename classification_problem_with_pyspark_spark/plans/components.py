"""Connected components by min-label propagation (the GraphX/GraphFrames
CC formulation) as DataFrame joins.

Each round every node takes the least of its own label and its
neighbours' labels, so the rounds needed equal the largest component's
diameter. Labels only decrease, so an unchanged label sum is the
fixpoint: one small aggregate per round, no self-join diff.
``localCheckpoint`` cuts the lineage each round; without it the plan
doubles every iteration. The driver loop is control flow only: each
round moves data through one shuffle join on the node id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_label_components(edges: DataFrame, ids: DataFrame, max_rounds: int, key: str) -> DataFrame:
    """(id, label) for every row of ``ids`` (one column, ``id``), with
    label = the least id in its component over the undirected
    ``edges(src, dst)``; a node no edge touches is its own component.
    Raises ``RuntimeError`` naming ``key`` when the labels still change
    after ``max_rounds`` rounds: partial labels would silently split
    components."""
    edges = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)  # the edge list is built once, not per round
    )
    labels = ids.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, "id", "left")
            .select("id", F.least("label", "nbr_label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"{key}: connected components did not converge within {max_rounds} rounds "
        f"(a component's diameter exceeds {max_rounds}); raise the bound"
    )
