"""numpy kernels the embedding keys run inside Python workers: the exact
similarity keys and the sign-projection ANN keys compute through them in
``mapInPandas`` / ``applyInPandas``.

Rounding: similarities and distances go through ``round6`` before any
ranking, the replay of the oracles' ``ROUND(·, 6)``; the pandas UDFs of
``operators/udfs.py`` round with it too. The match is
fixture-verified, not exact by construction: ``np.round`` rounds half to
even on the binary double, while Spark's ``ROUND`` rounds HALF_UP in
decimal, so an edge double can round apart and flip a tie. An exact
HALF_UP replay belongs in ``round6``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from classification_problem_with_pyspark_spark.functions.hashing import md5_long_py


def as_matrix(col: pd.Series | np.ndarray) -> np.ndarray:
    """A column of equal-length arrays as one float64 matrix."""
    return np.stack(np.asarray(col)).astype(np.float64)


def read_embeddings(path: str) -> tuple[np.ndarray, np.ndarray]:
    """``(vec_id, embedding matrix)`` of the embeddings parquet at
    ``path``: the candidate side a worker reads once, in file order."""
    cand = pd.read_parquet(path, columns=["vec_id", "embedding"])
    return cand["vec_id"].to_numpy(), as_matrix(cand["embedding"])


def round6(x: np.ndarray) -> np.ndarray:
    """``x`` on the 6-decimal grid of the oracles' ``ROUND(·, 6)`` (see
    the module docstring for where the two can differ)."""
    return np.round(x, 6)


def row_norms(m: np.ndarray) -> np.ndarray:
    return np.sqrt((m * m).sum(axis=1))


def cosine_sims(p: np.ndarray, c: np.ndarray, c_norms: np.ndarray | None = None) -> np.ndarray:
    """Rounded cosine of every row of ``p`` with every row of ``c``, as
    one BLAS product; pass ``c_norms`` to reuse the candidates' norms."""
    if c_norms is None:
        c_norms = row_norms(c)
    return round6((p @ c.T) / np.outer(row_norms(p), c_norms))


def top_k(qids: np.ndarray, sims: np.ndarray, cid: np.ndarray, k: int) -> list[np.ndarray]:
    """For each probe ``i`` (id ``qids[i]``, similarities ``sims[i]``
    to the candidates ``cid``), the positions in ``cid`` of its ``k``
    nearest neighbours by (sim DESC, id ASC), the oracles' ``ORDER BY
    cosine_sim DESC, nid``. The probe is excluded by id, not by value, so
    a duplicate vector under another id stays."""
    tops = []
    for i, qid in enumerate(qids):
        keep = np.flatnonzero(cid != qid)
        tops.append(keep[np.lexsort((cid[keep], -sims[i][keep]))[:k]])
    return tops


def cosine_topk(
    qids: np.ndarray,
    p: np.ndarray,
    cid: np.ndarray,
    c: np.ndarray,
    k: int,
    c_norms: np.ndarray | None = None,
) -> pd.DataFrame:
    """Each probe's ``k`` nearest candidates by rounded cosine, one row
    per (probe, neighbour): ``qid, nid, cosine_sim, rank`` (rank from 1)."""
    sims = cosine_sims(p, c, c_norms)
    tops = top_k(qids, sims, cid, k)
    counts = [len(t) for t in tops]
    pos = np.concatenate([np.empty(0, np.intp), *tops])
    row = np.repeat(np.arange(len(qids)), counts)
    return pd.DataFrame(
        {
            "qid": np.repeat(qids, counts),
            "nid": cid[pos],
            "cosine_sim": sims[row, pos],
            "rank": np.concatenate([np.empty(0, np.int64), *(np.arange(1, n + 1) for n in counts)]),
        }
    )


def exact_topk(emb_path: str, k: int, rank_col: str):
    """A ``mapInPandas`` function from ``(vec_id, embedding)`` probe
    batches to each probe's ``k`` nearest vectors of the embeddings
    parquet at ``emb_path``: ``qid, nid, cosine_sim, <rank_col>``. Each
    task reads the candidates once."""

    def topk_batches(batches):
        cid, c = read_embeddings(emb_path)
        c_norms = row_norms(c)
        for pdf in batches:
            hits = cosine_topk(pdf["vec_id"].to_numpy(), as_matrix(pdf["embedding"]), cid, c, k, c_norms)
            yield hits.rename(columns={"rank": rank_col})

    return topk_batches


def sign_planes(prefix: str, n_planes: int, width: int) -> np.ndarray:
    """``n_planes × width`` matrix of ±1: entry (p, d) is
    ``1 − 2 · (md5_long('<prefix>_<p>_<d>') % 2)``, the oracles' plane rule."""
    return np.array(
        [[1 - 2 * (md5_long_py(f"{prefix}_{p}_{d}") % 2) for d in range(width)] for p in range(n_planes)],
        dtype=np.int64,
    )


def sign_projections(vectors: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Projections on ``planes`` of ``vectors`` quantized to int64 micro
    units, ties away from zero like the engines' ``ROUND(x * 1000000)``:
    exact int64 sums, so no sign sits on a float boundary."""
    x = vectors * 1_000_000.0
    q = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)
    return q @ planes.T


def bit_code(bits: np.ndarray) -> np.ndarray:
    """Each row of booleans as an int64 with bit ``p`` set where column
    ``p`` is true."""
    return (bits.astype(np.int64) << np.arange(bits.shape[1])).sum(axis=1)
