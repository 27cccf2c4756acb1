"""The numpy kernels the embedding keys run in Python workers: the
top-k tie-break and self-exclusion rule, ROUND's away-from-zero
micro-quantization, the sign planes and the IVF width check."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from classification_problem_with_pyspark_spark.functions.embedding_kernels import (
    bit_code,
    cosine_sims,
    cosine_topk,
    round6,
    sign_planes,
    sign_projections,
    top_k,
)
from classification_problem_with_pyspark_spark.functions.hashing import md5_long_py
from classification_problem_with_pyspark_spark.operators.extended67 import (
    EMB_DIM,
    IVF_BITS,
    _ivf_cell_batches,
)

V = np.array([1.0, 2.0, 3.0])
U = np.array([3.0, -1.0, 0.5])


def test_duplicates_tie_on_rounded_sim_and_resolve_by_id():
    # id 9 is the probe; id 4 duplicates it; 2 and 6 are U, with 6 nudged
    # so its raw cosine is higher but rounds to the same 6-decimal value
    cid = np.array([9, 6, 4, 2])
    c = np.stack([V, U + 1e-9, V, U])
    raw = (c @ V) / (np.linalg.norm(c, axis=1) * np.linalg.norm(V))
    assert raw[1] > raw[3] and round6(raw[1]) == round6(raw[3])

    hits = cosine_topk(np.array([9]), V[None, :], cid, c, k=5)
    assert hits["nid"].tolist() == [4, 2, 6]  # self (9) out, its duplicate (4) in
    assert hits["rank"].tolist() == [1, 2, 3]
    assert hits["qid"].tolist() == [9, 9, 9]
    assert hits["cosine_sim"].tolist() == [1.0, round6(raw[3]), round6(raw[3])]


def test_top_k_excludes_by_id_not_by_value_and_cuts_at_k():
    cid = np.array([5, 3, 8])
    c = np.stack([V, V, V])
    sims = cosine_sims(np.stack([V, V]), c)
    assert [cid[t].tolist() for t in top_k(np.array([3, 7]), sims, cid, k=2)] == [[5, 8], [3, 5]]


def test_cosine_topk_of_no_probes_is_empty():
    hits = cosine_topk(np.array([], dtype=np.int64), np.empty((0, 3)), np.array([1]), V[None, :], k=3)
    assert hits.empty and list(hits.columns) == ["qid", "nid", "cosine_sim", "rank"]


def test_micro_quantization_rounds_ties_away_from_zero():
    x = np.array([[0.5e-6], [-0.5e-6], [1.5e-6], [-2.5e-6], [0.49e-6], [0.0]])
    unit = np.ones((1, 1), dtype=np.int64)
    assert sign_projections(x, unit)[:, 0].tolist() == [1, -1, 2, -3, 0, 0]


def test_sign_planes_follow_the_md5_parity_rule():
    planes = sign_planes("srp", 3, 5)
    assert planes.shape == (3, 5) and planes.dtype == np.int64
    assert all(
        planes[p, d] == 1 - 2 * (md5_long_py(f"srp_{p}_{d}") % 2) for p in range(3) for d in range(5)
    )
    x = np.array([[0.25, -0.5, 1.0, 0.0, 2e-6]])
    q = np.array([250000, -500000, 1000000, 0, 2])
    assert sign_projections(x, planes)[0].tolist() == (planes @ q).tolist()
    assert bit_code(np.array([[True, False, True], [False, False, False]])).tolist() == [5, 0]


def test_ivf_cells_need_64_wide_vectors():
    ok = pd.DataFrame({"embedding": [np.linspace(-1, 1, EMB_DIM)]})
    (cells,) = _ivf_cell_batches(iter([ok]))
    assert 0 <= cells["cell"].iloc[0] < 1 << IVF_BITS
    bad = pd.DataFrame({"embedding": [np.zeros(EMB_DIM), np.zeros(EMB_DIM - 1)]})
    with pytest.raises(ValueError, match=rf"{EMB_DIM}-dim"):
        list(_ivf_cell_batches(iter([bad])))
