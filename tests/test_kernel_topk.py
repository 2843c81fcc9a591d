"""The scoring kernel's top-k merge keeps only a block's candidates
scoring at least its k-th best before the (score desc, docid asc)
sort. That prefilter is exact only if every candidate tied at the
k-th score survives it: these blocks hold more than ``top_k`` such
ties, and the kernel's top-k must equal a full sort of every match,
with block-max pruning on and off. No Spark: the kernel runs on
hand-encoded posting rows."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from seekstorm_spark.codecs import encode_docids, encode_tfs
from seekstorm_spark.query.engine import QueryPlan, _make_kernel

BLOCK = 64
PLAN = QueryPlan("union", {"a": 1.5}, [], [], False)


def _row(block_id: int, local: np.ndarray, tfs: np.ndarray, dls: np.ndarray):
    return {
        "shard": 0,
        "block_id": block_id,
        "term": "a",
        "field": 0,
        "max_tf": int(tfs.max()),
        "min_dl_byte": int(dls.min()),
        "docids_vb": encode_docids(local),
        "tfs_vb": encode_tfs(tfs),
        "dls": dls.astype(np.uint8).tobytes(),
        "pos_vb": None,
    }


def _run(rows: list[dict], top_k: int, prune: bool, **opts) -> list[tuple]:
    kernel = _make_kernel(
        [(0, PLAN)], top_k, prune, 20.0, {0: 1.0}, block_size=BLOCK, **opts
    )
    out = pd.concat(list(kernel(iter([pd.DataFrame(rows)]))))
    return list(zip(out["docid"].tolist(), out["score"].tolist()))


def _full_sort(rows: list[dict], top_k: int) -> list[tuple]:
    every = _run(rows, top_k, False, emit_all=True)
    return sorted(every, key=lambda t: (-t[1], t[0]))[:top_k]


def _tie_blocks() -> list[dict]:
    """Three score levels per block (tf 3 > 2 > 1 at one doc length);
    the middle level holds 26 and 39 tied docs, so the k-th best of
    each block — and of the merge — is a tie far wider than top_k."""
    dl = np.full(60, 10)
    local = np.arange(60)
    tf0 = np.where(local < 4, 3, np.where(local < 30, 2, 1))
    tf1 = np.where(local < 2, 3, np.where(local < 41, 2, 1))
    return [_row(0, local, tf0, dl), _row(1, local, tf1, dl)]


@pytest.mark.parametrize("prune", [True, False])
def test_topk_keeps_ties_at_kth_score(prune):
    rows = _tie_blocks()
    got = _run(rows, 10, prune)
    assert got == _full_sort(rows, 10)
    # 4 + 2 tf=3 docs, then the lowest-docid tf=2 docs of block 0
    assert [d for d, _s in got] == [0, 1, 2, 3, 64, 65, 4, 5, 6, 7]


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("top_k", [1, 7, 40, 500])
def test_topk_equals_full_sort_on_tied_blocks(prune, top_k):
    rng = np.random.default_rng(7)
    rows = []
    for block_id in range(6):
        local = np.sort(rng.choice(BLOCK, size=int(rng.integers(20, 64)),
                                   replace=False))
        # few distinct (tf, dl) pairs → many exact score ties
        tfs = rng.integers(1, 4, size=local.size)
        dls = rng.choice([8, 12], size=local.size)
        rows.append(_row(block_id, local, tfs, dls))
    assert _run(rows, top_k, prune) == _full_sort(rows, top_k)
