"""Matryoshka truncation-recall contract (operators/search.mrl_recall)
— pinned against an independent numpy replay of prefix-dot brute top-k."""

from __future__ import annotations

import numpy as np
import pytest

from pdf_extraction_and_query_spark import contract as C
from pdf_extraction_and_query_spark.operators import search as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_mrl_recall_matches_numpy_replay(emb):
    out = {
        (r["q_id"], r["dim"]): (r["n_overlap"], r["recall_e6"])
        for r in S.mrl_recall(emb).collect()
    }
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf.vec_id.to_numpy().astype(np.int64)
    X = np.stack(
        [
            np.round(
                np.asarray(v[: C.EMBED_DIM], dtype=np.float64) * C.FIXED_POINT
            )
            for v in pdf.embedding
        ]
    ).astype(np.int64)

    def topk(q, d):
        dots = X[:, :d] @ X[ids == q][0, :d]
        order = np.lexsort((ids, -dots))[: C.TOPK]
        return set(ids[order])

    assert len(out) == C.MULTI_QUERY_N * len(C.MRL_DIMS)
    for q in range(C.MULTI_QUERY_N):
        full = topk(q, C.EMBED_DIM)
        for d in C.MRL_DIMS:
            n = len(topk(q, d) & full)
            assert out[(q, d)] == (n, (1_000_000 * n) // C.TOPK), (q, d)
        # the full-dim anchor row is always perfect recall
        assert out[(q, C.EMBED_DIM)] == (C.TOPK, 1_000_000)


def test_mrl_recall_rejects_dims_without_full_anchor(emb, monkeypatch):
    """Without EMBED_DIM in MRL_DIMS recall would flatline at 0; the guard
    is a ValueError (an assert would vanish under python -O)."""
    monkeypatch.setattr(C, "MRL_DIMS", (8, 16, 32))
    with pytest.raises(ValueError, match="recall anchor"):
        S.mrl_recall(emb)
