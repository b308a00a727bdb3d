"""Scalar quantization (SQ8) for the similarity-search family — the
third point on the quantization spectrum (IVF partitions the space, PQ
compresses subspaces, SQ compresses per-dimension; pgvector's halfvec /
FAISS's SQ8 analog for the reference's vector store).

Per-dimension affine quantizer: over the fixed-point corpus compute
(mn_d, mx_d); code_d = (x_d - mn_d) * SQ_LEVELS div (mx_d - mn_d)
(non-negative, so Spark/numpy floor == DuckDB `//` truncation), a
constant dimension quantizes to 0.  Asymmetric scoring never dequantizes
lossily: score_sq = sum_d qv_d * (SQ_LEVELS*mn_d + code_d*(mx_d - mn_d))
= SQ_LEVELS * <qv, recon(x)> exactly, all int64 (|term| <= 7.65e14, sum
<= 4.9e16 << 2^63) — bit-equal to the DuckDB oracle.  Search = SQ
shortlist of SQ_RERANK (TakeOrderedAndProject) then exact int64-dot
re-rank of the shortlist only (the pq_topk shape).

100-TB shape: min/max is one skinny (dim, val) shuffle with map-side
partial agg (64 rows out); codes are ONE narrow Arrow pass against the
broadcast 64-int bounds (8 bytes/vector/dim -> 64 B codes vs 512 B
fixed-point — the at-scale scan reads tinyint codes only); scoring is a
narrow matvec pass; only SQ_RERANK ids come back for the exact re-rank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import contract as C
from .search import _qv_np, _rerank_topk, fixed_point_vec


def sq_bounds_np(embeddings: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(mn, mx) int64 per-dimension bounds — metadata (EMBED_DIM rows out
    of one map-side-combined skinny shuffle)."""
    rows = (
        embeddings.select(
            F.posexplode(fixed_point_vec(F.col("embedding"))).alias("dim", "val")
        )
        .groupBy("dim")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .collect()
    )
    assert len(rows) == C.EMBED_DIM
    mn = np.zeros(C.EMBED_DIM, dtype=np.int64)
    mx = np.zeros(C.EMBED_DIM, dtype=np.int64)
    for r in rows:
        mn[r.dim] = r.mn
        mx[r.dim] = r.mx
    return mn, mx


def _encode_kernel(mn: np.ndarray, mx: np.ndarray):
    rng = mx - mn
    safe = np.where(rng == 0, 1, rng)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def encode(ev: pd.Series) -> pd.Series:
        if ev.empty:
            return pd.Series([], dtype="object")
        E = np.stack(ev.to_numpy()).astype(np.int64)
        q = (E - mn[None, :]) * C.SQ_LEVELS // safe[None, :]
        q = np.where(rng[None, :] == 0, 0, q)
        return pd.Series(list(q.astype(np.int32)))

    return encode


def sq_assign(
    embeddings: DataFrame, bounds: tuple[np.ndarray, np.ndarray] | None = None
) -> DataFrame:
    """(vec_id, codes array<int> of length EMBED_DIM) — one narrow Arrow
    pass.  Pass ``bounds`` to encode against FROZEN build-time bounds (the
    streaming-insert rule: re-deriving bounds is a rebuild)."""
    mn, mx = bounds if bounds is not None else sq_bounds_np(embeddings)
    return embeddings.select(
        "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
    ).select("vec_id", _encode_kernel(mn, mx)(F.col("ev")).alias("codes"))


def sq_codes(embeddings: DataFrame) -> DataFrame:
    """Driver/oracle surface: one scalar row per (vec_id, dim, code)."""
    return (
        sq_assign(embeddings)
        .select(F.col("vec_id").cast("long").alias("vec_id"),
                F.posexplode("codes").alias("dim", "code"))
        .select("vec_id", F.col("dim").cast("long").alias("dim"),
                F.col("code").cast("long").alias("code"))
    )


def _score_kernel(qv: np.ndarray, bounds: tuple[np.ndarray, np.ndarray]):
    """Arrow kernel over a ``codes`` column: the asymmetric score
    ``codes @ w + b`` = SQ_LEVELS * <qv, recon(x)>, exact int64."""
    from pyspark.sql.functions import pandas_udf

    mn, mx = bounds
    w = qv * (mx - mn)                      # |w_d| <= 2e12
    b = int((C.SQ_LEVELS * qv * mn).sum())  # exact python int

    @pandas_udf("long")
    def score(codes: pd.Series) -> pd.Series:
        if codes.empty:
            return pd.Series([], dtype="int64")
        Q = np.stack(codes.to_numpy()).astype(np.int64)
        return pd.Series(Q @ w + b)

    return score


def _sq_search(
    codes: DataFrame,
    vectors: DataFrame,
    qv: np.ndarray,
    bounds: tuple[np.ndarray, np.ndarray],
    k: int,
    rerank: int,
) -> DataFrame:
    """The search tail every SQ entry point shares: the ``rerank`` best
    (vec_id, codes) rows by :func:`_score_kernel` (adot_sq desc, vec_id
    asc), then the exact re-rank against ``vectors``.  Output (vec_id,
    adot_sq, dot_e12, rank)."""
    score = _score_kernel(qv, bounds)
    shortlist = (
        codes.select("vec_id", score(F.col("codes")).alias("adot_sq"))
        .orderBy(F.desc("adot_sq"), F.asc("vec_id"))
        .limit(rerank)
    )
    return _rerank_topk(shortlist, vectors, qv, k)


def sq_topk(
    embeddings: DataFrame,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.SQ_RERANK,
    bounds: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """SQ8 approximate top-k: asymmetric integer scoring over the codes
    (score = SQ_LEVELS * <qv, recon(x)>, exact int64), SQ_RERANK shortlist
    via TakeOrderedAndProject, exact dot re-rank of the shortlist only.
    Pass ``bounds`` to search under a FROZEN quantizer (the streaming
    maintainer's contract — streaming/sq.py)."""
    if bounds is None:
        bounds = sq_bounds_np(embeddings)
    qv = _qv_np(embeddings, query_vec_id)
    codes = sq_assign(embeddings, bounds)
    return _sq_search(codes, embeddings, qv, bounds, k, rerank).select(
        "vec_id", "dot_e12", "rank"
    )


def sq_recall(
    embeddings: DataFrame, k: int = C.TOPK, query_vec_id: int = 0
) -> DataFrame:
    """recall@k of the SQ shortlist path vs exact brute force — one
    fixed-point scalar row (the ivf_recall / pq_recall report shape)."""
    from .search import vector_topk

    approx = sq_topk(embeddings, k, query_vec_id).select("vec_id")
    brute = vector_topk(embeddings, k, query_vec_id).select("vec_id")
    hits = approx.join(brute, "vec_id").count()
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(int(query_vec_id), int(hits), int(k), int(hits * C.FIXED_POINT // k))],
        "q_id long, n_hits long, k long, recall_e6 long",
    )
