"""Binary quantization (1-bit SRP) for the similarity-search family —
the fourth point on the quantization spectrum (IVF partitions the space,
PQ compresses subspaces, SQ compresses per-dimension, BQ compresses the
whole vector to one sign bit per hyperplane; pgvector `bit(n)` + hamming
ops / FAISS binary-index analog for the reference's vector store,
src/vector_store/pgvector_client.py:193-218 being the exact-search shape
it approximates).

Search = Hamming shortlist + exact re-rank (the sq_topk/pq_topk shape):
candidates ranked by ``bit_count(srp XOR q_srp)`` over the shared
:func:`~.dedup.srp_words` sketch (contract ``srp_hyperplanes`` — the
identical planes, bit-identical in the DuckDB oracle), the BQ_RERANK
best (hamming asc, vec_id asc) re-ranked by exact int64 dot.  Every
entry point (inline, IVF-pruned, prebuilt, streaming-merged) is one
:func:`_bq_search` over its own sketch source.

100-TB shape: the sketch is 8 bytes/vector (vs 512 B fixed-point) and at
scale lives as its own persisted column — the scoring scan reads ONLY
(vec_id, srp), XOR+popcount is codegen'd JVM arithmetic (no Python), and
the shortlist is TakeOrderedAndProject (per-partition partial top-R +
driver merge); only BQ_RERANK ids come back for the exact re-rank, which
joins the full vectors via a broadcast of the R-row shortlist.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import contract as C
from .dedup import srp_pack, srp_word, srp_words
from .search import _centroids, _ivf_assign, _probe_ids, _qv_np, _rerank_topk


def bq_sketches(embeddings: DataFrame) -> DataFrame:
    """(vec_id, srp) — the persisted-index surface: 8 bytes per vector."""
    return srp_words(embeddings).select("vec_id", "srp")


def _bq_search(
    sketches: DataFrame, vectors: DataFrame, qv: np.ndarray, k: int, rerank: int
) -> DataFrame:
    """The search tail every BQ entry point shares: the ``rerank`` best
    (vec_id, srp) sketches by Hamming distance to the query's SRP word (a
    literal — pure codegen XOR + popcount, hamming asc, vec_id asc), then
    the exact re-rank against ``vectors``."""
    qword = int(srp_pack(qv[None, :])[0])
    shortlist = (
        sketches.select(
            "vec_id",
            F.bit_count(F.col("srp").bitwiseXOR(F.lit(qword)))
            .cast("long")
            .alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(rerank)
    )
    return _rerank_topk(shortlist, vectors, qv, k).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "hamming",
        "dot_e12",
        "rank",
    )


def bq_topk(
    embeddings: DataFrame,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.BQ_RERANK,
) -> DataFrame:
    """Binary-quantized approximate top-k: Hamming distance over SRP
    sketches ranks the corpus (sketch-only scan, JVM popcount), the
    ``rerank`` best are re-ranked by exact fixed-point dot.  Output
    (vec_id, hamming, dot_e12, rank) — deterministic at both stages
    (hamming asc, vec_id asc; then dot desc, vec_id asc)."""
    qv = _qv_np(embeddings, query_vec_id)
    return _bq_search(bq_sketches(embeddings), embeddings, qv, k, rerank)


def ivfbq_topk(
    embeddings: DataFrame,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    n_centroids: int = C.IVF_CENTROIDS,
    n_probe: int = C.IVF_PROBE,
    rerank: int = C.BQ_RERANK,
) -> DataFrame:
    """IVF + binary quantization end-to-end (the ivfpq_topk shape with
    the 1-bit quantizer): the coarse quantizer prunes to the ``n_probe``
    probed lists, Hamming distance over the SRP sketch ranks only the
    survivors, and the ``rerank`` shortlist pays the exact dot.  At
    10^12 vectors the scan touches n_probe/n_lists of the corpus AND
    reads 8 bytes per survivor — the two savings multiply (in a
    persisted layout the sketches live partitioned by cent_id, the
    ivfpq_build precedent; this is the inline oracle-paired form)."""
    qv = _qv_np(embeddings, query_vec_id)
    probe_ids = _probe_ids(_centroids(embeddings, n_centroids), qv, n_probe)
    sketches = (
        _ivf_assign(embeddings, n_centroids)
        .where(F.col("cent_id").isin(probe_ids))
        .select("vec_id", srp_word(F.col("ev")).alias("srp"))
    )
    return _bq_search(sketches, embeddings, qv, k, rerank)


def bq_build(embeddings: DataFrame, index_path: str) -> None:
    """Build phase: persist the sketch table (vec_id, srp — 8 bytes per
    vector, a 64x reduction over the fixed-point vector).  Unpartitioned
    by design: Hamming ranking scans every sketch; the compression IS
    the scan saving (the pq_build precedent)."""
    from ..sources import tables

    tables.replace_table(bq_sketches(embeddings), f"{index_path}/sketches")


def bq_topk_prebuilt(
    spark,
    embeddings: DataFrame,
    index_path: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.BQ_RERANK,
) -> DataFrame:
    """Search phase over a :func:`bq_build` index — the production
    search-many shape: the sketch scan reads only (vec_id, srp), zero
    shuffle before the TakeOrderedAndProject shortlist; only ``rerank``
    ids join back to the true vectors for the exact re-rank.  Identical
    to the inline :func:`bq_topk` by construction (asserted in test_bq)."""
    from ..sources import tables

    sketches = tables.read_table(spark, f"{index_path}/sketches")
    qv = _qv_np(embeddings, query_vec_id)
    return _bq_search(sketches, embeddings, qv, k, rerank)


def bq_recall(
    embeddings: DataFrame, k: int = C.TOPK, query_vec_id: int = 0
) -> DataFrame:
    """recall@k of the Hamming-shortlist path vs exact brute force — one
    fixed-point scalar row (the ivf_recall / sq_recall report shape)."""
    from .search import vector_topk

    approx = bq_topk(embeddings, k, query_vec_id).select("vec_id")
    brute = vector_topk(embeddings, k, query_vec_id).select("vec_id")
    hits = approx.join(brute, "vec_id").count()
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(int(query_vec_id), int(hits), int(k), int(hits * C.FIXED_POINT // k))],
        "q_id long, n_hits long, k long, recall_e6 long",
    )
