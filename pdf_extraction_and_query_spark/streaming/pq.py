"""Incremental PQ code-index maintenance under Structured Streaming — the
quantized twin of ``streaming/ivf.py``'s LSM shape.

Layout under one index root:
  index/, delta/  (vec_id, codes) — the 64x-compressed row index on the
             delta-index engine (``streaming/deltaindex.py``, identity
             merge)
  _codebook  (m, code, cw) — FROZEN at init; new vectors encode against
             it (the standard PQ insert rule — re-training the codebook is
             a rebuild, not maintenance)

``pq_topk_merged`` runs the literal-LUT ADC over base ∪ deltas (codes only
— 8 small ints/vector through the scan) and re-ranks the shortlist against
the PRIMARY vector table the caller passes: the index never stores raw
vectors; in production they live in the corpus table and the re-rank is a
point-read of PQ_RERANK rows, which is exactly the split this module keeps.
``pq_compact`` folds deltas into the base. Append-only on vec_id, same
contract as the FTS/IVF maintainers.

The IVFADC twin (``ivfpq_*``) keeps ``operators/pq.ivfpq_build``'s layout:
its ``codes`` table, partitioned by cent_id, is the engine base and
``delta/`` holds (batch_id, cent_id) partitions.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from ..operators.pq import _codebook_np, _pq_search, pq_assign, pq_codebook
from ..operators.search import _probe_ids, _qv_np, fixed_point_vec
from ..sources import tables
from . import deltaindex as DX

_COLS = ["vec_id", "codes"]
_IVFPQ_COLS = ["vec_id", "cent_id", "codes"]


def _ivfpq(root: str) -> tuple[str, str]:
    """The IVFADC index's engine (base, delta) pair."""
    return f"{root}/codes", f"{root}/delta"


def pq_stream_init(embeddings: DataFrame, root: str) -> None:
    """Encode the initial corpus and freeze the codebook."""
    tables.replace_table(pq_codebook(embeddings), f"{root}/_codebook")
    cb = _read_codebook(embeddings.sparkSession, root)
    DX.init_index(pq_assign(embeddings, cb), root)


def _read_codebook(
    spark: SparkSession, root: str, name: str = "_codebook"
) -> np.ndarray:
    return _codebook_np(tables.read_table(spark, f"{root}/{name}"))


def make_pq_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: encode the batch's vectors against the frozen
    codebook and write them as its delta partition."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cb = _read_codebook(batch_df.sparkSession, root)
        DX.write_delta(pq_assign(batch_df, cb), root, batch_id)

    return process_batch


def pq_topk_merged(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """ADC top-k over base ∪ delta codes with the exact re-rank against
    ``vectors`` — the primary (vec_id, embedding) table, which must cover
    every indexed vector (base corpus plus streamed rows; the stream ingest
    that feeds the index deltas appends the raw rows there)."""
    codes = DX.read_merged(spark, root, _COLS)
    cb = _read_codebook(spark, root)
    qv = _qv_np(vectors, query_vec_id)
    return _pq_search(codes, vectors, cb, qv, k, rerank)


def ivfpq_stream_init(embeddings: DataFrame, root: str) -> None:
    """Build the base IVFADC index + freeze codebook AND centroids (both
    quantizers are maintenance-frozen; re-training either is a rebuild)."""
    from ..operators.pq import ivfpq_build

    ivfpq_build(embeddings, root)


def make_ivfpq_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: assign the batch's vectors to the frozen
    centroids AND encode them against the frozen codebook, writing
    (batch_id, cent_id) delta partitions, probe-prunable on cent_id like
    the base."""
    from ..operators.pq import _encode_kernel
    from ..operators.search import assign_to_centroids

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cents = tables.read_table(spark, f"{root}/_centroids")
        cb = _read_codebook(spark, root, name="codebook")
        cand = batch_df.select(
            "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
        )
        assigned = assign_to_centroids(cand, cents)
        out = assigned.select(
            "vec_id", "cent_id", _encode_kernel(cb)(F.col("ev")).alias("codes")
        )
        DX.write_delta(out, _ivfpq(root), batch_id, ["cent_id"])

    return process_batch


def ivfpq_topk_merged(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    n_probe: int = C.IVF_PROBE,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """IVFADC top-k over base ∪ deltas: probe prune on cent_id on BOTH
    sides, literal-LUT ADC over the surviving codes, exact re-rank against
    the primary ``vectors`` table."""
    qv = _qv_np(vectors, query_vec_id)
    cents = tables.read_table(spark, f"{root}/_centroids")
    probe_ids = _probe_ids(cents, qv, n_probe)
    codes = (
        DX.read_merged(spark, _ivfpq(root), _IVFPQ_COLS)
        .where(F.col("cent_id").isin(probe_ids))
        .select("vec_id", "codes")
    )
    cb = _read_codebook(spark, root, name="codebook")
    return _pq_search(codes, vectors, cb, qv, k, rerank)


def ivfpq_compact(spark: SparkSession, root: str) -> None:
    """Fold delta codes into a new version of the cent_id-partitioned base
    (partition-aligned by construction — both sides assigned to the same
    frozen centroids)."""
    DX.compact(spark, _ivfpq(root), _IVFPQ_COLS, partition_cols=["cent_id"])


def pq_compact(spark: SparkSession, root: str) -> None:
    """Fold delta codes into a new base version (see streaming/deltaindex)."""
    DX.compact(spark, root, _COLS)
