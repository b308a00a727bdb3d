"""Incremental binary-quantization sketch maintenance under Structured
Streaming — the 1-bit sibling of ``streaming/sq.py``'s LSM shape.

The quantizer (the SRP hyperplanes) is a CONTRACT CONSTANT
(``contract.srp_hyperplanes``), so unlike SQ's bounds or PQ's codebook
there is nothing to freeze at init — a streamed vector's sketch is a
pure function of the vector forever, and merged == one-shot holds with
no seam semantics at all.

The index is a row index (vec_id, srp), 8 B/vector, on the delta-index
engine (``streaming/deltaindex.py``) with the identity merge.

``bq_topk_merged`` Hamming-ranks base ∪ deltas (sketch-only scan, JVM
popcount) and re-ranks the shortlist against the PRIMARY vector table
the caller passes — the index never stores raw vectors, exactly the
streaming/pq.py split.  ``bq_stream_compact`` folds deltas.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import contract as C
from ..operators.bq import _bq_search, bq_sketches
from ..operators.search import _qv_np
from . import deltaindex as DX

_COLS = ["vec_id", "srp"]


def bq_stream_init(embeddings: DataFrame, root: str) -> None:
    """Sketch the initial corpus (no quantizer state to persist — the
    hyperplanes are contract constants)."""
    DX.init_index(bq_sketches(embeddings), root)


def make_bq_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: sketch the batch's vectors and write them
    as its delta partition."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        DX.write_delta(bq_sketches(batch_df), root, batch_id)

    return process_batch


def bq_topk_merged(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.BQ_RERANK,
) -> DataFrame:
    """Hamming-ranked top-k over base ∪ delta sketches with the exact
    re-rank against ``vectors`` — the primary (vec_id, embedding) table,
    which must cover every indexed vector.  Row-identical to the batch
    :func:`~..operators.bq.bq_topk` over the same corpus."""
    sketches = DX.read_merged(spark, root, _COLS)
    return _bq_search(sketches, vectors, _qv_np(vectors, query_vec_id), k, rerank)


def bq_stream_compact(spark: SparkSession, root: str) -> None:
    """Fold delta sketches into a new base version (see
    streaming/deltaindex)."""
    DX.compact(spark, root, _COLS)
