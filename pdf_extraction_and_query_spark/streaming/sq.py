"""Incremental SQ8 code-index maintenance under Structured Streaming —
the scalar-quantized sibling of ``streaming/pq.py``'s LSM shape.

Layout under one index root:
  index/, delta/             — (vec_id, codes), the 8x-compressed row
           index on the delta-index engine (``streaming/deltaindex.py``,
           identity merge)
  _bounds  (dim, mn, mx)     — FROZEN at init; new vectors encode against
           them (the standard SQ insert rule — re-deriving bounds is a
           rebuild, not maintenance).  A streamed value outside the frozen
           range extrapolates (code < 0 or > SQ_LEVELS) rather than clamps:
           the affine scoring formula stays exact either way and the
           merged == one-shot-under-frozen-bounds equality holds by
           construction (production would widen bounds at the next rebuild;
           tests/test_sq.py pins the seam semantics).

``sq_topk_merged`` scores base ∪ deltas with the asymmetric integer
kernel (codes only through the scan) and re-ranks the shortlist against
the PRIMARY vector table the caller passes — the index never stores raw
vectors, exactly the streaming/pq.py split.  ``sq_compact`` folds deltas.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .. import contract as C
from ..operators.search import _qv_np
from ..operators.sq import _sq_search, sq_assign, sq_bounds_np
from ..sources import tables
from . import deltaindex as DX

_COLS = ["vec_id", "codes"]


def sq_stream_init(embeddings: DataFrame, root: str) -> None:
    """Encode the initial corpus and freeze the per-dimension bounds."""
    mn, mx = sq_bounds_np(embeddings)
    spark = embeddings.sparkSession
    bounds = spark.createDataFrame(
        [(int(d), int(mn[d]), int(mx[d])) for d in range(C.EMBED_DIM)],
        "dim long, mn long, mx long",
    )
    tables.replace_table(bounds, f"{root}/_bounds")
    DX.init_index(sq_assign(embeddings, (mn, mx)), root)


def _read_bounds(spark: SparkSession, root: str) -> tuple[np.ndarray, np.ndarray]:
    mn = np.zeros(C.EMBED_DIM, dtype=np.int64)
    mx = np.zeros(C.EMBED_DIM, dtype=np.int64)
    for r in tables.read_table(spark, f"{root}/_bounds").collect():
        mn[r.dim] = r.mn
        mx[r.dim] = r.mx
    return mn, mx


def make_sq_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: encode the batch's vectors against the FROZEN
    bounds and write them as its delta partition."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bounds = _read_bounds(batch_df.sparkSession, root)
        DX.write_delta(sq_assign(batch_df, bounds), root, batch_id)

    return process_batch


def sq_topk_merged(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.SQ_RERANK,
) -> DataFrame:
    """Asymmetric-scored top-k over base ∪ delta codes with the exact
    re-rank against ``vectors`` — the primary (vec_id, embedding) table,
    which must cover every indexed vector."""
    codes = DX.read_merged(spark, root, _COLS)
    qv = _qv_np(vectors, query_vec_id)
    out = _sq_search(codes, vectors, qv, _read_bounds(spark, root), k, rerank)
    return out.select("rank", "vec_id", "adot_sq", "dot_e12")


def sq_compact(spark: SparkSession, root: str) -> None:
    """Fold delta codes into a new base version (see streaming/deltaindex)."""
    DX.compact(spark, root, _COLS)
