"""Incremental IVF vector-index maintenance under Structured Streaming —
the vector twin of ``streaming/fts.py``'s LSM shape.

Layout under one index root:
  index/, delta/  (vec_id, ev, cent_id) — the row index on the delta-index
             engine (``streaming/deltaindex.py``, identity merge),
             partitioned by cent_id (deltas by batch_id/cent_id)
  _centroids (cent_id, cv) — FROZEN at init; new vectors assign to these
             (the standard IVF insert rule — re-training centroids is a
             rebuild, not maintenance)

``ivf_topk_merged`` probes base ∪ deltas with cent_id pruning on BOTH
sides; ``ivf_compact`` folds deltas into base partitions (partition-
aligned: cent_ids agree by construction).  Append-only on vec_id, same
contract as the FTS maintainer.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from ..operators.search import (
    _centroids,
    _exact_topk,
    _probe_ids,
    _qv_np,
    assign_to_centroids,
    fixed_point_vec,
)
from ..sources import tables
from . import deltaindex as DX

_COLS = ["vec_id", "ev", "cent_id"]


def ivf_stream_init(
    embeddings: DataFrame, root: str, n_centroids: int = C.IVF_CENTROIDS
) -> None:
    """Build the base index + freeze the centroid set."""
    cents = _centroids(embeddings, n_centroids)
    tables.replace_table(cents, f"{root}/_centroids")
    cand = embeddings.select(
        "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
    )
    DX.init_index(assign_to_centroids(cand, cents), root, ["cent_id"])


def make_ivf_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: assign the batch's vectors to the frozen
    centroids and write them as its delta partition."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cents = tables.read_table(batch_df.sparkSession, f"{root}/_centroids")
        cand = batch_df.select(
            "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
        )
        out = assign_to_centroids(cand, cents)
        DX.write_delta(out, root, batch_id, ["cent_id"])

    return process_batch


def ivf_topk_merged(
    spark: SparkSession,
    root: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    n_probe: int = C.IVF_PROBE,
) -> DataFrame:
    """Top-k over base ∪ deltas, cent_id-pruned on both sides.  The query
    vector is looked up in the index itself (base ∪ delta — a streamed-in
    vector can be the query)."""
    allv = DX.read_merged(spark, root, _COLS)
    qv = _qv_np(allv, query_vec_id, F.col("ev"))
    cents = tables.read_table(spark, f"{root}/_centroids")
    probe_ids = _probe_ids(cents, qv, n_probe)
    cand = allv.where(F.col("cent_id").isin(probe_ids)).select("vec_id", "ev")
    return _exact_topk(cand, qv, k)


def ivf_compact(spark: SparkSession, root: str) -> None:
    """Fold deltas into a new base version (see streaming/deltaindex)."""
    DX.compact(spark, root, _COLS, partition_cols=["cent_id"])
