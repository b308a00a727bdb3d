"""Streaming anchor-text index maintenance: the incremental twin of
``operators/htmlextract.anchor_text_agg``.

A search index attributes anchor text to the TARGET page — and fresh
crawls keep arriving, so the signal must maintain incrementally.  The
level-1 ``(href, anchor_text, cnt, cnt_main)`` partials are pure sums
(fully associative), so this reuses the shared summary-delta engine
(``streaming/deltaindex.py``: batch_id delta partitions, fold
watermark, snapshot-pinned compaction) verbatim; the level-2 rollup —
most-common text, deterministic tie-break — applies ON READ through the
SAME :func:`anchor_agg_from_partials` the batch operator runs, so the
incremental answer is row-identical to the one-shot (equality tested).
Merged reads and compaction move summary rows only — never raw anchors.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.htmlextract import (
    anchor_agg_from_partials,
    anchor_text_partials,
    merge_anchor_partials,
)
from . import deltaindex

PAGES_SCHEMA = "doc_id string, html string"

_SUMMARY_COLS = ["href", "anchor_text", "cnt", "cnt_main"]


def anchorindex_init(pages: DataFrame, root: str) -> None:
    """One-shot base build over an initial corpus of (doc_id, html)
    pages; no batches folded yet."""
    deltaindex.init_index(anchor_text_partials(pages), root)


def make_anchorindex_batch_processor(
    root: str,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: the micro-batch's (href, text) partial
    counts into a ``batch_id`` delta partition (exactly-once under the
    shared watermark discipline — ``deltaindex.write_delta``)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(anchor_text_partials(batch_df), root, batch_id)

    return process_batch


def anchor_partials_merged(spark: SparkSession, root: str) -> DataFrame:
    """The current (href, anchor_text) partial table — base ∪ unfolded
    deltas re-summed."""
    return deltaindex.read_merged(
        spark, root, _SUMMARY_COLS, merge_anchor_partials
    )


def anchor_agg_merged(spark: SparkSession, root: str) -> DataFrame:
    """The LIVE per-target anchor signal: the batch operator's level-2
    rollup over the merged partials — row-identical to
    ``anchor_text_agg`` over every page ever ingested."""
    return anchor_agg_from_partials(anchor_partials_merged(spark, root))


def anchorindex_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas into the base; no-op when none exist."""
    deltaindex.compact(spark, root, _SUMMARY_COLS, merge_anchor_partials)
