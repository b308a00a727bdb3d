"""Streaming link-graph maintenance: the incremental twin of
``operators/htmlextract.link_in_degree``.

A crawl frontier ranks its queue by inbound citations — and the ranking
must track the crawl as it happens, not wait for a batch recount.  Per-href
in-degree counts are pure sums (fully associative), so the index maintains
incrementally: per-micro-batch count summaries into ``batch_id`` delta
partitions, merged reads over base ∪ unfolded deltas (row-identical to the
one-shot batch operator — equality tested), compaction on a cadence.

Counts are NOT idempotent under re-merge, so the exactly-once/compaction
discipline — the fold watermark, snapshot-pinned partition-exact
clears, the root+checkpoint durability contract — lives in the shared
engine ``streaming/deltaindex.py``; this module contributes only the
link-specific pieces: the per-batch link extraction (the same narrow Arrow
pass as the batch operator; the summary is one hash-agg on href where hot
targets like '/home' combine map-side) and the count-sum merge.  Merged
reads and compaction move (href, count) summary rows only — never raw
links.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.htmlextract import link_in_degree
from . import deltaindex

PAGES_SCHEMA = "doc_id string, html string"

_SUMMARY_COLS = ["href", "n_inlinks", "n_inlinks_main"]


def _merge_counts(summaries: DataFrame) -> DataFrame:
    """Associative merge of in-degree summary rows: counts add."""
    return summaries.groupBy("href").agg(
        F.sum("n_inlinks").cast("long").alias("n_inlinks"),
        F.sum("n_inlinks_main").cast("long").alias("n_inlinks_main"),
    )


def linkgraph_init(pages: DataFrame, root: str) -> None:
    """One-shot base build over an initial corpus of (doc_id, html)
    pages; no batches folded yet."""
    deltaindex.init_index(link_in_degree(pages), root)


def make_linkgraph_batch_processor(
    root: str,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: per-href counts of the micro-batch's links
    into a ``batch_id`` delta partition (exactly-once under the shared
    watermark discipline — see ``deltaindex.write_delta``)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(link_in_degree(batch_df), root, batch_id)

    return process_batch


def linkgraph_merged(spark: SparkSession, root: str) -> DataFrame:
    """The current in-degree table — row-identical to ``link_in_degree``
    over every page ever ingested (equality tested)."""
    return deltaindex.read_merged(spark, root, _SUMMARY_COLS, _merge_counts)


def linkgraph_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas into the base; a no-op when no deltas exist
    (race/crash discipline in ``deltaindex.compact``)."""
    deltaindex.compact(spark, root, _SUMMARY_COLS, _merge_counts)
