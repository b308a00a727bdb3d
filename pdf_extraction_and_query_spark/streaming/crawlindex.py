"""Streaming crawl-index maintenance: the incremental twin of
``operators/htmlextract.crawl_keep_latest``.

A live crawl re-fetches URLs continuously; the crawl index (one row per
canonical URL, freshest fetch wins) must stay current without re-parsing
the whole corpus.  Keep-latest summaries are ASSOCIATIVE — merging two
summaries is ``sum(n_crawls)`` + ``max((ts, doc_id))`` per canonical
(``htmlextract.merge_keep_latest_full``, the same winner order the batch
operators run) — so the index maintains incrementally: per-micro-batch
summaries into ``batch_id`` delta partitions, merged reads over base ∪
unfolded deltas (row-identical to a one-shot build over the full corpus —
equality tested), compaction on a maintenance cadence.  The summaries are
FULL (the winner's policy payload rides the max struct), so the live index
answers the indexable-corpus gate too (``crawl_corpus_merged``) — no page
is ever re-parsed to re-derive policy.

Because keep-latest carries COUNTS (non-idempotent under re-merge), the
exactly-once/compaction discipline — the fold watermark (the base version number),
the snapshot-pinned partition-exact clear, the root+checkpoint durability
contract — lives in the shared engine ``streaming/deltaindex.py``, and
the parse is the batch ``htmlextract.html_extract_report``; this module
contributes only the keep-latest summaries and merge.

Scale shape: the per-batch parse is the report's one narrow Arrow pass,
which carries ``fetched_at_ts`` through untouched — canonical extraction
and the fetch timestamp travel in the SAME pass, no join back to the
batch.  The batch
summary is one hash-agg on canonical (micro-batch sized); merged reads and
compaction move summary rows only, never pages.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.htmlextract import (
    corpus_gate,
    html_extract_report,
    keep_latest_full_summaries,
    merge_keep_latest_full,
)
from . import deltaindex

PAGES_TS_SCHEMA = "doc_id string, html string, fetched_at_ts long"

# the index persists FULL summaries (winner payload included) so the live
# index answers BOTH the keep-latest listing and the corpus gate
_SUMMARY_COLS = [
    "canonical",
    "n_crawls",
    "latest_doc_id",
    "latest_fetched_at_ts",
    "n_superseded",
    "latest_noindex",
    "latest_n_chars_main",
]

_PUBLIC_COLS = _SUMMARY_COLS[:5]  # crawl_keep_latest's output contract


# the one-shot twin the merged readers are tested against
def _one_shot_summary(pages: DataFrame) -> DataFrame:
    return merge_keep_latest_full(
        keep_latest_full_summaries(html_extract_report(pages))
    )


def crawl_index_init(pages: DataFrame, root: str) -> None:
    """One-shot base build over an initial corpus of
    (doc_id, html, fetched_at_ts) pages; no batches folded yet."""
    deltaindex.init_index(_one_shot_summary(pages), root)


def make_crawl_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: summarize the micro-batch's fetches and land
    them as a ``batch_id`` delta partition (exactly-once under the shared
    watermark discipline — see ``deltaindex.write_delta``)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(_one_shot_summary(batch_df), root, batch_id)

    return process_batch


def _merged_full(spark: SparkSession, root: str) -> DataFrame:
    return deltaindex.read_merged(
        spark, root, _SUMMARY_COLS, merge_keep_latest_full
    )


def crawl_index_merged(spark: SparkSession, root: str) -> DataFrame:
    """The current crawl index — row-identical to ``crawl_keep_latest``
    over every page ever ingested (equality tested)."""
    return _merged_full(spark, root).select(*_PUBLIC_COLS)


def crawl_corpus_merged(spark: SparkSession, root: str) -> DataFrame:
    """The LIVE indexable corpus: the corpus gate (robots-noindex +
    non-empty main content, on the resolved winner) answered straight
    from the maintained index — no page is re-parsed.  Row-identical to
    the batch ``crawl_corpus`` over every page ever ingested (equality
    tested); same ``corpus_gate`` definition as the batch path."""
    return corpus_gate(_merged_full(spark, root))


def crawl_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas into the base index; a no-op when no deltas
    exist (race/crash discipline in ``deltaindex.compact``)."""
    deltaindex.compact(spark, root, _SUMMARY_COLS, merge_keep_latest_full)
