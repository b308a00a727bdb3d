"""Streaming vocabulary-growth maintenance: the live twin of
``operators/textstats.vocab_growth`` (Heaps-law curve) over a document
ingest stream.

Two summary sidecars on the shared watermark engine
(``streaming/deltaindex.py``):

* ``first`` — one (token, first_doc) row per vocabulary TYPE; merge =
  per-token MIN (associative AND idempotent — a replayed batch cannot
  move a minimum, but it rides the watermark engine for one discipline
  everywhere, the sketches/HLL argument);
* ``mass`` — per-threshold (n_docs, n_tokens) partials; merge = SUM
  (non-idempotent under re-fold — exactly the crash window the engine's
  fold watermark exists for).

Because every document lands in exactly one micro-batch, the min-merged
first-occurrence table and the sum-merged mass partials are each
row-identical to their one-shot builds, so the merged read tail — the
batch operator's own ``vg_vocab_curve`` + threshold join — reproduces
``vocab_growth`` over everything ever ingested EXACTLY (equality tested,
not approximately).

Scale: the stream moves |batch vocabulary| + |VG_THRESHOLDS| summary
rows per micro-batch, never the token stream; the live read shuffles the
(token, first_doc) table once (bounded by total vocabulary, sublinear in
corpus size).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textstats import (
    vg_first_occurrence,
    vg_mass,
    vg_vocab_curve,
)
from . import deltaindex

DOCS_SCHEMA = "doc_id long, text string"

_FIRST_COLS = ["token", "first_doc"]
_MASS_COLS = ["threshold", "n_docs", "n_tokens"]


def _merge_first(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("token").agg(
        F.min("first_doc").cast("long").alias("first_doc")
    )


def _merge_mass(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("threshold").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


def vocab_init(docs: DataFrame, root: str) -> None:
    """One-shot base build over an initial corpus."""
    deltaindex.init_index(vg_first_occurrence(docs), f"{root}/first")
    deltaindex.init_index(vg_mass(docs), f"{root}/mass")


def make_vocab_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: summarize the micro-batch alone into
    ``batch_id`` delta partitions of both sidecars."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(
            vg_first_occurrence(batch_df), f"{root}/first", batch_id
        )
        deltaindex.write_delta(vg_mass(batch_df), f"{root}/mass", batch_id)

    return process_batch


def first_occurrence_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live (token, first_doc) table — row-identical to the one-shot
    ``vg_first_occurrence`` over every document ever ingested."""
    return deltaindex.read_merged(
        spark, f"{root}/first", _FIRST_COLS, _merge_first
    )


def vocab_growth_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live Heaps-law curve — the batch operator's exact read tail
    over the merged summaries."""
    mass = deltaindex.read_merged(spark, f"{root}/mass", _MASS_COLS, _merge_mass)
    vocab = vg_vocab_curve(first_occurrence_merged(spark, root))
    return mass.join(vocab, "threshold").select(
        "threshold", "n_docs", "n_tokens", "n_vocab"
    )


def vocab_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas of both sidecars into their bases."""
    deltaindex.compact(spark, f"{root}/first", _FIRST_COLS, _merge_first)
    deltaindex.compact(spark, f"{root}/mass", _MASS_COLS, _merge_mass)
