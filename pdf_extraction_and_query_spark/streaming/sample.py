"""Streaming exact-count sample maintenance: the live twin of
``operators/packing.exact_sample`` — a uniform without-replacement
K-sample of EVERYTHING ever ingested, kept current by one tiny summary
per micro-batch.

Bottom-k by salted hash is the textbook mergeable uniform sample:
bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — associative
AND idempotent (a replayed batch's keys are already present or larger,
so re-merging cannot change the result), which is why this rides the
shared deltaindex engine with the simplest possible merge law.  The
merged read tail re-ranks the k survivors exactly like the batch
operator, so merged == one-shot ``exact_sample`` over the union,
row-identical (tested).

Scale: each micro-batch contributes at most K summary rows; the live
read merges (#unfolded batches + 1) * K rows — never the corpus.  This
is the streaming answer to "give me a stable uniform sample of the
whole 10^12-doc ingest history" that reservoir sampling gives on a
single machine, with the bonus that the sample is a pure function of
the corpus (replay-proof, engine-independent)."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from ..operators.packing import exact_sample
from . import deltaindex

DOCS_SCHEMA = "doc_id long, text string, lang string"

_COLS = ["doc_id", "lang", "sample_key"]


def _bottom_k(summaries: DataFrame) -> DataFrame:
    return (
        summaries.orderBy(F.asc("sample_key"), F.asc("doc_id"))
        .limit(C.EXACT_SAMPLE_K)
    )


def _batch_summary(docs: DataFrame) -> DataFrame:
    """The batch's own bottom-k, WITHOUT the rank column (rank is a
    property of the merged sample, not of any batch)."""
    return exact_sample(docs).select(*_COLS)


def sample_init(docs: DataFrame, root: str) -> None:
    """One-shot base build over an initial corpus."""
    deltaindex.init_index(_batch_summary(docs), f"{root}/sample")


def make_sample_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: land the micro-batch's bottom-k as a
    ``batch_id`` delta partition (<= K rows)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(
            _batch_summary(batch_df), f"{root}/sample", batch_id
        )

    return process_batch


def exact_sample_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live sample — row-identical to one-shot ``exact_sample`` over
    every document ever ingested (rank re-derived over the k
    survivors)."""
    merged = deltaindex.read_merged(
        spark, f"{root}/sample", _COLS, _bottom_k
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.asc("sample_key"), F.asc("doc_id"))
    return merged.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )


def sample_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas into the base (idempotent merge — the
    watermark is belt-and-braces here, the sketches/HLL argument)."""
    deltaindex.compact(spark, f"{root}/sample", _COLS, _bottom_k)
