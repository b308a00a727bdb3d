"""Incremental duplicated-passage evidence under Structured Streaming —
the dup-coverage curation signal maintained live.

Unlike the frozen-model maintainers (IVF centroids, PQ codebook, SQ
bounds, CCNet LM), duplicate evidence needs NO freeze: the per-shingle
document-frequency counts are ASSOCIATIVE (each document arrives in
exactly one micro-batch — the corpus-ingest contract every maintainer in
this package shares — so per-batch distinct-doc counts sum to the global
count), and a document's shingle occurrences are a pure function of its
text.  That makes the signal RETROACTIVE, which no frozen seam can be: a
batch that delivers the second copy of a passage flips the FIRST copy's
coverage too — the merged reader recomputes every affected document from
the stored occurrences (pinned in tests/test_streaming_duppassage.py).

Both families ride the WATERMARKED summary-delta engine
(``streaming/deltaindex.py``) because this maintainer carries COUNTS: a
micro-batch replayed after compaction already folded it (crash between
``foreachBatch`` returning and the checkpoint commit, with a maintenance
compact in between) would silently inflate ``dfc`` — false dup evidence —
and duplicate occurrence rows would corrupt the gaps-and-islands merge.
The fold watermark makes that replay a no-op on read (pinned in
the replay-after-compact test).  The row-shaped ``occ`` family uses the
same engine with an identity merge: the watermark, not deduplication, is
what keeps it exactly-once.

Layout under one index root (two deltaindex roots side by side):
  occ/index, occ/delta/batch_id=N
          (doc_id, nw, start_w, gram) — per-doc k-shingle occurrences,
          written once per document (append-only; static per doc).
          Stored as the gram STRING to keep bit-equality with the batch
          operator and the DuckDB oracle; at 10^12 docs the storage
          variant is a 64-bit gram hash (8 B vs k words — the standard
          ExactSubstr-pipeline tradeoff, collision odds ~n²/2⁶⁴), same
          layout otherwise.
  df/index, df/delta/batch_id=N
          (gram, dfc) — per-gram distinct-doc counts (shingle-vocabulary-
          sized summaries, NOT corpus-sized).

``dup_passage_stats_merged`` re-derives the evidence set (df base ∪
unfolded delta partials re-summed, >= 2), joins it back onto occ base ∪
unfolded deltas, and runs the SAME gaps-and-islands merge + rollup as the
batch operator (`repetition._merge_islands` / `_stats_from_passages`) —
merged == the one-shot ``dup_passage_stats`` over the union corpus,
exactly.  ``dup_compact`` folds both delta families under their
watermarks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from ..operators.repetition import (
    _merge_islands,
    _shingle_occurrences,
    _stats_from_passages,
)
from . import deltaindex as DX

_OCC_COLS = ["doc_id", "nw", "start_w", "gram"]
_DF_COLS = ["gram", "dfc"]


def _df_merge(df: DataFrame) -> DataFrame:
    return df.groupBy("gram").agg(F.sum("dfc").cast("long").alias("dfc"))


def _batch_summaries(
    docs: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    sh = _shingle_occurrences(docs, k).select(*_OCC_COLS)
    dfc = sh.groupBy("gram").agg(
        F.count_distinct("doc_id").cast("long").alias("dfc")
    )
    return sh, dfc


def dup_stream_init(docs: DataFrame, root: str, k: int = C.DUP_PASSAGE_K) -> None:
    """Index the initial corpus: per-doc occurrences + per-gram counts."""
    sh, dfc = _batch_summaries(docs, k)
    DX.init_index(sh, f"{root}/occ")
    DX.init_index(dfc, f"{root}/df")


def make_dup_batch_processor(
    root: str, k: int = C.DUP_PASSAGE_K
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: shingle the batch's documents and write
    occurrence + count-partial delta partitions (clear-then-overwrite +
    the fold watermark = exactly-once, even replayed after a compact)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        sh, dfc = _batch_summaries(batch_df, k)
        DX.write_delta(sh, f"{root}/occ", bid)
        DX.write_delta(dfc, f"{root}/df", bid)

    return process_batch


def _merged_occ(spark: SparkSession, root: str) -> DataFrame:
    return DX.read_merged(spark, f"{root}/occ", _OCC_COLS)


def _merged_evidence(spark: SparkSession, root: str) -> DataFrame:
    """Grams with a GLOBAL distinct-doc count >= 2 across base ∪ unfolded
    deltas — per-batch partials re-summed (associative under the
    one-batch-per-doc ingest contract)."""
    df = DX.read_merged(spark, f"{root}/df", _DF_COLS, _df_merge)
    return df.where(F.col("dfc") >= 2).select("gram")


def dup_passages_merged(
    spark: SparkSession, root: str, k: int = C.DUP_PASSAGE_K
) -> DataFrame:
    """Maximal duplicated intervals over the LIVE index — the batch
    `_passages` pipeline run from stored occurrences instead of text."""
    occ = _merged_occ(spark, root).join(
        _merged_evidence(spark, root), "gram"
    ).select("doc_id", "nw", "start_w")
    return _merge_islands(occ, k)


def dup_passage_stats_merged(
    spark: SparkSession, root: str, k: int = C.DUP_PASSAGE_K
) -> DataFrame:
    """Per-doc dup coverage over the LIVE index == one-shot
    ``dup_passage_stats`` over the union corpus."""
    return _stats_from_passages(dup_passages_merged(spark, root, k))


def dup_compact(spark: SparkSession, root: str) -> None:
    """Fold both delta families into their bases under the shared
    watermark discipline (snapshot-pinned, crash-safe — see
    streaming/deltaindex.compact)."""
    DX.compact(spark, f"{root}/occ", _OCC_COLS)
    DX.compact(spark, f"{root}/df", _DF_COLS, _df_merge)
