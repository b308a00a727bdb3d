"""Streaming corpus-sketch maintenance: the incremental twins of
``operators/sketches`` (count-min cells, HyperLogLog registers).

This is the telemetry a live ingest keeps where exact tables cannot:
per-micro-batch sketch summaries into ``batch_id`` delta partitions,
merged reads = cell-wise merge of base ∪ unfolded deltas — and because
all three merge laws are associative integer folds (CMS: sum, HLL: max,
Bloom: OR), the merged sketch is EXACTLY the one-shot sketch over every
document ever ingested (equality tested, not approximately-equal).

The exactly-once / compaction discipline (fold watermark,
snapshot-pinned partition clears) lives in the shared engine
``streaming/deltaindex.py`` — CMS reuses it like linkgraph's counts
(sum-merged, non-idempotent under re-fold, so the watermark matters);
HLL's max-merge is idempotent, but it rides the same engine for one
discipline everywhere.  The stream keeps ONLY sketch rows (CMS_D×CMS_W
cells + ≤HLL_M registers per batch): a 10^12-doc ingest moves a few KB
of summary per batch, never vocabulary.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import (
    bloom_build,
    bloom_probe,
    cms_estimate,
    cms_sketch,
    hdr_estimates_from_sketch,
    hdr_sketch,
    hll_estimate_from_registers,
    hll_registers,
)
from ..operators.dedup import doc_shingles
from . import deltaindex

DOCS_SCHEMA = "doc_id long, text string"

_CMS_COLS = ["row", "bucket", "cnt"]
_HLL_COLS = ["j", "rank"]
_BLOOM_COLS = ["word_idx", "bits"]


def _merge_cms(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("row", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def _merge_hll(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("j").agg(
        F.max("rank").cast("long").alias("rank")
    )


def _merge_bloom(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("word_idx").agg(
        F.bit_or("bits").cast("long").alias("bits")
    )


def _doc_bloom(docs: DataFrame) -> DataFrame:
    """Bloom words over a doc batch's distinct shingles — the streaming
    insert side of the contamination pre-filter (the EVAL side builds
    once, batch-side; here the continuously-growing side is the corpus
    itself, answering "was any shingle of this page seen before?"-style
    membership against the whole ingest history)."""
    return bloom_build(
        doc_shingles(docs).select("sh").distinct().withColumnRenamed("sh", "key")
    )


def sketch_init(docs: DataFrame, root: str) -> None:
    """One-shot base build over an initial corpus."""
    deltaindex.init_index(cms_sketch(docs), f"{root}/cms")
    deltaindex.init_index(hll_registers(docs), f"{root}/hll")
    deltaindex.init_index(_doc_bloom(docs), f"{root}/bloom")


def make_sketch_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: sketch the micro-batch alone (a few KB of
    cells/registers/words) into ``batch_id`` delta partitions of all three
    indexes —
    exactly-once under the shared watermark discipline."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(cms_sketch(batch_df), f"{root}/cms", batch_id)
        deltaindex.write_delta(
            hll_registers(batch_df), f"{root}/hll", batch_id
        )
        deltaindex.write_delta(_doc_bloom(batch_df), f"{root}/bloom", batch_id)

    return process_batch


def cms_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live count-min table — cell-identical to ``cms_sketch`` over
    every document ever ingested."""
    return deltaindex.read_merged(spark, f"{root}/cms", _CMS_COLS, _merge_cms)


def hll_registers_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live register table — register-identical to ``hll_registers``
    over every document ever ingested."""
    return deltaindex.read_merged(spark, f"{root}/hll", _HLL_COLS, _merge_hll)


def cms_estimate_merged(
    spark: SparkSession, root: str, tokens: list[str]
) -> DataFrame:
    """Probe the LIVE sketch for token-count estimates — same read tail
    as the batch side (``operators.sketches.cms_estimate``)."""
    return cms_estimate(cms_merged(spark, root), tokens)


def hll_estimate_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live distinct-vocabulary estimate (raw + small-range-corrected)
    from merged registers only — no exact audit columns: the stream never
    kept the vocabulary, which is the sketch's point."""
    return hll_estimate_from_registers(hll_registers_merged(spark, root))


def bloom_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live Bloom word table over every shingle ever ingested —
    word-identical to a one-shot build (OR is associative AND idempotent,
    so even overlapping batches cannot corrupt it)."""
    return deltaindex.read_merged(
        spark, f"{root}/bloom", _BLOOM_COLS, _merge_bloom
    )


def bloom_probe_merged(
    spark: SparkSession, root: str, keys: list[str]
) -> DataFrame:
    """Membership probes against the LIVE filter — same read tail as the
    batch side (``operators.sketches.bloom_probe``)."""
    kdf = spark.createDataFrame([(k,) for k in sorted(set(keys))], "key string")
    return bloom_probe(bloom_merged(spark, root), kdf)


def sketch_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas of all three indexes into their bases."""
    deltaindex.compact(spark, f"{root}/cms", _CMS_COLS, _merge_cms)
    deltaindex.compact(spark, f"{root}/hll", _HLL_COLS, _merge_hll)
    deltaindex.compact(spark, f"{root}/bloom", _BLOOM_COLS, _merge_bloom)

# ---------------------------------------------------------------------------
# HDR value-quantile sketch over a live EVENTS stream (telemetry latency /
# value distributions): per-batch log-bucket histograms into batch_id
# deltas — the merge law is a per-(key, bucket) count SUM (associative,
# non-idempotent under re-fold, so it rides the same fold watermark
# as CMS/linkgraph), and the merged cells are EXACTLY the one-shot sketch
# over every event ever ingested.  The live read tail is the batch side's
# hdr_estimates_from_sketch — estimates only (the stream never kept raw
# values).

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

_HDR_COLS = ["key", "bucket", "lb", "cnt"]


def _merge_hdr(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("key", "bucket").agg(
        F.max("lb").cast("long").alias("lb"),
        F.sum("cnt").cast("long").alias("cnt"),
    )


def value_sketch_init(events: DataFrame, root: str) -> None:
    """One-shot base build over an initial event log."""
    deltaindex.init_index(hdr_sketch(events), f"{root}/hdr")


def make_value_sketch_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(hdr_sketch(batch_df), f"{root}/hdr", batch_id)

    return process_batch


def hdr_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live bucket table — cell-identical to ``hdr_sketch`` over every
    event ever ingested (equality tested)."""
    return deltaindex.read_merged(spark, f"{root}/hdr", _HDR_COLS, _merge_hdr)


def hdr_estimates_merged(spark: SparkSession, root: str) -> DataFrame:
    """Live per-key quantile estimates from the maintained sketch — same
    read tail as the batch side."""
    return hdr_estimates_from_sketch(hdr_merged(spark, root))


def value_sketch_compact(spark: SparkSession, root: str) -> None:
    deltaindex.compact(spark, f"{root}/hdr", _HDR_COLS, _merge_hdr)

# ---------------------------------------------------------------------------
# Theta distinct-token sample over a live ingest WITH a source column:
# per-batch samples into batch_id deltas — the merge law is SET UNION
# (associative AND idempotent, the Bloom-OR class: overlapping or
# replayed batches cannot corrupt it), so the merged sample is EXACTLY
# the one-shot theta_sample over every document ever ingested, and the
# live read tail is the batch side's pairwise overlap report.

THETA_DOCS_SCHEMA = "doc_id long, text string, source string"

_THETA_COLS = ["source", "token"]


def _merge_theta(summaries: DataFrame) -> DataFrame:
    return summaries.select("source", "token").distinct()


def theta_init(docs: DataFrame, root: str) -> None:
    """One-shot base build over an initial corpus."""
    from ..operators.sketches import theta_sample

    deltaindex.init_index(theta_sample(docs), f"{root}/theta")


def make_theta_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: theta-sample the micro-batch alone (a
    ~1/THETA_RATE-rate distinct of one batch's (source, token) stream)
    into ``batch_id`` delta partitions."""
    from ..operators.sketches import theta_sample

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(
            theta_sample(batch_df), f"{root}/theta", batch_id
        )

    return process_batch


def theta_sample_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live sample — row-identical to ``theta_sample`` over every
    document ever ingested (union is idempotent)."""
    return deltaindex.read_merged(
        spark, f"{root}/theta", _THETA_COLS, _merge_theta
    )


def theta_overlap_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live cross-source overlap report — same read tail as the
    batch side (``operators.sketches.theta_overlap_from_sample``)."""
    from ..operators.sketches import theta_overlap_from_sample

    return theta_overlap_from_sample(theta_sample_merged(spark, root))


def theta_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas into the base sample."""
    deltaindex.compact(spark, f"{root}/theta", _THETA_COLS, _merge_theta)
