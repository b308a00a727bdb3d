"""Continuously-maintained continuous aggregate: the streaming twin of
``operators/eventflow.rollup_hourly`` / ``rollup_cascade``.

Two summary indexes under one root, both on the shared ``deltaindex``
watermark discipline (the hourly fold is sum/min/max/sum — sums are
non-idempotent under re-fold, exactly the CMS/linkgraph case; registers
are idempotent max but ride the same engine for one discipline):

  hourly/  (event_type, hour_epoch, n_events, min/max/sum_value_e2)
  regs/    (event_type, bucket_epoch, j, rank) — per-hour HLL user
           registers, the device that lets COUNT DISTINCT cascade

Because every column of both indexes merges associatively, the merged
read is EXACTLY the one-shot partial table over every event ever
ingested, and the daily cascade runs through the SAME
``cascade_from_partials`` read tail as batch — so the live daily
dashboard (including the distinct-users estimate) equals the batch
answer with no event re-read (equality tested).  Contrast with
``streaming/rollup.py``: that is the native-watermark bounded-state
operator (windows finalize once, late events past the allowance drop,
distinct is approximate); this is the lakehouse index (exact under
arbitrary lateness, state = the summary table itself).

A micro-batch moves a few hundred summary rows; raw events and user ids
never land in the index.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.eventflow import (
    cascade_from_partials,
    rollup_hourly,
    rollup_user_registers,
)
from . import deltaindex

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

_HOURLY_COLS = [
    "event_type",
    "hour_epoch",
    "n_events",
    "min_value_e2",
    "max_value_e2",
    "sum_value_e2",
]
_REG_COLS = ["event_type", "bucket_epoch", "j", "rank"]


def _merge_hourly(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("event_type", "hour_epoch").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.min("min_value_e2").cast("long").alias("min_value_e2"),
        F.max("max_value_e2").cast("long").alias("max_value_e2"),
        F.sum("sum_value_e2").cast("long").alias("sum_value_e2"),
    )


def _merge_regs(summaries: DataFrame) -> DataFrame:
    return summaries.groupBy("event_type", "bucket_epoch", "j").agg(
        F.max("rank").cast("long").alias("rank")
    )


def cascade_init(events: DataFrame, root: str) -> None:
    """One-shot base build over the events already ingested."""
    deltaindex.init_index(rollup_hourly(events), f"{root}/hourly")
    deltaindex.init_index(
        rollup_user_registers(events, bucket_s=3600), f"{root}/regs"
    )


def make_cascade_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: fold the micro-batch alone into hourly
    partials + registers (a few hundred summary rows) and land them as
    ``batch_id`` delta partitions of both indexes."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(
            rollup_hourly(batch_df), f"{root}/hourly", batch_id
        )
        deltaindex.write_delta(
            rollup_user_registers(batch_df, bucket_s=3600),
            f"{root}/regs",
            batch_id,
        )

    return process_batch


def hourly_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live hourly partial table — row-identical to one-shot
    ``rollup_hourly`` over every event ever ingested."""
    return deltaindex.read_merged(
        spark, f"{root}/hourly", _HOURLY_COLS, _merge_hourly
    )


def regs_merged(spark: SparkSession, root: str) -> DataFrame:
    return deltaindex.read_merged(
        spark, f"{root}/regs", _REG_COLS, _merge_regs
    )


def cascade_merged(spark: SparkSession, root: str) -> DataFrame:
    """The LIVE daily dashboard (count/min/max/sum + distinct-users HLL
    estimate) through the same ``cascade_from_partials`` tail as batch —
    no event re-read, exact under arbitrary lateness; no exact-audit
    column (the stream never kept user ids, which is the index's
    point)."""
    return cascade_from_partials(
        hourly_merged(spark, root), regs_merged(spark, root)
    )


def cascade_compact(spark: SparkSession, root: str) -> None:
    deltaindex.compact(spark, f"{root}/hourly", _HOURLY_COLS, _merge_hourly)
    deltaindex.compact(spark, f"{root}/regs", _REG_COLS, _merge_regs)
