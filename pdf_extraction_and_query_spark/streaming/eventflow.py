"""Live event-stream analytics: as-of joins and conversion funnels over a
continuously-ingested event log — the streaming twin of
``operators/eventflow``.

Both answers are ORDER-GLOBAL: an arbitrarily-late click (arriving in a
later micro-batch with an earlier event time) can change a purchase's
as-of match, and a late signup can shift the whole funnel chain for its
user.  A bounded-state incremental operator (``applyInPandasWithState``)
is therefore exact only up to a lateness watermark; this module instead
keeps the FILTERED EVENT LOG as the maintained index (the bronze→silver
lakehouse shape) and recomputes the answer on read through the EXACT
batch operators — exact under arbitrary lateness, equality-tested.

What the index stores is the narrow pushed-down projection the batch
operators start from (user_id, event_type, event_id, ts_us, k) for the
as-of/funnel event types only — at the fixture mix that is 3/5 of the
stream reduced to five scalar columns; the text/props payload never
lands.  A projected row is a PURE PER-EVENT function (no cross-event
state), so the index is append-only on event_id: a row index on the
delta-index engine (``streaming/deltaindex.py``), folded with
``dropDuplicates(event_id)``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from ..operators.eventflow import (
    _evt_base,
    asof_join_events,
    event_funnel,
    funnel_report,
)
from . import deltaindex as DX

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

_LOG_COLS = ["user_id", "event_type", "event_id", "ts_us", "k"]
_LOG_TYPES = tuple(
    dict.fromkeys((C.ASOF_LEFT, C.ASOF_RIGHT) + C.FUNNEL_STEPS)
)


def _project(events: DataFrame) -> DataFrame:
    return _evt_base(events, _LOG_TYPES).select(*_LOG_COLS)


def eventlog_init(events: DataFrame, root: str) -> None:
    """Build the base log from the events already ingested."""
    DX.init_index(_project(events), root)


def make_eventlog_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: project the batch's events and land them as
    its delta partition."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        DX.write_delta(_project(batch_df), root, batch_id)

    return process_batch


def merged_log(spark: SparkSession, root: str) -> DataFrame:
    """Base ∪ unfolded deltas, deduped — row-identical to the one-shot
    projection over everything ingested (append-only contract; rows are a
    pure function of the event, which is why whole-row groupBy dedup
    equals the compactor's dropDuplicates(event_id) here).

    Plan shape: the dedup is a whole-row groupBy UNDER an explicit
    user_id repartition — HashPartitioning(user_id) satisfies the
    all-columns clustering (subset rule) AND the downstream as-of/funnel
    windows' user_id requirement, so the read pays ONE exchange total; a
    dropDuplicates(event_id) would shuffle the whole log a second time
    on a key nothing downstream uses (2 → 1 exchanges, measured)."""
    return (
        DX.read_merged(spark, root, _LOG_COLS)
        .repartition("user_id")
        .groupBy(*_LOG_COLS)
        .agg(F.count("*").alias("_dups"))
        .drop("_dups")
    )


def _as_operator_input(log: DataFrame) -> DataFrame:
    """The stored projection re-shaped so the EXACT batch operators run
    unchanged: ``_evt_base`` recomputes (ts_us, k) from a ``ts`` column —
    reconstruct it losslessly from the stored micros (epoch micros ->
    TIMESTAMP_NTZ is exact; the round-trip is bit-identical, asserted in
    tests)."""
    return log.select(
        "event_id",
        F.expr(
            "timestampadd(MICROSECOND, ts_us, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("ts"),
        "user_id",
        "event_type",
    )


def asof_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live as-of answer == one-shot ``asof_join_events`` over every
    event ever ingested — including retroactive match changes from
    arbitrarily-late right events (equality-tested)."""
    return asof_join_events(_as_operator_input(merged_log(spark, root)))


def funnel_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live per-user funnel == one-shot ``event_funnel`` over every
    event ever ingested (late steps re-chain exactly)."""
    return event_funnel(_as_operator_input(merged_log(spark, root)))


def funnel_report_merged(spark: SparkSession, root: str) -> DataFrame:
    """The live one-row funnel dashboard."""
    return funnel_report(_as_operator_input(merged_log(spark, root)))


def eventlog_compact(spark: SparkSession, root: str) -> None:
    """Fold deltas into a new base version (see streaming/deltaindex)."""
    DX.compact(
        spark, root, _LOG_COLS, lambda log: log.dropDuplicates(["event_id"])
    )
