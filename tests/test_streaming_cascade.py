"""Continuously-maintained continuous aggregate: merged hourly partials
and registers must equal the one-shot partial tables over everything
ingested, the live daily cascade must equal the batch cascade (minus the
audit columns the stream cannot keep), replays must be exactly-once
(hourly sums are non-idempotent), and compaction must change nothing."""

from __future__ import annotations

import datetime as dt

from pdf_extraction_and_query_spark.operators.eventflow import (
    rollup_cascade,
    rollup_hourly,
)
from pdf_extraction_and_query_spark.streaming.cascade import (
    EVENTS_SCHEMA,
    cascade_compact,
    cascade_init,
    cascade_merged,
    hourly_merged,
    make_cascade_batch_processor,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

_H = 3600


def _events(spark, rows):
    """rows: (event_id, s_offset, user_id, event_type, value)."""
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, base + dt.timedelta(seconds=s), u, t, v, "{}")
            for (i, s, u, t, v) in rows
        ],
        EVENTS_SCHEMA,
    )


_BASE = [
    (0, 10, 1, "click", 1.25),
    (1, 70, 2, "click", 40.0),
    (2, _H + 5, 1, "error", 0.5),
]
# batch 1 spans a later hour AND adds a late event into the base hour
# (same user in a new hour -> the daily distinct must not double-count)
_B1 = [
    (3, 2 * _H + 9, 1, "click", 512.0),
    (4, 30, 3, "click", 7.75),          # late arrival, base hour
    (5, 25 * _H, 2, "click", 3.25),     # next day
]
_B2 = [(6, 26 * _H, 2, "error", 0.0), (7, 40, 1, "click", 9.0)]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot_and_cascade(spark, tmp_path):
    root = str(tmp_path / "casc")
    cascade_init(_events(spark, _BASE), root)
    proc = make_cascade_batch_processor(root)
    proc(_events(spark, _B1), 0)
    proc(_events(spark, _B2), 1)
    every = _events(spark, _BASE + _B1 + _B2)
    assert _rows(hourly_merged(spark, root)) == _rows(rollup_hourly(every))
    # live daily cascade == batch cascade on the shared columns
    live = _rows(cascade_merged(spark, root))
    batch = _rows(
        rollup_cascade(every).select(
            "event_type", "day_epoch", "n_events", "min_value_e2",
            "max_value_e2", "sum_value_e2", "users_est",
        )
    )
    assert live == batch


def test_replay_exactly_once_and_compact(spark, tmp_path):
    root = str(tmp_path / "casc2")
    cascade_init(_events(spark, _BASE), root)
    proc = make_cascade_batch_processor(root)
    proc(_events(spark, _B1), 0)
    once_h = _rows(hourly_merged(spark, root))
    once_c = _rows(cascade_merged(spark, root))
    proc(_events(spark, _B1), 0)  # crash-replay: sums must NOT double
    assert _rows(hourly_merged(spark, root)) == once_h
    cascade_compact(spark, root)
    assert _rows(hourly_merged(spark, root)) == once_h
    assert _rows(cascade_merged(spark, root)) == once_c
    proc(_events(spark, _B1), 0)  # folded-batch replay: watermark no-op
    assert _rows(hourly_merged(spark, root)) == once_h


def test_available_now_end_to_end(spark, tmp_path):
    root = str(tmp_path / "casc3")
    inp = tmp_path / "in"
    inp.mkdir()
    cascade_init(_events(spark, _BASE), root)
    _events(spark, _B1 + _B2).coalesce(1).write.mode("append").parquet(
        str(inp)
    )
    q = start_maintenance(
        spark,
        EVENTS_SCHEMA,
        str(inp),
        make_cascade_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    every = _events(spark, _BASE + _B1 + _B2)
    assert _rows(hourly_merged(spark, root)) == _rows(rollup_hourly(every))
