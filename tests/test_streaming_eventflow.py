"""Live as-of / funnel over the maintained filtered event log: merged
answers must equal the one-shot batch operators over everything ingested
— INCLUDING retroactive changes from arbitrarily-late events (the
property a bounded-state incremental operator cannot give) — with
exactly-once replay and compaction invariance."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from pdf_extraction_and_query_spark.operators.eventflow import (
    asof_join_events,
    event_funnel,
)
from pdf_extraction_and_query_spark.streaming.eventflow import (
    EVENTS_SCHEMA,
    asof_merged,
    eventlog_compact,
    eventlog_init,
    funnel_merged,
    funnel_report_merged,
    make_eventlog_batch_processor,
    merged_log,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance


def _events(spark, rows):
    """rows: (event_id, us_offset, user_id, event_type)."""
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, base + dt.timedelta(microseconds=us), u, t, 1.0, "{}")
            for (i, us, u, t) in rows
        ],
        EVENTS_SCHEMA,
    )


_BASE = [
    (0, 1_000, 1, "signup"),
    (1, 5_000, 1, "click"),
    (2, 9_000, 1, "purchase"),
    (3, 2_000, 2, "purchase"),  # no prior click yet
    (4, 1_000, 3, "view"),      # filtered type: never lands in the log
]
# batch 1: a LATE click for user 2 with ts BEFORE its purchase — the
# as-of match must change retroactively; plus user 3 funnel steps
_B1 = [
    (5, 1_500, 2, "click"),
    (6, 3_000, 3, "signup"),
    (7, 4_000, 3, "click"),
]
# batch 2: a LATE earlier signup for user 1 — re-chains the funnel
_B2 = [(8, 500, 1, "signup"), (9, 7_000, 3, "purchase")]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _setup(spark, tmp_path):
    root = str(tmp_path / "evlog")
    eventlog_init(_events(spark, _BASE), root)
    return root


def test_merged_equals_one_shot_with_late_data(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_eventlog_batch_processor(root)
    # before the late click: user 2's purchase has no match
    asof0 = {r["event_id"]: r["match_event_id"]
             for r in asof_merged(spark, root).collect()}
    assert asof0[3] is None
    proc(_events(spark, _B1), 0)
    proc(_events(spark, _B2), 1)
    every = _events(spark, _BASE + _B1 + _B2)
    assert _rows(asof_merged(spark, root)) == _rows(asof_join_events(every))
    assert _rows(funnel_merged(spark, root)) == _rows(event_funnel(every))
    # the late click retroactively matched user 2's purchase
    asof1 = {r["event_id"]: r["match_event_id"]
             for r in asof_merged(spark, root).collect()}
    assert asof1[3] == 5
    # the late signup re-chained user 1's funnel start
    f = {r["user_id"]: r for r in funnel_merged(spark, root).collect()}
    assert f[1]["t1_us"] == 1_704_067_200_000_000 + 500
    # filtered types never land in the log
    assert merged_log(spark, root).where(
        F.col("event_type") == "view"
    ).count() == 0


def test_replay_and_compact_invariance(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_eventlog_batch_processor(root)
    proc(_events(spark, _B1), 0)
    once = _rows(merged_log(spark, root))
    proc(_events(spark, _B1), 0)  # crash-replay: partition overwrite
    assert _rows(merged_log(spark, root)) == once
    eventlog_compact(spark, root)
    assert _rows(merged_log(spark, root)) == once
    proc(_events(spark, _B1), 0)  # replay after compact: below the watermark
    assert _rows(merged_log(spark, root)) == once
    rep = funnel_report_merged(spark, root).collect()[0]
    assert rep["n_step1"] == 2  # users 1 and 3 have signups so far


def test_available_now_end_to_end(spark, tmp_path):
    root = str(tmp_path / "evlog2")
    inp = tmp_path / "in"
    inp.mkdir()
    eventlog_init(_events(spark, _BASE), root)
    _events(spark, _B1 + _B2).coalesce(1).write.mode("append").parquet(
        str(inp)
    )
    q = start_maintenance(
        spark,
        EVENTS_SCHEMA,
        str(inp),
        make_eventlog_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    every = _events(spark, _BASE + _B1 + _B2)
    assert _rows(asof_merged(spark, root)) == _rows(asof_join_events(every))
