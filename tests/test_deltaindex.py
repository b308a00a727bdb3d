"""Delta-index engine under injected faults: a compaction that fails at any
step must leave the merged read unchanged, and a micro-batch that lands
mid-compact must survive it.  Faults are a task-level ``raise_error`` in
the compaction's write job, or one engine step patched to fail."""

import os

import pytest
from pyspark.sql import functions as F

from pdf_extraction_and_query_spark.sources import tables
from pdf_extraction_and_query_spark.streaming import deltaindex as DX

_COLS = ["k", "n"]


def _sum(df):
    return df.groupBy("k").agg(F.sum("n").alias("n"))


def _summary(spark, lo, hi):
    """Per-key counts of rows lo..hi-1 — a count-carrying index, where a
    re-folded batch would show as inflated counts."""
    rows = [(i % 10, 1) for i in range(lo, hi)]
    return _sum(spark.createDataFrame(rows, "k long, n long"))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _merged(spark, root):
    return _rows(DX.read_merged(spark, root, _COLS, _sum))


def _setup(spark, tmp_path):
    root = str(tmp_path / "idx")
    DX.init_index(_summary(spark, 0, 100), root)
    DX.write_delta(_summary(spark, 100, 130), root, 0)
    return root


def test_failed_compaction_write_keeps_the_index(spark, tmp_path, monkeypatch):
    root = _setup(spark, tmp_path)
    before = _merged(spark, root)
    assert before == _rows(_summary(spark, 0, 130))
    publish = tables.replace_versioned

    def failing_write(df, *args, **kwargs):
        boom = F.when(F.col("n") >= 0, F.raise_error(F.lit("injected")))
        publish(df.withColumn("n", boom.otherwise(F.col("n"))), *args, **kwargs)

    monkeypatch.setattr(tables, "replace_versioned", failing_write)
    with pytest.raises(Exception, match="injected"):
        DX.compact(spark, root, _COLS, _sum)
    monkeypatch.undo()
    assert _merged(spark, root) == before
    DX.compact(spark, root, _COLS, _sum)  # the retry folds normally
    assert _merged(spark, root) == before
    assert os.listdir(f"{root}/index") == ["v0"]


def test_crash_after_publish_before_clear(spark, tmp_path, monkeypatch):
    root = _setup(spark, tmp_path)
    before = _merged(spark, root)

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the delta clear")

    monkeypatch.setattr(tables, "clear_partitions", crash)
    with pytest.raises(RuntimeError):
        DX.compact(spark, root, _COLS, _sum)
    monkeypatch.undo()
    assert os.path.exists(f"{root}/delta/batch_id=0")  # folded, not cleared
    assert _merged(spark, root) == before
    DX.write_delta(_summary(spark, 100, 130), root, 0)  # replay: ignored
    assert _merged(spark, root) == before
    DX.compact(spark, root, _COLS, _sum)  # folds nothing, clears the stale
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert os.listdir(f"{root}/index") == ["v0"]
    assert _merged(spark, root) == before


def test_delta_landing_mid_compact_survives(spark, tmp_path, monkeypatch):
    root = _setup(spark, tmp_path)
    publish = tables.replace_versioned

    def land_then_publish(*args, **kwargs):
        # batch 1 arrives after the snapshot was pinned, before the clear
        DX.write_delta(_summary(spark, 130, 150), root, 1)
        publish(*args, **kwargs)

    monkeypatch.setattr(tables, "replace_versioned", land_then_publish)
    DX.compact(spark, root, _COLS, _sum)
    monkeypatch.undo()
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert os.path.exists(f"{root}/delta/batch_id=1")
    assert _merged(spark, root) == _rows(_summary(spark, 0, 150))
