"""Streaming duplicated-passage evidence: the signal is RETROACTIVE — a
micro-batch delivering the second copy of a passage flips the FIRST
copy's coverage (no frozen seam could do that; the df counts are
associative so this maintainer can).  Merged must equal the one-shot
batch operator over the union corpus exactly; replays exactly-once;
compaction preserves every row."""

import os

import pytest

from pdf_extraction_and_query_spark import contract as C
from pdf_extraction_and_query_spark.operators.repetition import (
    dup_passage_stats,
    dup_passages,
)
from pdf_extraction_and_query_spark.streaming.duppassage import (
    dup_compact,
    dup_passage_stats_merged,
    dup_passages_merged,
    dup_stream_init,
    make_dup_batch_processor,
)

P = " ".join(f"p{i}" for i in range(10))  # the shared 10-word passage


@pytest.fixture(scope="module")
def base(spark):
    rows = [
        (0, P + " " + " ".join(f"a{i}" for i in range(6))),  # holds P, unique tail
        (1, " ".join(f"b{i}" for i in range(16))),           # all unique
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def batch(spark):
    rows = [
        (10, "c1 c2 " + P + " c3 c4"),                       # the SECOND copy of P
        (11, " ".join(f"d{i}" for i in range(16))),          # all unique
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _key(df):
    return sorted(map(tuple, df.collect()))


def test_retroactive_evidence_and_merged_equals_one_shot(spark, base, batch, tmp_path):
    assert C.DUP_PASSAGE_K <= 10  # P must be shingle-able
    root = str(tmp_path / "dp")
    dup_stream_init(base, root)
    # before the batch: P exists once -> NO duplicated passage anywhere
    assert dup_passage_stats_merged(spark, root).count() == 0
    make_dup_batch_processor(root)(batch, 0)
    got = _key(dup_passage_stats_merged(spark, root))
    want = _key(dup_passage_stats(base.unionByName(batch)))
    assert got == want and got
    # the retroactive flip: base doc 0 now reports coverage
    assert {r[0] for r in got} == {0, 10}
    # interval view agrees with the batch operator too (ignore passage_seq
    # numbering column order by comparing full rows)
    got_p = _key(dup_passages_merged(spark, root).select(
        "doc_id", "start_word", "end_word", "n_shingles"))
    want_p = _key(dup_passages(base.unionByName(batch)).select(
        "doc_id", "start_word", "end_word", "n_shingles"))
    assert got_p == want_p


def _no_unfolded_deltas(spark, root):
    from pdf_extraction_and_query_spark.sources.tables import (
        read_optional,
        read_versioned,
    )

    for fam in ("occ", "df"):
        d = read_optional(spark, f"{root}/{fam}/delta")
        _, fm = read_versioned(spark, f"{root}/{fam}/index")
        if d is not None:
            assert d.where(f"batch_id > {fm}").count() == 0
    return True


def test_replay_exactly_once_and_compact(spark, base, batch, tmp_path):
    root = str(tmp_path / "dp")
    dup_stream_init(base, root)
    proc = make_dup_batch_processor(root)
    proc(batch, 0)
    once = _key(dup_passage_stats_merged(spark, root))
    proc(batch, 0)  # crash replay: occurrence AND count partials overwrite
    assert _key(dup_passage_stats_merged(spark, root)) == once
    dup_compact(spark, root)
    assert _no_unfolded_deltas(spark, root)
    assert _key(dup_passage_stats_merged(spark, root)) == once
    dup_compact(spark, root)  # idempotent when nothing to fold
    assert _key(dup_passage_stats_merged(spark, root)) == once


def test_replay_after_compact_never_double_counts(spark, base, batch, tmp_path):
    """The race the watermark exists for: a batch replayed AFTER a
    maintenance compact already folded it (crash between foreachBatch
    returning and the checkpoint commit) must not inflate df counts or
    duplicate occurrence rows — without the watermark, doc 0/10's single
    shared passage would read as extra evidence and duplicated islands."""
    root = str(tmp_path / "dp")
    dup_stream_init(base, root)
    proc = make_dup_batch_processor(root)
    proc(batch, 0)
    once = _key(dup_passage_stats_merged(spark, root))
    once_p = _key(dup_passages_merged(spark, root).select(
        "doc_id", "start_word", "end_word", "n_shingles"))
    dup_compact(spark, root)
    proc(batch, 0)  # replay of the already-FOLDED batch
    assert _key(dup_passage_stats_merged(spark, root)) == once
    assert _key(dup_passages_merged(spark, root).select(
        "doc_id", "start_word", "end_word", "n_shingles")) == once_p
    dup_compact(spark, root)  # folds nothing: the stale delta is cleared
    assert _key(dup_passage_stats_merged(spark, root)) == once
