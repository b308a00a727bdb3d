"""Streaming vocabulary-growth maintenance: the min-merged
first-occurrence table and the sum-merged mass partials must reproduce
the one-shot ``vocab_growth`` EXACTLY over everything ingested, replays
must be exactly-once (mass sums are not idempotent), compaction must not
change a row, and the availableNow end-to-end stream must agree."""

from pdf_extraction_and_query_spark.operators.textstats import (
    vg_first_occurrence,
    vocab_growth,
)
from pdf_extraction_and_query_spark.streaming.vocab import (
    DOCS_SCHEMA,
    first_occurrence_merged,
    make_vocab_batch_processor,
    vocab_compact,
    vocab_growth_merged,
    vocab_init,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

# doc_ids straddle the first VG threshold (64) so the curve is non-trivial
_BASE = [(0, "alpha beta alpha gamma"), (40, "beta delta beta")]
_B1 = [(70, "gamma gamma alpha epsilon"), (100, "zeta beta epsilon epsilon")]
_B2 = [(200, "eta alpha zeta zeta")]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _setup(spark, tmp_path):
    root = str(tmp_path / "vg")
    vocab_init(_docs(spark, _BASE), root)
    return root


def test_merged_equals_one_shot(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_vocab_batch_processor(root)
    proc(_docs(spark, _B1), 0)
    proc(_docs(spark, _B2), 1)
    every = _docs(spark, _BASE + _B1 + _B2)
    assert _rows(first_occurrence_merged(spark, root)) == _rows(
        vg_first_occurrence(every)
    )
    assert _rows(vocab_growth_merged(spark, root)) == _rows(
        vocab_growth(every)
    )


def test_min_merge_moves_first_occurrence_backwards(spark, tmp_path):
    """A token seen later at a SMALLER doc_id must take that doc as its
    first occurrence (out-of-order ingest; min-merge handles it)."""
    root = _setup(spark, tmp_path)
    proc = make_vocab_batch_processor(root)
    proc(_docs(spark, [(5, "epsilon nu")]), 0)  # epsilon earlier than _B1's 70
    proc(_docs(spark, _B1), 1)
    first = {
        r["token"]: r["first_doc"]
        for r in first_occurrence_merged(spark, root).collect()
    }
    assert first["epsilon"] == 5
    assert _rows(vocab_growth_merged(spark, root)) == _rows(
        vocab_growth(_docs(spark, _BASE + [(5, "epsilon nu")] + _B1))
    )


def test_replay_exactly_once_and_compact_preserving(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_vocab_batch_processor(root)
    proc(_docs(spark, _B1), 0)
    once = _rows(vocab_growth_merged(spark, root))
    proc(_docs(spark, _B1), 0)  # crash-replay: mass sums must NOT double
    assert _rows(vocab_growth_merged(spark, root)) == once
    vocab_compact(spark, root)
    assert _rows(vocab_growth_merged(spark, root)) == once
    # replay of an already-FOLDED batch must also be a no-op (watermark)
    proc(_docs(spark, _B1), 0)
    assert _rows(vocab_growth_merged(spark, root)) == once


def test_available_now_end_to_end(spark, tmp_path):
    import os

    root = str(tmp_path / "vg")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    vocab_init(_docs(spark, _BASE), root)
    _docs(spark, _B1).coalesce(1).write.parquet(f"{inbox}/w1")
    _docs(spark, _B2).coalesce(1).write.parquet(f"{inbox}/w2")
    q = start_maintenance(
        spark,
        DOCS_SCHEMA,
        f"{inbox}/*",
        make_vocab_batch_processor(root),
        ckpt,
    )
    q.awaitTermination(120)
    every = _docs(spark, _BASE + _B1 + _B2)
    assert _rows(vocab_growth_merged(spark, root)) == _rows(
        vocab_growth(every)
    )
