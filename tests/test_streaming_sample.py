"""Streaming exact-sample maintenance: the merged bottom-k must be
row-identical to one-shot exact_sample over everything ingested
(bottom-k is associative AND idempotent), displacement must actually
fire (a later batch's smaller key evicts an earlier sample member),
replays must be no-ops, compaction must not change a row."""

from pdf_extraction_and_query_spark import contract as C
from pdf_extraction_and_query_spark.operators.packing import exact_sample
from pdf_extraction_and_query_spark.streaming.sample import (
    DOCS_SCHEMA,
    exact_sample_merged,
    make_sample_batch_processor,
    sample_compact,
    sample_init,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

_BASE = [(i, f"doc {i}", "en") for i in range(0, 300)]
_B1 = [(i, f"doc {i}", "fr") for i in range(300, 600)]
_B2 = [(i, f"doc {i}", "de") for i in range(600, 900)]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _setup(spark, tmp_path):
    root = str(tmp_path / "smp")
    sample_init(_docs(spark, _BASE), root)
    return root


def test_merged_equals_one_shot_and_displacement_fires(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_sample_batch_processor(root)
    base_ids = {
        r["doc_id"] for r in exact_sample(_docs(spark, _BASE)).collect()
    }
    proc(_docs(spark, _B1), 0)
    proc(_docs(spark, _B2), 1)
    every = _docs(spark, _BASE + _B1 + _B2)
    got = _rows(exact_sample_merged(spark, root))
    want = _rows(exact_sample(every))
    assert got == want
    assert len(got) == C.EXACT_SAMPLE_K
    # displacement: the union sample must NOT be the base sample (later
    # batches carry smaller keys with overwhelming probability at 600
    # new docs vs K=100)
    merged_ids = {t[0] for t in got}
    assert merged_ids != base_ids
    assert merged_ids - base_ids  # newcomers entered
    assert base_ids - merged_ids  # someone was evicted


def test_replay_and_compact_preserving(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_sample_batch_processor(root)
    proc(_docs(spark, _B1), 0)
    once = _rows(exact_sample_merged(spark, root))
    proc(_docs(spark, _B1), 0)  # crash-replay: idempotent merge
    assert _rows(exact_sample_merged(spark, root)) == once
    sample_compact(spark, root)
    assert _rows(exact_sample_merged(spark, root)) == once
    proc(_docs(spark, _B1), 0)  # replay of a FOLDED batch
    assert _rows(exact_sample_merged(spark, root)) == once


def test_available_now_end_to_end(spark, tmp_path):
    import os

    root = str(tmp_path / "smp")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    sample_init(_docs(spark, _BASE), root)
    _docs(spark, _B1).coalesce(1).write.parquet(f"{inbox}/w1")
    _docs(spark, _B2).coalesce(1).write.parquet(f"{inbox}/w2")
    q = start_maintenance(
        spark,
        DOCS_SCHEMA,
        f"{inbox}/*",
        make_sample_batch_processor(root),
        ckpt,
    )
    q.awaitTermination(120)
    assert _rows(exact_sample_merged(spark, root)) == _rows(
        exact_sample(_docs(spark, _BASE + _B1 + _B2))
    )
