"""Streaming FTS index maintenance: delta appends must be exactly-once
under replay, the merged reader must equal a full rebuild (append-only
contract), and compaction must fold deltas into the base without changing
any score."""

import os

from pyspark.sql import functions as F

from pdf_extraction_and_query_spark.operators.fulltext import (
    bm25_topk_multi,
    bm25_topk_prebuilt,
    fts_build,
)
from pdf_extraction_and_query_spark.streaming.fts import (
    bm25_topk_merged,
    fts_compact,
    make_fts_batch_processor,
)
from pdf_extraction_and_query_spark.sources.formats import DOCUMENTS_SCHEMA
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

_BASE = [
    (0, "apple banana apple cherry"),
    (1, "banana cherry durian"),
]
_BATCH1 = [
    (2, "cherry cherry apple"),
    (3, "durian fig grape apple"),
]
_QS = {0: ("apple", "cherry"), 1: ("durian", "nosuchtoken")}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _setup(spark, tmp_path):
    path = str(tmp_path / "fts")
    fts_build(_docs(spark, _BASE), path, n_buckets=8)
    return path


def test_merged_equals_full_rebuild(spark, tmp_path):
    path = _setup(spark, tmp_path)
    make_fts_batch_processor(path)(_docs(spark, _BATCH1), 0)
    got = sorted(map(tuple, bm25_topk_merged(spark, path, queries=_QS).collect()))
    want = sorted(
        map(tuple, bm25_topk_multi(_docs(spark, _BASE + _BATCH1), queries=_QS).collect())
    )
    assert got == want and got  # non-vacuous


def test_replay_is_exactly_once(spark, tmp_path):
    path = _setup(spark, tmp_path)
    proc = make_fts_batch_processor(path)
    proc(_docs(spark, _BATCH1), 0)
    once = sorted(map(tuple, bm25_topk_merged(spark, path, queries=_QS).collect()))
    proc(_docs(spark, _BATCH1), 0)  # crash-replay of the same micro-batch
    again = sorted(map(tuple, bm25_topk_merged(spark, path, queries=_QS).collect()))
    assert once == again


def test_compact_preserves_scores_and_clears_deltas(spark, tmp_path):
    path = _setup(spark, tmp_path)
    make_fts_batch_processor(path)(_docs(spark, _BATCH1), 0)
    before = sorted(map(tuple, bm25_topk_merged(spark, path, queries=_QS).collect()))
    fts_compact(spark, path)
    for sub in ("delta_postings", "delta_doclen", "delta_stats"):
        assert not os.path.exists(f"{path}/{sub}/batch_id=0")
    # merged reader (no deltas left) AND the plain prebuilt reader agree
    assert sorted(map(tuple, bm25_topk_merged(spark, path, queries=_QS).collect())) == before
    assert sorted(map(tuple, bm25_topk_prebuilt(spark, path, queries=_QS).collect())) == before
    # idempotent when nothing to fold
    fts_compact(spark, path)
    # replay after compact: below every table's watermark, ignored
    make_fts_batch_processor(path)(_docs(spark, _BATCH1), 0)
    assert sorted(map(tuple, bm25_topk_merged(spark, path, queries=_QS).collect())) == before


def test_streaming_end_to_end(spark, tmp_path):
    path = _setup(spark, tmp_path)
    inbox = str(tmp_path / "inbox")
    docs = (
        _docs(spark, _BATCH1)
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("s"))
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "lang", "source", "n_chars", "text")
    )
    docs.write.parquet(inbox)
    q = start_maintenance(
        spark,
        DOCUMENTS_SCHEMA,
        inbox,
        make_fts_batch_processor(path),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, bm25_topk_merged(spark, path, queries=_QS).collect()))
    want = sorted(
        map(tuple, bm25_topk_multi(_docs(spark, _BASE + _BATCH1), queries=_QS).collect())
    )
    assert got == want


def test_tfidf_merged_equals_one_shot(spark, tmp_path):
    from pdf_extraction_and_query_spark.operators.fulltext import (
        tfidf_topk_terms,
    )
    from pdf_extraction_and_query_spark.streaming.fts import tfidf_topk_merged

    path = _setup(spark, tmp_path)
    make_fts_batch_processor(path)(_docs(spark, _BATCH1), 0)
    got = sorted(map(tuple, tfidf_topk_merged(spark, path).collect()))
    want = sorted(
        map(tuple, tfidf_topk_terms(_docs(spark, _BASE + _BATCH1)).collect())
    )
    assert got == want and got


def test_tfidf_merged_survives_compaction(spark, tmp_path):
    from pdf_extraction_and_query_spark.streaming.fts import tfidf_topk_merged

    path = _setup(spark, tmp_path)
    make_fts_batch_processor(path)(_docs(spark, _BATCH1), 0)
    before = sorted(map(tuple, tfidf_topk_merged(spark, path).collect()))
    fts_compact(spark, path)
    after = sorted(map(tuple, tfidf_topk_merged(spark, path).collect()))
    assert before == after
