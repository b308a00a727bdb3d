"""Streaming MinHash-LSH maintenance: the live signature index must
reproduce the one-shot batch operator exactly (merged == one-shot over the
union corpus), a newly streamed page must pair against the HISTORICAL base
without recomputing it, replays must be exactly-once, and compaction must
not change any pair."""

import os

from pdf_extraction_and_query_spark.operators.dedup import minhash_band_pairs
from pdf_extraction_and_query_spark.streaming.minhash import (
    DOCS_SCHEMA,
    make_minhash_batch_processor,
    merged_signatures,
    minhash_compact,
    minhash_pairs_merged,
    minhash_stream_init,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

_ARTICLE = (
    "the quarterly review board convened to examine the updated extraction "
    "pipeline and concluded that throughput scaling targets were met across "
    "every measured corpus segment with margin to spare under load"
)
_VARIANT = _ARTICLE.replace("margin", "headroom")  # one-word near-dup

_BASE = [
    (0, _ARTICLE),
    (1, "completely unrelated text about gardening tools and soil quality "
        "for raised beds in a temperate climate with seasonal rotation"),
    (2, _VARIANT),
    (3, "another distinct document covering maritime navigation rules and "
        "harbor approach procedures for vessels under sail at night"),
]
# doc 10 re-crawls article 0 verbatim (mirror); doc 11 is fresh content
_BATCH1 = [
    (10, _ARTICLE),
    (11, "fresh coverage of an orchestra premiere with program notes and "
         "a short interview about the commissioned second movement"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _pairs(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot_and_pairs_across_batches(spark, tmp_path):
    root = str(tmp_path / "mh")
    minhash_stream_init(_docs(spark, _BASE), root)
    make_minhash_batch_processor(root)(_docs(spark, _BATCH1), 0)
    got = _pairs(minhash_pairs_merged(spark, root))
    want = _pairs(minhash_band_pairs(_docs(spark, _BASE + _BATCH1)))
    assert got == want and got
    # the payoff: the streamed re-crawl pairs against the HISTORICAL base
    assert (0, 10) in got
    # and signatures were computed once per doc, never twice
    assert merged_signatures(spark, root).count() == len(_BASE) + len(_BATCH1)


def test_replay_exactly_once_and_compact(spark, tmp_path):
    root = str(tmp_path / "mh")
    minhash_stream_init(_docs(spark, _BASE), root)
    proc = make_minhash_batch_processor(root)
    proc(_docs(spark, _BATCH1), 0)
    once = _pairs(minhash_pairs_merged(spark, root))
    proc(_docs(spark, _BATCH1), 0)  # crash replay of the same batch id
    assert _pairs(minhash_pairs_merged(spark, root)) == once
    minhash_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert _pairs(minhash_pairs_merged(spark, root)) == once
    minhash_compact(spark, root)  # idempotent when nothing to fold
    assert _pairs(minhash_pairs_merged(spark, root)) == once
    proc(_docs(spark, _BATCH1), 0)  # replay after compact: ignored
    assert _pairs(minhash_pairs_merged(spark, root)) == once
    assert merged_signatures(spark, root).count() == len(_BASE) + len(_BATCH1)


def test_stream_end_to_end(spark, tmp_path):
    inbox = str(tmp_path / "in")
    root = str(tmp_path / "mh")
    minhash_stream_init(_docs(spark, _BASE), root)
    _docs(spark, _BATCH1).write.mode("append").parquet(inbox)
    q = start_maintenance(
        spark,
        DOCS_SCHEMA,
        inbox,
        make_minhash_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = _pairs(minhash_pairs_merged(spark, root))
    want = _pairs(minhash_band_pairs(_docs(spark, _BASE + _BATCH1)))
    assert got == want and (0, 10) in got
