"""Streaming link-graph maintenance: merged in-degree must equal the
one-shot batch operator over everything ingested, replays must be
exactly-once (including replays of already-folded batches — counts are
not idempotent under re-merge), and compaction must fold without changing
a row."""

import os

from pdf_extraction_and_query_spark.operators.htmlextract import (
    link_in_degree,
)
from pdf_extraction_and_query_spark.sources.htmlcorpus import html_from_text
from pdf_extraction_and_query_spark.streaming.linkgraph import (
    PAGES_SCHEMA,
    linkgraph_compact,
    linkgraph_init,
    linkgraph_merged,
    make_linkgraph_batch_processor,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

_BASE = ["1", "2", "3"]
_BATCH1 = ["4", "5"]


def _pages(spark, ids):
    data = [
        (d, html_from_text(d, " ".join(f"word{d}x{j} body" for j in range(40))))
        for d in ids
    ]
    return spark.createDataFrame(data, PAGES_SCHEMA)


def _setup(spark, tmp_path):
    root = str(tmp_path / "links")
    linkgraph_init(_pages(spark, _BASE), root)
    return root


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot(spark, tmp_path):
    root = _setup(spark, tmp_path)
    make_linkgraph_batch_processor(root)(_pages(spark, _BATCH1), 0)
    got = _rows(linkgraph_merged(spark, root))
    want = _rows(link_in_degree(_pages(spark, _BASE + _BATCH1)))
    assert got == want and got
    # chrome hrefs exist on every page: counts really did add across
    # base + delta (5 pages total)
    by_href = {r[0]: r[1:] for r in got}
    assert by_href["/home"] == (5, 0)


def test_replay_including_folded_is_exactly_once(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_linkgraph_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    once = _rows(linkgraph_merged(spark, root))
    proc(_pages(spark, _BATCH1), 0)  # same-checkpoint replay
    assert _rows(linkgraph_merged(spark, root)) == once
    linkgraph_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    proc(_pages(spark, _BATCH1), 0)  # replay of the FOLDED batch
    assert _rows(linkgraph_merged(spark, root)) == once
    linkgraph_compact(spark, root)  # sweeps the stale partition, no refold
    assert _rows(linkgraph_merged(spark, root)) == once
    # a genuinely new batch still counts
    proc(_pages(spark, ["6"]), 1)
    want = _rows(link_in_degree(_pages(spark, _BASE + _BATCH1 + ["6"])))
    assert _rows(linkgraph_merged(spark, root)) == want


def test_streaming_end_to_end(spark, tmp_path):
    root = _setup(spark, tmp_path)
    inbox = str(tmp_path / "inbox")
    _pages(spark, _BATCH1).write.parquet(inbox)
    q = start_maintenance(
        spark,
        PAGES_SCHEMA,
        inbox,
        make_linkgraph_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = _rows(linkgraph_merged(spark, root))
    want = _rows(link_in_degree(_pages(spark, _BASE + _BATCH1)))
    assert got == want
