"""Streaming anchor-text index: the merged level-2 rollup must equal the
one-shot batch operator over everything ingested (including the winner
tie-break flipping as counts accumulate across batches), replays must be
exactly-once, and compaction must fold without changing a row."""

import os

from pdf_extraction_and_query_spark.operators.htmlextract import (
    anchor_text_agg,
)
from pdf_extraction_and_query_spark.sources.htmlcorpus import html_from_text
from pdf_extraction_and_query_spark.streaming.anchorindex import (
    PAGES_SCHEMA,
    anchor_agg_merged,
    anchorindex_compact,
    anchorindex_init,
    make_anchorindex_batch_processor,
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
    root = str(tmp_path / "anchors")
    anchorindex_init(_pages(spark, _BASE), root)
    return root


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot(spark, tmp_path):
    root = _setup(spark, tmp_path)
    make_anchorindex_batch_processor(root)(_pages(spark, _BATCH1), 0)
    got = _rows(anchor_agg_merged(spark, root))
    want = _rows(anchor_text_agg(_pages(spark, _BASE + _BATCH1)))
    assert got == want and got
    # chrome anchors exist on every page: counts added across base+delta
    by_href = {r[0]: r[1:] for r in got}
    assert by_href["/home"] == (5, 0, 1, "Home", 5)


def test_winner_recomputed_across_batches(spark, tmp_path):
    """The most-common text is NOT associative — it must be recomputed
    from merged partials, not merged from per-batch winners: doc-specific
    /ref/ texts differ per page, so a target linked from two batches with
    different texts resolves its winner only at read time."""
    root = _setup(spark, tmp_path)
    proc = make_anchorindex_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    merged = {r["href"]: r for r in anchor_agg_merged(spark, root).collect()}
    want = {
        r["href"]: r
        for r in anchor_text_agg(_pages(spark, _BASE + _BATCH1)).collect()
    }
    batch_only = {
        r["href"]: r
        for r in anchor_text_agg(_pages(spark, _BATCH1)).collect()
    }
    ref = [h for h in want if h.startswith("/ref/")]
    assert ref  # fixture corpus really produced content links
    for h in ref:
        assert tuple(merged[h]) == tuple(want[h])
        # distinct texts from distinct docs: the level-2 tie-break ran
        assert want[h]["n_distinct_texts"] >= 2
        # and the winner genuinely required the BASE partials: batch-1
        # alone elects a different text (doc 1's words sort first)
        assert merged[h]["top_text"] != batch_only[h]["top_text"]


def test_replay_including_folded_is_exactly_once(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_anchorindex_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    once = _rows(anchor_agg_merged(spark, root))
    proc(_pages(spark, _BATCH1), 0)  # same-checkpoint replay
    assert _rows(anchor_agg_merged(spark, root)) == once
    anchorindex_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    proc(_pages(spark, _BATCH1), 0)  # replay of the FOLDED batch
    assert _rows(anchor_agg_merged(spark, root)) == once
    anchorindex_compact(spark, root)  # sweeps stale partition, no refold
    assert _rows(anchor_agg_merged(spark, root)) == once
    proc(_pages(spark, ["6"]), 1)  # a genuinely new batch still counts
    want = _rows(anchor_text_agg(_pages(spark, _BASE + _BATCH1 + ["6"])))
    assert _rows(anchor_agg_merged(spark, root)) == want


def test_streaming_end_to_end(spark, tmp_path):
    root = _setup(spark, tmp_path)
    inbox = str(tmp_path / "inbox")
    _pages(spark, _BATCH1).write.parquet(inbox)
    q = start_maintenance(
        spark,
        PAGES_SCHEMA,
        inbox,
        make_anchorindex_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = _rows(anchor_agg_merged(spark, root))
    want = _rows(anchor_text_agg(_pages(spark, _BASE + _BATCH1)))
    assert got == want


def test_live_anchor_index_is_searchable(spark, tmp_path):
    """The whole point of maintaining the index: BM25 over the LIVE
    merged partials equals the same search over one-shot partials, and
    chrome labels rank their targets ('more' -> the /t/* sidebar hrefs)."""
    from pdf_extraction_and_query_spark.operators.fulltext import (
        anchor_bm25_topk,
    )
    from pdf_extraction_and_query_spark.operators.htmlextract import (
        anchor_text_partials,
    )
    from pdf_extraction_and_query_spark.streaming.anchorindex import (
        anchor_partials_merged,
    )

    root = _setup(spark, tmp_path)
    make_anchorindex_batch_processor(root)(_pages(spark, _BATCH1), 0)
    got = _rows(anchor_bm25_topk(anchor_partials_merged(spark, root)))
    want = _rows(
        anchor_bm25_topk(anchor_text_partials(_pages(spark, _BASE + _BATCH1)))
    )
    assert got == want and got
    q0 = [r for r in got if r[0] == 0]
    assert q0 and all(h.startswith("/t/") for _q, h, _s, _r in q0)
