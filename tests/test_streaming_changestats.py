"""Streaming change-stats maintenance: the merged read must equal the
one-shot ``recrawl_change_stats`` over every fetch ingested (the
window-shaped latest-vs-previous answer recovered from associative
per-version top-2 summaries), replays must be exactly-once, and with it
the WHOLE crawl frontier computes from live index tables."""

import os

from pyspark.sql import functions as F

from pdf_extraction_and_query_spark.operators.htmlextract import (
    html_extract_report,
    recrawl_change_stats,
)
from pdf_extraction_and_query_spark.sources.htmlcorpus import html_from_text
from pdf_extraction_and_query_spark.streaming.changestats import (
    PAGES_TS_SCHEMA,
    change_stats_compact,
    change_stats_init,
    change_stats_merged,
    make_change_batch_processor,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

from pdf_extraction_and_query_spark import contract as C

_M = C.HTML_CANONICAL_MOD

# (doc_id, text_key, ts): doc_ids congruent mod M share a canonical.
# canonical '1': three fetches, content changes then changes back on the
# LATEST fetch (top-2 versions differ -> latest_changed True).
# canonical '2': recrawl with IDENTICAL content (latest_changed False —
# the case only content comparison catches).
# canonical '3': single fetch.
_BASE = [
    ("1", "v1", 100),
    (str(1 + _M), "v2", 200),
    ("2", "same", 100),
    ("3", "solo", 300),
]
_BATCH1 = [
    (str(1 + 2 * _M), "v1", 900),   # latest for '1', back to v1 text
    (str(2 + _M), "same", 700),     # recrawl of '2', unchanged content
    ("4", "new", 50),               # brand-new URL
]


def _pages(spark, rows):
    data = [
        (d, html_from_text(d, f"alpha beta {key} gamma delta prose"), ts)
        for d, key, ts in rows
    ]
    return spark.createDataFrame(data, PAGES_TS_SCHEMA)


def _batch_stats(spark, rows):
    pages = _pages(spark, rows)
    rep = html_extract_report(pages.select("doc_id", "html")).join(
        pages.select("doc_id", "fetched_at_ts"), "doc_id"
    )
    return recrawl_change_stats(rep)


def _setup(spark, tmp_path):
    root = str(tmp_path / "changes")
    change_stats_init(_pages(spark, _BASE), root)
    return root


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot(spark, tmp_path):
    root = _setup(spark, tmp_path)
    make_change_batch_processor(root)(_pages(spark, _BATCH1), 0)
    got = _rows(change_stats_merged(spark, root))
    want = _rows(_batch_stats(spark, _BASE + _BATCH1))
    assert got == want and got
    by_canon = {r[0].rsplit("/", 1)[-1]: r[1:] for r in got}
    # '1': 3 fetches, 2 versions, latest (v1) != previous (v2) -> changed;
    # ratio = (2-1)*1e6 div (3-1)
    assert by_canon["1"] == (3, 2, True, 500000)
    # '2': recrawled under a DIFFERENT doc_id but identical content
    assert by_canon["2"] == (2, 1, False, 0)
    # '3': single fetch; '4': new in the delta
    assert by_canon["3"] == (1, 1, False, 0)
    assert by_canon["4"] == (1, 1, False, 0)


def test_replay_including_folded_is_exactly_once(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_change_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    once = _rows(change_stats_merged(spark, root))
    proc(_pages(spark, _BATCH1), 0)  # same-checkpoint replay
    assert _rows(change_stats_merged(spark, root)) == once
    change_stats_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    proc(_pages(spark, _BATCH1), 0)  # replay of the FOLDED batch
    assert _rows(change_stats_merged(spark, root)) == once
    change_stats_compact(spark, root)
    assert _rows(change_stats_merged(spark, root)) == once
    # a genuinely new batch still counts — and can flip latest_changed
    proc(_pages(spark, [("5", "v9", 950)]), 1)
    want = _rows(_batch_stats(spark, _BASE + _BATCH1 + [("5", "v9", 950)]))
    assert _rows(change_stats_merged(spark, root)) == want


def test_streaming_end_to_end(spark, tmp_path):
    root = _setup(spark, tmp_path)
    inbox = str(tmp_path / "inbox")
    _pages(spark, _BATCH1).write.parquet(inbox)
    q = start_maintenance(
        spark,
        PAGES_TS_SCHEMA,
        inbox,
        make_change_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert _rows(change_stats_merged(spark, root)) == _rows(
        _batch_stats(spark, _BASE + _BATCH1)
    )


def test_frontier_computes_fully_live(spark, tmp_path):
    """The capstone: corpus gate AND change rate both read from maintained
    index tables (no page re-parsed at frontier time; PageRank is the
    documented periodic batch refresh) — equal to the all-batch frontier
    over the same fetches."""
    from pdf_extraction_and_query_spark.operators.graphrank import (
        crawl_frontier,
        link_edges,
        pagerank,
    )
    from pdf_extraction_and_query_spark.operators.htmlextract import (
        crawl_corpus,
    )
    from pdf_extraction_and_query_spark.streaming.crawlindex import (
        crawl_corpus_merged,
        crawl_index_init,
        make_crawl_batch_processor,
    )

    ch_root = _setup(spark, tmp_path)
    make_change_batch_processor(ch_root)(_pages(spark, _BATCH1), 0)
    cr_root = str(tmp_path / "crawl")
    crawl_index_init(_pages(spark, _BASE), cr_root)
    make_crawl_batch_processor(cr_root)(_pages(spark, _BATCH1), 0)

    all_pages = _pages(spark, _BASE + _BATCH1)
    rep = html_extract_report(all_pages.select("doc_id", "html")).join(
        all_pages.select("doc_id", "fetched_at_ts"), "doc_id"
    )
    pr = pagerank(
        link_edges(
            rep.select(
                F.col("canonical").alias("src"),
                F.concat(F.lit("t/"), F.col("doc_id")).alias("dst"),
            )
        )
    )
    got = _rows(
        crawl_frontier(
            crawl_corpus_merged(spark, cr_root),
            change_stats_merged(spark, ch_root),
            pr,
        )
    )
    want = _rows(
        crawl_frontier(crawl_corpus(rep), recrawl_change_stats(rep), pr)
    )
    assert got == want and got


def test_fetch_times_above_2_53_keep_full_precision(spark, tmp_path):
    """One micro-batch: an untimed fetch next to fetch times above 2^53
    that a float64 round trip maps to one value (2^60). Exact int64 order
    is doc "3" (2^60 + 100), then "9" (2^60 + 2), both "beta", so the
    latest fetch did not change content; the rounded order (ties broken on
    doc_id: "9", "7", "3") would compare "beta" with "gamma". Doc "7" is
    there because swapping only the latest two fetches cannot change
    ``latest_changed``."""
    rows = [
        ("1", "alpha", None),
        ("3", "beta", 2**60 + 100),
        ("9", "beta", 2**60 + 2),
        ("7", "gamma", 2**60 + 1),
    ]
    data = [
        (
            d,
            '<link rel="canonical" href="https://corp.example/doc/wide">'
            f"<p>{text} main content prose</p>",
            ts,
        )
        for d, text, ts in rows
    ]
    # one partition, so every page shares one Arrow batch with the null
    pages = spark.createDataFrame(data, PAGES_TS_SCHEMA).coalesce(1)
    root = str(tmp_path / "changes")
    change_stats_init(spark.createDataFrame([], PAGES_TS_SCHEMA), root)
    make_change_batch_processor(root)(pages, 0)
    got = _rows(change_stats_merged(spark, root))
    assert got == [("https://corp.example/doc/wide", 4, 3, False, 666666)]
    assert got == _rows(recrawl_change_stats(html_extract_report(pages)))
