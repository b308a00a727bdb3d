"""Streaming crawl-index maintenance: the merged index must equal the
one-shot batch operator over everything ingested (associative keep-latest
merge), delta appends must be exactly-once under replay, and compaction
must fold deltas without changing a row."""

import os
import time

from pdf_extraction_and_query_spark import contract as C
from pdf_extraction_and_query_spark.operators.htmlextract import (
    crawl_keep_latest,
    html_extract_report,
)
from pdf_extraction_and_query_spark.sources.htmlcorpus import html_from_text
from pdf_extraction_and_query_spark.streaming.crawlindex import (
    PAGES_TS_SCHEMA,
    crawl_compact,
    crawl_index_init,
    crawl_index_merged,
    make_crawl_batch_processor,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

_M = C.HTML_CANONICAL_MOD

# doc_ids congruent mod HTML_CANONICAL_MOD share a canonical URL — i.e.
# recrawls of one logical page. ts chosen so a BASE row sometimes stays
# the winner (doc 1 ts=900) and sometimes a delta row supersedes it.
_BASE = [
    ("1", 900),           # canonical '1', stays winner over the recrawl
    ("2", 100),           # canonical '2', superseded by batch doc 2+M
    ("3", 300),           # single fetch
]
_BATCH1 = [
    (str(1 + _M), 500),   # recrawl of '1' but OLDER pick order (ts 500<900)
    (str(2 + _M), 700),   # recrawl of '2', newer — new winner
    ("4", 50),            # brand-new URL
]


def _pages(spark, rows):
    data = [
        (d, html_from_text(d, f"alpha beta doc {d} gamma delta"), ts)
        for d, ts in rows
    ]
    return spark.createDataFrame(data, PAGES_TS_SCHEMA)


def _setup(spark, tmp_path):
    root = str(tmp_path / "crawl")
    crawl_index_init(_pages(spark, _BASE), root)
    return root


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot(spark, tmp_path):
    root = _setup(spark, tmp_path)
    make_crawl_batch_processor(root)(_pages(spark, _BATCH1), 0)
    got = _rows(crawl_index_merged(spark, root))
    want = _rows(
        crawl_keep_latest(html_extract_report(_pages(spark, _BASE + _BATCH1)))
    )
    assert got == want and got
    by_canon = {r[0]: r for r in got}
    one = by_canon[f"{C.HTML_CANONICAL_PREFIX}1"]
    two = by_canon[f"{C.HTML_CANONICAL_PREFIX}2"]
    assert one[1:] == (2, "1", 900, 1)            # base fetch stays winner
    assert two[1:] == (2, str(2 + _M), 700, 1)    # delta fetch supersedes
    assert by_canon[f"{C.HTML_CANONICAL_PREFIX}4"][1:] == (1, "4", 50, 0)


def test_replay_is_exactly_once(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_crawl_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    once = _rows(crawl_index_merged(spark, root))
    proc(_pages(spark, _BATCH1), 0)  # crash-replay of the same micro-batch
    assert _rows(crawl_index_merged(spark, root)) == once


def test_compact_preserves_index_and_clears_deltas(spark, tmp_path):
    root = _setup(spark, tmp_path)
    make_crawl_batch_processor(root)(_pages(spark, _BATCH1), 0)
    before = _rows(crawl_index_merged(spark, root))
    crawl_compact(spark, root)
    # the folded partition is cleared (the delta ROOT may remain — compact
    # clears exactly what it folded, so mid-compact arrivals survive)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert _rows(crawl_index_merged(spark, root)) == before
    crawl_compact(spark, root)  # idempotent when nothing to fold


def test_folded_delta_replay_never_double_counts(spark, tmp_path):
    """The two count-corruption windows: (a) compact crashed AFTER the
    base write but BEFORE clearing its deltas; (b) a micro-batch whose
    delta was already folded gets replayed after a restart.  Both leave a
    delta partition at batch_id <= the watermark on disk — it must
    make the merged reader and a re-run of compact ignore it (keep-latest
    COUNTS are not idempotent under re-merge, unlike the max winner)."""
    root = _setup(spark, tmp_path)
    proc = make_crawl_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    want = _rows(crawl_index_merged(spark, root))
    crawl_compact(spark, root)
    # (b) checkpoint loss replays batch 0 — its delta re-lands on disk
    proc(_pages(spark, _BATCH1), 0)
    assert _rows(crawl_index_merged(spark, root)) == want
    # (a) equivalently: compact re-run with the stale folded delta present
    crawl_compact(spark, root)
    assert _rows(crawl_index_merged(spark, root)) == want
    # a genuinely NEW batch above the watermark still counts
    proc(_pages(spark, [("5", 10)]), 1)
    after = {r[0]: r for r in crawl_index_merged(spark, root).collect()}
    assert after[f"{C.HTML_CANONICAL_PREFIX}5"][1:] == (1, "5", 10, 0)


def test_pre_watermark_index_migrates(spark, tmp_path):
    """A base index written before the versioned layout existed (bare
    summary output) must stay readable: merged treats it as
    nothing-folded and compact upgrades it in place."""
    from pdf_extraction_and_query_spark.streaming.crawlindex import (
        _one_shot_summary,
    )

    root = str(tmp_path / "crawl")
    _one_shot_summary(_pages(spark, _BASE)).write.parquet(f"{root}/index")
    proc = make_crawl_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    want = _rows(
        crawl_keep_latest(html_extract_report(_pages(spark, _BASE + _BATCH1)))
    )
    assert _rows(crawl_index_merged(spark, root)) == want
    crawl_compact(spark, root)
    assert _rows(crawl_index_merged(spark, root)) == want


def test_corpus_merged_equals_one_shot_gate(spark, tmp_path):
    """The LIVE indexable corpus answered from the maintained index (no
    re-parse) must equal the batch crawl_corpus over everything ingested —
    including after compaction; noindex-cadence pages really are gated
    (non-vacuous)."""
    from pdf_extraction_and_query_spark.operators.htmlextract import (
        crawl_corpus,
    )
    from pdf_extraction_and_query_spark.streaming.crawlindex import (
        crawl_corpus_merged,
    )

    root = _setup(spark, tmp_path)
    make_crawl_batch_processor(root)(_pages(spark, _BATCH1), 0)
    want = _rows(
        crawl_corpus(html_extract_report(_pages(spark, _BASE + _BATCH1)))
    )
    assert _rows(crawl_corpus_merged(spark, root)) == want and want
    crawl_compact(spark, root)
    assert _rows(crawl_corpus_merged(spark, root)) == want
    # doc 3 (noindex cadence: 3 % 7 == 3) is in the keep-latest index but
    # NOT in the corpus — the gate is doing real work on the live index
    canons = {r[0] for r in want}
    assert f"{C.HTML_CANONICAL_PREFIX}3" not in canons
    listed = {r[0] for r in _rows(crawl_index_merged(spark, root))}
    assert f"{C.HTML_CANONICAL_PREFIX}3" in listed


def test_compact_clears_only_folded_partitions(spark, tmp_path):
    """The clear list derives from the SAME snapshot the fold used: after
    compact, the folded batch partitions are gone; a stale already-folded
    leftover (crashed prior clear) is swept by the next compact even when
    it has nothing new to fold."""
    import os

    root = _setup(spark, tmp_path)
    proc = make_crawl_batch_processor(root)
    proc(_pages(spark, _BATCH1), 0)
    crawl_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    want = _rows(crawl_index_merged(spark, root))
    # crashed-clear simulation: the folded delta re-lands (replay), then a
    # fold-nothing compact must sweep it without touching the index
    proc(_pages(spark, _BATCH1), 0)
    assert os.path.exists(f"{root}/delta/batch_id=0")
    crawl_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert _rows(crawl_index_merged(spark, root)) == want


def test_null_fetch_time_tolerated_and_never_wins(spark):
    """A crawl record without a timestamp must not kill the Arrow pass
    and must lose to ANY timed fetch of the same URL; untimed-only URLs
    tie-break on doc_id."""
    rows = [("1", 500), (str(1 + _M), None), ("2", None), (str(2 + _M), None)]
    data = [
        (d, html_from_text(d, f"alpha beta doc {d} gamma delta"), ts)
        for d, ts in rows
    ]
    pages = spark.createDataFrame(data, PAGES_TS_SCHEMA)
    got = {
        r["canonical"]: (r["n_crawls"], r["latest_doc_id"])
        for r in crawl_keep_latest(html_extract_report(pages)).collect()
    }
    assert got[f"{C.HTML_CANONICAL_PREFIX}1"] == (2, "1")  # timed fetch wins
    # both untimed: string-max doc_id wins deterministically
    assert got[f"{C.HTML_CANONICAL_PREFIX}2"] == (
        2,
        max("2", str(2 + _M)),
    )


def test_fetch_times_above_2_53_keep_full_precision(spark, tmp_path):
    """One micro-batch: an untimed fetch next to two fetch times above
    2^53 that a float64 round trip maps to the same value (2^60), so only
    an exact int64 path keeps doc "3" (2^60 + 100) ahead of doc "9"
    (2^60 + 2)."""
    rows = [("1", None), ("3", 2**60 + 100), ("9", 2**60 + 2)]
    data = [
        (
            d,
            '<link rel="canonical" href="https://corp.example/doc/wide">'
            f"<p>main content prose of doc {d}</p>",
            ts,
        )
        for d, ts in rows
    ]
    # one partition, so every page shares one Arrow batch with the null
    pages = spark.createDataFrame(data, PAGES_TS_SCHEMA).coalesce(1)
    root = str(tmp_path / "crawl")
    crawl_index_init(spark.createDataFrame([], PAGES_TS_SCHEMA), root)
    make_crawl_batch_processor(root)(pages, 0)
    got = _rows(crawl_index_merged(spark, root))
    assert got == [("https://corp.example/doc/wide", 3, "3", 2**60 + 100, 2)]
    assert got == _rows(crawl_keep_latest(html_extract_report(pages)))


def test_streaming_end_to_end(spark, tmp_path):
    root = _setup(spark, tmp_path)
    inbox = str(tmp_path / "inbox")
    _pages(spark, _BATCH1).write.parquet(inbox)
    q = start_maintenance(
        spark,
        PAGES_TS_SCHEMA,
        inbox,
        make_crawl_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    time.sleep(0.2)
    got = _rows(crawl_index_merged(spark, root))
    want = _rows(
        crawl_keep_latest(html_extract_report(_pages(spark, _BASE + _BATCH1)))
    )
    assert got == want


def test_live_index_feeds_the_frontier(spark, tmp_path):
    """crawl_frontier consumes the MAINTAINED index directly: the live
    corpus gate (crawl_corpus_merged) slots into the frontier composition
    with no schema shim, and the result equals the frontier computed from
    a one-shot batch gate over the same pages — the production shape
    (summary tables in, no page re-parsed)."""
    from pdf_extraction_and_query_spark.operators.graphrank import (
        crawl_frontier,
        link_edges,
        pagerank,
    )
    from pdf_extraction_and_query_spark.operators.htmlextract import (
        crawl_corpus,
        recrawl_change_stats,
        html_extract_report,
    )
    from pdf_extraction_and_query_spark.streaming.crawlindex import (
        crawl_corpus_merged,
    )
    from pyspark.sql import functions as F

    root = _setup(spark, tmp_path)
    make_crawl_batch_processor(root)(_pages(spark, _BATCH1), 0)
    all_pages = _pages(spark, _BASE + _BATCH1)
    rep = html_extract_report(all_pages.select("doc_id", "html")).join(
        all_pages.select("doc_id", "fetched_at_ts"), "doc_id"
    )
    # importance + volatility signals (periodic refresh in production)
    change = recrawl_change_stats(rep)
    pr = pagerank(
        link_edges(
            rep.select(
                F.col("canonical").alias("src"),
                F.concat(F.lit("t/"), F.col("doc_id")).alias("dst"),
            )
        )
    )
    got = _rows(crawl_frontier(crawl_corpus_merged(spark, root), change, pr))
    want = _rows(crawl_frontier(crawl_corpus(rep), change, pr))
    assert got == want and got
