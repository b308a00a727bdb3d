"""Streaming recrawl change-stats maintenance: the incremental twin of
``operators/htmlextract.recrawl_change_stats`` — with it, EVERY
crawl-frontier signal is maintainable live (the corpus gate via
``crawlindex``, in-degree via ``linkgraph``, anchor text via
``anchorindex``, change rate here; PageRank remains the documented
periodic batch refresh).

The batch operator's outputs look window-shaped (latest vs PREVIOUS
fetch), but they reduce to an ASSOCIATIVE summary at the
``(canonical, content_hash)`` grain: per content version keep the fetch
count and the TOP-2 fetches under the keep-latest total order (ts,
doc_id-string).  Top-2 merges associatively (the union's top-2 is inside
the union of the inputs' top-2s), and the per-URL answer is recoverable
on read because the OVERALL top-2 fetches are always inside the union of
per-version top-2s: overall #1 is some version's #1, and overall #2 is
either another version's #1 or #1's own version's #2.  n_versions =
count of version rows, n_crawls = sum of counts, latest_changed =
version(#1) != version(#2).

Same ``deltaindex`` discipline as the rest of the family (count-carrying
summaries: batch_id deltas, fold watermark, snapshot-pinned
compaction); merged reads move summary rows only — never pages.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.htmlextract import TS_UNKNOWN, html_extract_report
from . import deltaindex

PAGES_TS_SCHEMA = "doc_id string, html string, fetched_at_ts long"

_SUMMARY_COLS = ["canonical", "content_hash", "n", "ts1", "doc1", "ts2", "doc2"]


_TOP2 = "array<struct<ts:bigint,doc:string>>"


def _unpack(grouped: DataFrame) -> DataFrame:
    """(…, t2: top-2 array) -> the flat summary columns (absent #2 stays
    null — a single-fetch version)."""
    return grouped.select(
        "canonical",
        "content_hash",
        F.col("n").cast("long").alias("n"),
        F.get("t2", 0)["ts"].cast("long").alias("ts1"),
        F.get("t2", 0)["doc"].alias("doc1"),
        # get() is null on out-of-bounds — a single-fetch version has no #2
        F.get("t2", 1)["ts"].cast("long").alias("ts2"),
        F.get("t2", 1)["doc"].alias("doc2"),
    )


def _summarize(report: DataFrame) -> DataFrame:
    """Per-(canonical, content_hash) singleton summaries from
    ``html_extract_report`` rows carrying ``fetched_at_ts``: count + top-2
    (ts, doc) under the keep-latest order (a null fetch time coerces to
    TS_UNKNOWN; canonical-less pages are left out, as in the batch
    operator). ONE hash aggregation; the collect_list is bounded by the
    version's fetch count within the batch."""
    return _unpack(
        report.where(F.col("canonical") != "")
        .select(
            "canonical",
            "content_hash",
            F.struct(
                F.coalesce(
                    F.col("fetched_at_ts").cast("long"), F.lit(TS_UNKNOWN)
                ).alias("ts"),
                F.col("doc_id").cast("string").alias("doc"),
            ).alias("c"),
        )
        .groupBy("canonical", "content_hash")
        .agg(
            F.count("*").alias("n"),
            F.slice(
                F.sort_array(F.collect_list("c"), asc=False), 1, 2
            ).alias("t2"),
        )
    )


def _cands_col():
    """The up-to-2 fetch candidates a summary row carries, nulls dropped."""
    return F.filter(
        F.array(
            F.struct(F.col("ts1").alias("ts"), F.col("doc1").alias("doc")),
            F.struct(F.col("ts2").alias("ts"), F.col("doc2").alias("doc")),
        ),
        lambda x: x["doc"].isNotNull(),
    )


def merge_change(summaries: DataFrame) -> DataFrame:
    """Associative merge: counts add; the merged top-2 is the top-2 of the
    union of the inputs' candidates (per-row arrays flattened, sorted
    desc, sliced — group state bounded by 2x the summary rows per key)."""
    return _unpack(
        summaries.select(
            "canonical", "content_hash", "n", _cands_col().alias("cl")
        )
        .groupBy("canonical", "content_hash")
        .agg(
            F.sum("n").alias("n"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("cl")), asc=False), 1, 2
            ).alias("t2"),
        )
    )


def change_stats_init(pages: DataFrame, root: str) -> None:
    """One-shot base build over (doc_id, html, fetched_at_ts) pages."""
    deltaindex.init_index(_summarize(html_extract_report(pages)), root)


def make_change_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: the micro-batch's per-version summaries into
    a ``batch_id`` delta partition (exactly-once under the shared
    watermark discipline)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        deltaindex.write_delta(
            _summarize(html_extract_report(batch_df)), root, batch_id
        )

    return process_batch


def change_stats_merged(spark: SparkSession, root: str) -> DataFrame:
    """The LIVE change statistics — row-identical to
    ``recrawl_change_stats`` over every fetch ever ingested (equality
    tested).  Read-side rollup: explode each version row's <=2 candidates,
    rank per canonical (summary-sized window), compare the overall top-2
    fetches' versions."""
    m = deltaindex.read_merged(spark, root, _SUMMARY_COLS, merge_change)
    rows = m.select("canonical", "content_hash", "n", _cands_col().alias("cl"))
    ex = rows.select(
        "canonical", "content_hash", F.explode("cl").alias("c")
    ).select(
        "canonical", "content_hash", F.col("c.ts").alias("ts"), F.col("c.doc").alias("doc")
    )
    w = Window.partitionBy("canonical").orderBy(
        F.col("ts").desc(), F.col("doc").desc()
    )
    top = (
        ex.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("canonical")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("content_hash"))).alias("h1"),
            F.max(F.when(F.col("rn") == 2, F.col("content_hash"))).alias("h2"),
        )
    )
    agg = rows.groupBy("canonical").agg(
        F.sum("n").cast("long").alias("n_crawls"),
        F.count("*").cast("long").alias("n_versions"),
    )
    return agg.join(top, "canonical").select(
        "canonical",
        "n_crawls",
        "n_versions",
        (F.col("h2").isNotNull() & (F.col("h2") != F.col("h1"))).alias(
            "latest_changed"
        ),
        F.expr(
            "((n_versions - 1) * 1000000) div greatest(n_crawls - 1, 1)"
        )
        .cast("long")
        .alias("change_ratio_e6"),
    )


def change_stats_compact(spark: SparkSession, root: str) -> None:
    """Fold unfolded deltas into the base; no-op when none exist."""
    deltaindex.compact(spark, root, _SUMMARY_COLS, merge_change)
