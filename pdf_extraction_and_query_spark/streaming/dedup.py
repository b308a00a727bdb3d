"""Streaming exact deduplication: the streaming twin of
``operators/dedup.exact_dup_groups``.

A continuous ingest (crawl feed, upload queue) re-delivers identical
content — retries, mirrors, re-crawls — and the corpus sink wants each
distinct content exactly once.  Batch dedup is a groupBy over the whole
corpus; a stream can't see "the whole corpus", so the contract shifts to
*horizon dedup*: emit the FIRST arrival of each content hash, drop any
duplicate arriving within ``late_allowance`` of the watermark.

``dropDuplicatesWithinWatermark`` (not ``dropDuplicates``) is the
load-bearing choice at scale: plain dropDuplicates on a stream keeps one
state row per distinct key FOREVER (unbounded on a 10^12-doc feed), while
the within-watermark variant expires each key's state once the watermark
passes its arrival + allowance — state is bounded by the duplicate-arrival
horizon, not the stream's history.  A duplicate arriving LATER than the
horizon re-emits; the downstream batch ``exact_dup_groups`` over the sink
remains the exact full-history pass (same two-tier contract as the
streaming rollup's approximate ``n_users``).

The dedup key is the same ``md5(normalized text)`` as the batch operator,
so sink rows join 1:1 against batch dedup groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import _norm


def dedup_stream(docs_stream: DataFrame, late_allowance: str = "1 hour") -> DataFrame:
    """readStream(docs with event-time `ts`) -> one arrival per content
    hash within the watermark horizon (the first micro-batch carrying a
    key wins; WITHIN a micro-batch the surviving row is unspecified —
    Spark keeps whichever it scans first).  Output keeps the input
    columns plus ``grp_hash`` (the join key against batch dedup groups)."""
    return (
        docs_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("grp_hash", F.md5(_norm(F.col("text"))))
        .withWatermark("ts", late_allowance)
        .dropDuplicatesWithinWatermark(["grp_hash"])
    )


def dedup_html_stream(
    pages_stream: DataFrame, late_allowance: str = "1 hour"
) -> DataFrame:
    """Horizon dedup of a continuous HTML crawl on the EXTRACTED main
    content (``core/htmlmain``): the same article re-crawled under
    different site chrome carries a different raw-byte hash but the same
    content hash, so this drops re-crawls/mirrors a raw dedup cannot see.
    Chrome-only pages (empty main content) are NOT duplicates of each
    other — their key is salted per doc_id so they always pass. Same
    bounded-state ``dropDuplicatesWithinWatermark`` contract as
    :func:`dedup_stream`; the batch twin over the sink is
    ``operators/htmlextract.html_content_dups``, and the content hash is
    its ``html_extract_report``'s (which carries ``ts`` through)."""
    from ..operators.htmlextract import EMPTY_CONTENT_HASH, html_extract_report

    hashed = html_extract_report(pages_stream).select(
        "doc_id", "ts", "content_hash"
    )
    return (
        hashed.withColumn(
            "dedup_key",
            F.when(
                F.col("content_hash") == EMPTY_CONTENT_HASH,
                F.concat(F.lit("empty:"), F.col("doc_id")),
            ).otherwise(F.col("content_hash")),
        )
        .withWatermark("ts", late_allowance)
        .dropDuplicatesWithinWatermark(["dedup_key"])
        .drop("dedup_key")
    )
