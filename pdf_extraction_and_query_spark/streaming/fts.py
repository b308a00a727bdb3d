"""Incremental full-text index maintenance under Structured Streaming.

The three tables ``fulltext.fts_build`` writes — postings (partitioned by
token-hash bucket), doc lengths and the one-row corpus stats — are each an
index on the delta-index engine (``streaming/deltaindex.py``): every
micro-batch of new documents lands its postings / doc-lengths / stats as
``batch_id`` delta partitions (``delta_postings``, ``delta_doclen``,
``delta_stats``); ``bm25_topk_merged`` scores against base ∪ unfolded
deltas with the shared exact scoring tail; ``fts_compact`` folds each
table under its own watermark (postings sum tf per (doc, token, bucket),
doc lengths sum per doc, stats re-sum), so a crash between the three
folds leaves every table complete.

Contract: the corpus is APPEND-ONLY on doc_id (the same assumption the
streaming ingest makes) — a doc_id re-appearing in a later batch would
sum-merge rather than replace.  Document updates belong to a batch
rebuild (``fulltext.fts_build`` over the updated corpus), not the
streaming appender.

Scale: the base is the bucket-pruned search path; deltas stay small
between compactions, so a merged query reads (pruned base) + (pruned
recent deltas) — classic LSM read amplification bounded by compaction
cadence.  Delta postings are bucketed at write time with the SAME token
hash as the base, so compaction is a partition-aligned fold and the merged
reader prunes both sides.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from ..operators.fulltext import (
    corpus_stats,
    doc_lengths,
    postings,
    query_term_buckets,
    score_candidates,
)
from ..sources import tables
from . import deltaindex as DX

# each fts_build table as an engine (base, delta) pair under the index path
_POSTINGS = ("postings", "delta_postings")
_DOCLEN = ("doclen", "delta_doclen")
_STATS = ("_stats", "delta_stats")
_POST_COLS = ["doc_id", "token", "tf", "bucket"]
_DL_COLS = ["doc_id", "dl"]
_STATS_COLS = ["n_docs", "sum_dl", "n_buckets"]


def _at(index_path: str, table: tuple[str, str]) -> tuple[str, str]:
    return tuple(f"{index_path}/{t}" for t in table)


def _sum_tf(post: DataFrame) -> DataFrame:
    return post.groupBy("doc_id", "token", "bucket").agg(F.sum("tf").alias("tf"))


def _sum_dl(dl: DataFrame) -> DataFrame:
    return dl.groupBy("doc_id").agg(F.sum("dl").alias("dl"))


def _sum_stats(stats: DataFrame) -> DataFrame:
    """One row (n_docs, sum_dl, avgdl_e3, n_buckets) — avgdl is RE-derived
    from the summed totals, never averaged from per-source averages."""
    return stats.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
        F.max("n_buckets").alias("n_buckets"),
    ).select(
        "n_docs",
        "sum_dl",
        F.expr("(1000 * sum_dl) div n_docs").alias("avgdl_e3"),
        "n_buckets",
    )


def _n_buckets(spark: SparkSession, index_path: str) -> int:
    base, _ = tables.read_versioned(spark, f"{index_path}/_stats")
    return int(base.collect()[0]["n_buckets"])


def make_fts_batch_processor(index_path: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: write the batch's postings/doclen/stats as
    its delta partitions."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nb = _n_buckets(batch_df.sparkSession, index_path)
        post = postings(batch_df).withColumn(
            "bucket", F.pmod(F.xxhash64("token"), F.lit(nb))
        )
        stats = corpus_stats(batch_df).withColumn(
            "n_buckets", F.lit(nb).cast("int")
        )
        DX.write_delta(post, _at(index_path, _POSTINGS), batch_id, ["bucket"])
        DX.write_delta(doc_lengths(post), _at(index_path, _DOCLEN), batch_id)
        DX.write_delta(stats, _at(index_path, _STATS), batch_id)

    return process_batch


def _merged_stats(spark: SparkSession, index_path: str) -> DataFrame:
    return DX.read_merged(
        spark, _at(index_path, _STATS), _STATS_COLS, _sum_stats
    )


def bm25_topk_merged(
    spark: SparkSession,
    index_path: str,
    queries: dict[int, tuple[str, ...]] | None = None,
    k: int = C.FTS_TOPK,
) -> DataFrame:
    """BM25 over base ∪ deltas, bucket-pruned on BOTH sides; row-identical
    to rebuilding the index over the full corpus (append-only contract)."""
    queries = queries or C.FTS_QUERIES
    stats = _merged_stats(spark, index_path)
    nb = _n_buckets(spark, index_path)
    buckets = query_term_buckets(spark, queries, nb)
    post = (
        DX.read_merged(spark, _at(index_path, _POSTINGS), _POST_COLS)
        .where(F.col("bucket").isin(buckets))
        .select("doc_id", "token", "tf")
    )
    dl = DX.read_merged(spark, _at(index_path, _DOCLEN), _DL_COLS)
    return score_candidates(post, dl, stats, queries, k)


def tfidf_topk_merged(
    spark: SparkSession, index_path: str, k: int = C.TFIDF_TOPK
) -> DataFrame:
    """Per-doc keyword extraction over the LIVE index: base \u222a delta
    postings through the exact inline scoring tail
    (``fulltext.tfidf_from_postings``), n_docs from the merged stats row —
    the maintained index serves a second analytics consumer without any
    page re-tokenized.  Unlike the BM25 readers this is corpus-wide, so no
    bucket pruning applies (keyword extraction has no query terms to prune
    by); it reads every postings bucket but still only summary-sized rows."""
    from ..operators.fulltext import tfidf_from_postings

    stats = _merged_stats(spark, index_path)
    post = DX.read_merged(
        spark, _at(index_path, _POSTINGS), ["doc_id", "token", "tf"]
    )
    return tfidf_from_postings(post, stats.select("n_docs"), k)


def fts_compact(spark: SparkSession, index_path: str) -> None:
    """Fold each table's deltas into a new version of its base, each under
    its own watermark (see streaming/deltaindex)."""
    DX.compact(spark, _at(index_path, _POSTINGS), _POST_COLS, _sum_tf, ["bucket"])
    DX.compact(spark, _at(index_path, _DOCLEN), _DL_COLS, _sum_dl)
    DX.compact(spark, _at(index_path, _STATS), _STATS_COLS, _sum_stats)
