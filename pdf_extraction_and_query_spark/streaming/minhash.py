"""Incremental MinHash-LSH near-dup maintenance — live near-duplicate
detection over a continuous crawl, the near-dup twin of the exact
streaming dedup in ``streaming/dedup.py``.

A signature is a PURE PER-DOC function (contract ``MINHASH_*`` hash
family — no cross-doc state, unlike counts or LM stats), so the index is
append-only on doc_id: a row index on the delta-index engine
(``streaming/deltaindex.py``) with the identity merge, rows
(doc_id, m0..m{K-1}).

``minhash_pairs_merged`` band-joins base ∪ deltas through the EXACT
batch code (``operators/dedup.band_pairs_from_signatures``), so a newly
crawled page is checked against the ENTIRE historical corpus without
recomputing one old signature — per batch the work is one shingle pass
over the batch's own text plus the (band, val) equi-join, in which the
historical side moves 16 small ints per doc, never text.  This is the
candidate-pair feed; the exact-Jaccard verify and cluster resolution
(``dedup_clusters``) run downstream on candidates only, exactly as in
batch.

Durability contract (family-wide, see streaming/deltaindex.py): the index
root and the streaming checkpoint directory form ONE durable unit —
batch ids are only unique within a checkpoint lineage.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import contract as C
from ..operators.dedup import band_pairs_from_signatures, minhash_signatures
from . import deltaindex as DX

DOCS_SCHEMA = "doc_id long, text string"

_SIG_COLS = ["doc_id"] + [f"m{i}" for i in range(C.MINHASH_K)]


def minhash_stream_init(docs: DataFrame, root: str) -> None:
    """Build the base signature table from the corpus already ingested."""
    DX.init_index(minhash_signatures(docs).select(*_SIG_COLS), root)


def make_minhash_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: signature the batch's docs and land them as
    its delta partition."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sig = minhash_signatures(batch_df).select(*_SIG_COLS)
        DX.write_delta(sig, root, batch_id)

    return process_batch


def merged_signatures(spark: SparkSession, root: str) -> DataFrame:
    """Base ∪ deltas — row-identical to one-shot ``minhash_signatures``
    over everything ingested (append-only contract)."""
    return DX.read_merged(spark, root, _SIG_COLS)


def minhash_pairs_merged(spark: SparkSession, root: str) -> DataFrame:
    """Candidate near-dup pairs over the LIVE index == one-shot
    ``minhash_band_pairs`` over the union corpus (equality-tested)."""
    return band_pairs_from_signatures(merged_signatures(spark, root))


def minhash_compact(spark: SparkSession, root: str) -> None:
    """Fold deltas into a new base version (see streaming/deltaindex)."""
    DX.compact(spark, root, _SIG_COLS)
