"""Incremental quality-signal scoring under Structured Streaming — every
curation signal the batch gate reads is now maintainable live (the
frontier-signal precedent): CCNet bucket + fluency under a FROZEN
per-language LM, plus the (stateless) classifier verdict.

Layout under one index root:
  _model/{c2,c1,cuts}  the per-language bigram counts and third cutoffs,
           FROZEN at init (re-deriving counts or cutoffs is a retrain, not
           maintenance — the frozen-centroid / frozen-codebook / frozen-
           bounds insert rule).  Scoring is PER-DOCUMENT PURE given the
           model, so incremental == one-shot-under-frozen-model by
           construction.  Frozen-LM scoring rule (operators/textstats.
           _ccnet_fluency): transitions the model never saw drop from the
           mean; a doc with no known transition — or in a language the
           model never saw — emits no row (production retrains at the next
           wave; tests pin the rule).
  scores/index, scores/delta/batch_id=N — the scored corpus through the
           watermarked summary-delta engine (streaming/deltaindex.py,
           identity merge): scores are per-doc ROWS, so the fold
           watermark — not deduplication — is what keeps a batch replayed
           AFTER a maintenance compact from duplicating its rows (the
           duppassage precedent; pinned in the replay-after-compact test).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.classifier import quality_classify
from ..operators.textstats import ccnet_model, ccnet_score
from ..sources import tables
from . import deltaindex as DX

from pyspark.sql import functions as F

_MODEL_PARTS = ("c2", "c1", "cuts")
_SCORE_COLS = ["doc_id", "lang", "fluency_e6", "bucket", "cls_score_e6", "label"]


def _score(docs: DataFrame, model) -> DataFrame:
    """(doc_id, lang, fluency_e6, bucket, cls_score_e6, label) — the two
    model-shaped curation signals in one frame.  Inner join on doc_id: the
    classifier scores any >=1-token doc but ccnet needs >=2 tokens and a
    known language, so the joined frame carries exactly the fully-scored
    docs."""
    cc = ccnet_score(docs, model)
    cls = quality_classify(docs, spec="stub").select(
        "doc_id", F.col("score_e6").alias("cls_score_e6"), "label"
    )
    return cc.join(cls, "doc_id")


def quality_stream_init(docs: DataFrame, root: str) -> None:
    """Train the CCNet model on the initial corpus, freeze it, and score
    the corpus under it."""
    model = ccnet_model(docs)
    for name, df in zip(_MODEL_PARTS, model):
        tables.replace_table(df, f"{root}/_model/{name}")
    DX.init_index(_score(docs, model).select(*_SCORE_COLS), f"{root}/scores")


def _read_model(spark: SparkSession, root: str):
    return tuple(
        tables.read_table(spark, f"{root}/_model/{name}") for name in _MODEL_PARTS
    )


def make_quality_batch_processor(root: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: score the batch's documents against the
    FROZEN model and write them as a batch_id delta partition
    (clear-then-overwrite + the fold watermark = exactly-once, even
    replayed after a compact)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        out = _score(batch_df, _read_model(spark, root)).select(*_SCORE_COLS)
        DX.write_delta(out, f"{root}/scores", int(batch_id))

    return process_batch


def quality_scores_merged(spark: SparkSession, root: str) -> DataFrame:
    """Base ∪ unfolded delta scores — equals one-shot scoring of the union
    corpus under the frozen model (scoring is per-doc pure given the
    model)."""
    return DX.read_merged(spark, f"{root}/scores", _SCORE_COLS)


def quality_compact(spark: SparkSession, root: str) -> None:
    """Fold delta scores into the base table under the watermark
    (snapshot-pinned, crash-safe — see streaming/deltaindex.compact)."""
    DX.compact(spark, f"{root}/scores", _SCORE_COLS)
