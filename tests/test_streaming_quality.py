"""Streaming quality-signal maintenance: scoring new documents under the
FROZEN CCNet model must equal one-shot scoring of the union corpus under
the same model, the frozen-LM rules must hold (unseen transitions drop
from the mean; unseen-language / no-known-transition docs emit no row),
replays must be exactly-once, and compaction must preserve every score."""

import pytest

from pdf_extraction_and_query_spark.operators.textstats import (
    ccnet_model,
    ccnet_score,
)
from pdf_extraction_and_query_spark.streaming.quality import (
    make_quality_batch_processor,
    quality_compact,
    quality_scores_merged,
    quality_stream_init,
    _score,
)


@pytest.fixture(scope="module")
def base(spark):
    # en model: c2 (a,b)=2 (b,a)=1 (b,c)=1; c1 a=2 b=2
    # P(a,b)=1e6 P(b,a)=P(b,c)=500_000
    # fl: d0=(1e6+5e5+1e6)//3=833_333 (head), d1=500_000 (middle)
    rows = [(0, "a b a b", "en"), (1, "b c", "en")]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def batch(spark):
    rows = [
        (10, "a b z", "en"),    # (a,b) seen -> fluency 1e6 -> head; (b,z) drops
        (11, "z q", "en"),      # no known transition -> NO row
        (12, "b c b c", "en"),  # (b,c) twice seen, (c,b) unseen -> 500_000 middle
        (13, "a b", "fr"),      # language absent from the model -> NO row
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _key(df):
    return sorted(
        (r.doc_id, r.lang, r.fluency_e6, r.bucket, r.cls_score_e6, r.label)
        for r in df.collect()
    )


def test_frozen_model_scoring_rules(spark, base, batch):
    got = {
        r.doc_id: r for r in ccnet_score(batch, ccnet_model(base)).collect()
    }
    assert (got[10].fluency_e6, got[10].bucket) == (1_000_000, "head")
    assert (got[12].fluency_e6, got[12].bucket) == (500_000, "middle")
    assert 11 not in got and 13 not in got and len(got) == 2


def test_merged_equals_one_shot_under_frozen_model(spark, base, batch, tmp_path):
    root = str(tmp_path / "q")
    quality_stream_init(base, root)
    make_quality_batch_processor(root)(batch, 0)
    got = _key(quality_scores_merged(spark, root))
    want = _key(_score(base.unionByName(batch), ccnet_model(base)))
    assert got == want and len(got) == 4  # d0 d1 d10 d12


def test_replay_exactly_once_and_compact(spark, base, batch, tmp_path):
    root = str(tmp_path / "q")
    quality_stream_init(base, root)
    proc = make_quality_batch_processor(root)
    proc(batch, 0)
    once = _key(quality_scores_merged(spark, root))
    proc(batch, 0)  # crash replay
    assert _key(quality_scores_merged(spark, root)) == once
    quality_compact(spark, root)
    assert _key(quality_scores_merged(spark, root)) == once
    quality_compact(spark, root)  # idempotent when nothing to fold
    assert _key(quality_scores_merged(spark, root)) == once
    proc(batch, 0)  # replay of the already-FOLDED batch (post-compact
    # crash window): the fold watermark must make it a no-op —
    # without it every replayed score row would appear twice
    assert _key(quality_scores_merged(spark, root)) == once
