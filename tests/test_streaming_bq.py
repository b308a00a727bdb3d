"""Streaming binary-quantization maintenance: the quantizer (SRP
hyperplanes) is a contract constant, so merged == one-shot holds with no
frozen-state seam at all; replays must be exactly-once (partition
overwrite) and compaction must not change any ranking."""

import os

from pdf_extraction_and_query_spark.operators.bq import bq_topk
from pdf_extraction_and_query_spark.streaming.bq import (
    bq_stream_compact,
    bq_stream_init,
    bq_topk_merged,
    make_bq_batch_processor,
)
from pdf_extraction_and_query_spark.streaming import deltaindex as DX

SF = "/root/testdata/sf0.001"


def _split(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cut = emb.count() - 100
    return emb, emb.where(f"vec_id < {cut}"), emb.where(f"vec_id >= {cut}")


def _key(df):
    return sorted(
        (r.rank, r.vec_id, r.hamming, r.dot_e12) for r in df.collect()
    )


def test_merged_equals_one_shot(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "bq")
    bq_stream_init(base, root)
    make_bq_batch_processor(root)(batch, 0)
    got = _key(bq_topk_merged(spark, emb, root))
    want = _key(bq_topk(emb))
    assert got == want and got


def test_replay_exactly_once_and_compact(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "bq")
    bq_stream_init(base, root)
    proc = make_bq_batch_processor(root)
    proc(batch, 0)
    once = _key(bq_topk_merged(spark, emb, root))
    proc(batch, 0)  # crash replay
    assert _key(bq_topk_merged(spark, emb, root)) == once
    bq_stream_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert _key(bq_topk_merged(spark, emb, root)) == once
    bq_stream_compact(spark, root)  # idempotent when nothing to fold
    proc(batch, 0)  # replay after compact: below the watermark, ignored
    assert _key(bq_topk_merged(spark, emb, root)) == once
    assert DX.read_merged(spark, root, ["vec_id"]).count() == emb.count()
