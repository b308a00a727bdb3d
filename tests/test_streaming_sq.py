"""Streaming SQ8 maintenance: incremental encodes against the FROZEN
per-dimension bounds must reproduce the one-shot search under the same
frozen quantizer, replays must be exactly-once, and compaction must not
change any ranking.  (The frozen-bounds seam semantics itself — negative /
>SQ_LEVELS extrapolated codes staying exact under the affine score — is
pinned in tests/test_sq.py::test_frozen_bounds_seam.)"""

import os

from pdf_extraction_and_query_spark.operators.sq import sq_bounds_np, sq_topk
from pdf_extraction_and_query_spark.streaming.sq import (
    make_sq_batch_processor,
    sq_compact,
    sq_stream_init,
    sq_topk_merged,
)
from pdf_extraction_and_query_spark.streaming import deltaindex as DX

SF = "/root/testdata/sf0.001"


def _split(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cut = emb.count() - 100  # streamed tail: 100 highest vec_ids — several
    # exceed the base's per-dim bounds, so the extrapolating-code path is
    # exercised, not just the in-range one
    return emb, emb.where(f"vec_id < {cut}"), emb.where(f"vec_id >= {cut}")


def _key(df):
    return sorted((r.rank, r.vec_id, r.dot_e12) for r in df.collect())


def test_merged_equals_one_shot_under_frozen_bounds(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "sq")
    sq_stream_init(base, root)
    make_sq_batch_processor(root)(batch, 0)
    got = _key(sq_topk_merged(spark, emb, root))
    want = _key(sq_topk(emb, bounds=sq_bounds_np(base)))
    assert got == want and got


def test_replay_exactly_once_and_compact(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "sq")
    sq_stream_init(base, root)
    proc = make_sq_batch_processor(root)
    proc(batch, 0)
    once = _key(sq_topk_merged(spark, emb, root))
    proc(batch, 0)  # crash replay
    assert _key(sq_topk_merged(spark, emb, root)) == once
    sq_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert _key(sq_topk_merged(spark, emb, root)) == once
    sq_compact(spark, root)  # idempotent when nothing to fold
    proc(batch, 0)  # replay after compact: below the watermark, ignored
    assert _key(sq_topk_merged(spark, emb, root)) == once
    assert DX.read_merged(spark, root, ["vec_id"]).count() == emb.count()
