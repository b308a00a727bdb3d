"""Streaming PQ maintenance: incremental encodes against the frozen
codebook must reproduce the one-shot quantized search exactly, replays must
be exactly-once, and compaction must not change any ranking."""

import os

from pdf_extraction_and_query_spark.operators.pq import pq_topk
from pdf_extraction_and_query_spark.streaming.pq import (
    make_pq_batch_processor,
    pq_compact,
    pq_stream_init,
    pq_topk_merged,
)
from pdf_extraction_and_query_spark.streaming import deltaindex as DX

SF = "/root/testdata/sf0.001"


def _split(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    cut = n - 100  # the streamed batch is the 100 HIGHEST vec_ids, so the
    # base holds the first PQ_K vectors and the frozen codebook equals the
    # full-corpus codebook — merged must == one-shot pq_topk
    base = emb.where(f"vec_id < {cut}")
    batch = emb.where(f"vec_id >= {cut}")
    return emb, base, batch


def test_merged_equals_one_shot_quantized_search(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "pq")
    pq_stream_init(base, root)
    make_pq_batch_processor(root)(batch, 0)
    got = sorted(map(tuple, pq_topk_merged(spark, emb, root).collect()))
    want = sorted(map(tuple, pq_topk(emb).collect()))
    assert got == want and got


def test_replay_exactly_once_and_compact(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "pq")
    pq_stream_init(base, root)
    proc = make_pq_batch_processor(root)
    proc(batch, 0)
    once = sorted(map(tuple, pq_topk_merged(spark, emb, root).collect()))
    proc(batch, 0)  # crash replay
    assert sorted(map(tuple, pq_topk_merged(spark, emb, root).collect())) == once
    pq_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert sorted(map(tuple, pq_topk_merged(spark, emb, root).collect())) == once
    pq_compact(spark, root)  # idempotent when nothing to fold
    proc(batch, 0)  # replay after compact: below the watermark, ignored
    assert sorted(map(tuple, pq_topk_merged(spark, emb, root).collect())) == once
    assert DX.read_merged(spark, root, ["vec_id"]).count() == emb.count()


def test_ivfpq_merged_equals_one_shot_and_replay(spark, tmp_path):
    """Streaming IVFADC: frozen-centroid assignment + frozen-codebook
    encode per batch must reproduce the one-shot ivfpq_topk exactly; replay
    is exactly-once; compaction preserves every ranking."""
    from pdf_extraction_and_query_spark.operators.pq import ivfpq_topk
    from pdf_extraction_and_query_spark.streaming.pq import (
        ivfpq_compact,
        ivfpq_stream_init,
        ivfpq_topk_merged,
        make_ivfpq_batch_processor,
    )

    emb, base, batch = _split(spark)
    root = str(tmp_path / "ivfpq")
    ivfpq_stream_init(base, root)
    proc = make_ivfpq_batch_processor(root)
    proc(batch, 0)
    got = sorted(map(tuple, ivfpq_topk_merged(spark, emb, root).collect()))
    want = sorted(map(tuple, ivfpq_topk(emb).collect()))
    assert got == want and got
    proc(batch, 0)  # crash replay
    assert sorted(map(tuple, ivfpq_topk_merged(spark, emb, root).collect())) == got
    ivfpq_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert sorted(map(tuple, ivfpq_topk_merged(spark, emb, root).collect())) == got
    proc(batch, 0)  # replay after compact: below the watermark, ignored
    assert sorted(map(tuple, ivfpq_topk_merged(spark, emb, root).collect())) == got
    merged = DX.read_merged(
        spark, (f"{root}/codes", f"{root}/delta"), ["vec_id"]
    )
    assert merged.count() == emb.count()


def test_ivfpq_merged_scans_only_probed_partitions(spark, tmp_path):
    """Base and delta code scans both prune to the probed cent_id
    partition directories (the ivfpq_topk_prebuilt pin in test_pq_index,
    on the merged reader)."""
    from pdf_extraction_and_query_spark.streaming.pq import (
        ivfpq_stream_init,
        ivfpq_topk_merged,
        make_ivfpq_batch_processor,
    )
    from tests.test_streaming_ivf import _index_partition_filters

    emb, base, batch = _split(spark)
    root = str(tmp_path / "ivfpq")
    ivfpq_stream_init(base, root)
    make_ivfpq_batch_processor(root)(batch, 0)
    got = ivfpq_topk_merged(spark, emb, root)
    pfs = _index_partition_filters(got, "codes:array")
    assert len(pfs) == 2, pfs  # base + delta
    assert all("cent_id" in pf for pf in pfs), pfs
