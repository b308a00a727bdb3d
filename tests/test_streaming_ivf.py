"""Streaming IVF maintenance: incremental inserts against frozen centroids
must reproduce the one-shot index exactly, replays must be exactly-once,
and compaction must not change any ranking."""

from pdf_extraction_and_query_spark.operators.search import ivf_topk
from pdf_extraction_and_query_spark.streaming.ivf import (
    ivf_compact,
    ivf_stream_init,
    ivf_topk_merged,
    make_ivf_batch_processor,
)
from pdf_extraction_and_query_spark.streaming import deltaindex as DX

import os

SF = "/root/testdata/sf0.001"


def _split(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    cut = n - 100  # the streamed batch is the 100 HIGHEST vec_ids, so the
    # base holds the first IVF_CENTROIDS vectors and the frozen centroids
    # equal the full-corpus centroids — merged must == one-shot ivf_topk
    base = emb.where(f"vec_id < {cut}")
    batch = emb.where(f"vec_id >= {cut}")
    return emb, base, batch


def test_merged_equals_one_shot_index(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "ivf")
    ivf_stream_init(base, root)
    make_ivf_batch_processor(root)(batch, 0)
    got = sorted(map(tuple, ivf_topk_merged(spark, root).collect()))
    want = sorted(map(tuple, ivf_topk(emb).collect()))
    assert got == want and got


def test_replay_exactly_once_and_compact(spark, tmp_path):
    emb, base, batch = _split(spark)
    root = str(tmp_path / "ivf")
    ivf_stream_init(base, root)
    proc = make_ivf_batch_processor(root)
    proc(batch, 0)
    once = sorted(map(tuple, ivf_topk_merged(spark, root).collect()))
    proc(batch, 0)  # crash replay
    assert sorted(map(tuple, ivf_topk_merged(spark, root).collect())) == once
    ivf_compact(spark, root)
    assert not os.path.exists(f"{root}/delta/batch_id=0")
    assert sorted(map(tuple, ivf_topk_merged(spark, root).collect())) == once
    ivf_compact(spark, root)  # idempotent when nothing to fold
    proc(batch, 0)  # replay after compact: below the watermark, ignored
    assert sorted(map(tuple, ivf_topk_merged(spark, root).collect())) == once
    assert DX.read_merged(spark, root, ["vec_id"]).count() == emb.count()


def test_hybrid_rrf_prebuilt_fuses_component_lists(spark, tmp_path):
    """Fully-prebuilt hybrid: both retrievers run on their persisted
    indexes; fusion must equal a Python RRF of the two component lists."""
    from pdf_extraction_and_query_spark import contract as C
    from pdf_extraction_and_query_spark.operators.fulltext import (
        bm25_topk_prebuilt,
        fts_build,
        hybrid_rrf_prebuilt,
    )
    from pdf_extraction_and_query_spark.operators.search import (
        ivf_build,
        ivf_topk_prebuilt,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ivf_path = str(tmp_path / "ivf_idx")
    fts_path = str(tmp_path / "fts_idx")
    ivf_build(emb, ivf_path)
    fts_build(docs, fts_path)

    got = {
        r.doc_id: (r.vec_rank, r.kw_rank, r.rrf_e6, r.rank)
        for r in hybrid_rrf_prebuilt(spark, emb, ivf_path, fts_path).collect()
    }
    vec = {
        r.vec_id: r.rank
        for r in ivf_topk_prebuilt(spark, emb, ivf_path, k=C.HYBRID_POOL).collect()
    }
    kw = {
        r.doc_id: r.rank
        for r in bm25_topk_prebuilt(
            spark, fts_path, queries={0: C.FTS_QUERIES[0]}, k=C.HYBRID_POOL
        ).collect()
    }
    scores = {
        i: (1_000_000 // (C.RRF_K + vec[i]) if i in vec else 0)
        + (1_000_000 // (C.RRF_K + kw[i]) if i in kw else 0)
        for i in set(vec) | set(kw)
    }
    want_order = sorted(scores, key=lambda i: (-scores[i], i))[: C.TOPK]
    assert sorted(got) == sorted(want_order)
    for rank, i in enumerate(want_order, 1):
        assert got[i] == (vec.get(i, 0), kw.get(i, 0), scores[i], rank)


def _index_partition_filters(df, schema_marker):
    """PartitionFilters of every index scan (the FileScans whose
    ReadSchema carries ``schema_marker``) in the executed plan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.search(r"PartitionFilters: (.*?), PushedFilters", line).group(1)
        for line in plan.splitlines()
        if "FileScan" in line and schema_marker in line
    ]


def test_merged_scans_only_probed_partitions(spark, tmp_path):
    """Base and delta scans both prune to the probed cent_id partition
    directories (the ivf_topk_prebuilt pin in test_ivf_index, on the
    merged reader)."""
    emb, base, batch = _split(spark)
    root = str(tmp_path / "ivf")
    ivf_stream_init(base, root)
    make_ivf_batch_processor(root)(batch, 0)
    pfs = _index_partition_filters(ivf_topk_merged(spark, root), "ev:array")
    assert len(pfs) == 2, pfs  # base + delta
    assert all("cent_id" in pf for pf in pfs), pfs
