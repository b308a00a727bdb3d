"""Streaming kNN-graph maintenance: the maintained graph must equal the
one-shot knn_join over everything ingested (including RETROACTIVE edges —
a streamed-in vector displacing an old query's neighbor), replays must be
exactly-once, and compaction must preserve every ranking."""

import os

from pdf_extraction_and_query_spark.operators.search import knn_join
from pdf_extraction_and_query_spark.streaming.knn import (
    knn_compact,
    knn_graph_merged,
    knn_stream_init,
    make_knn_batch_processor,
)

SF = "/root/testdata/sf0.001"


def _split(spark, cuts=(400,)):
    """Base = low vec_ids (so the frozen centroids equal the one-shot
    corpus centroids), then one streamed batch per cut range."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    lo = [0] + list(cuts)
    hi = list(cuts) + [1 << 60]
    base = emb.where(f"vec_id < {cuts[0]}")
    batches = [
        emb.where(f"vec_id >= {a} and vec_id < {b}")
        for a, b in zip(lo[1:], hi[1:])
    ]
    return emb, base, batches


def _graph(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot_graph(spark, tmp_path):
    emb, base, (batch,) = _split(spark)
    root = str(tmp_path / "knn")
    knn_stream_init(base, root)
    make_knn_batch_processor(root)(batch, 0)
    got = _graph(knn_graph_merged(spark, root))
    want = _graph(knn_join(emb))
    assert got == want and got


def test_retroactive_edges_actually_fire(spark, tmp_path):
    """The streamed batch must displace at least one OLD query's old
    neighbor — otherwise the retroactive branch is untested dead code.
    Deterministic fixture → deterministic displacement count."""
    emb, base, (batch,) = _split(spark)
    root = str(tmp_path / "knn")
    knn_stream_init(base, root)
    before = {
        (r.q_id, r.rank): r.nb_id for r in knn_graph_merged(spark, root).collect()
    }
    make_knn_batch_processor(root)(batch, 0)
    after = {
        (r.q_id, r.rank): r.nb_id for r in knn_graph_merged(spark, root).collect()
    }
    new_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    old_queries_with_new_neighbor = {
        q
        for (q, _), nb in after.items()
        if q not in new_ids and nb in new_ids
    }
    assert old_queries_with_new_neighbor, "no retroactive edge fired"
    # and those old queries' lists genuinely changed
    changed = {
        q
        for (q, rank), nb in after.items()
        if q not in new_ids and before.get((q, rank)) != nb
    }
    assert old_queries_with_new_neighbor <= changed


def test_two_batches_replay_and_compact(spark, tmp_path):
    emb, base, batches = _split(spark, cuts=(350, 425))
    root = str(tmp_path / "knn")
    knn_stream_init(base, root)
    proc = make_knn_batch_processor(root)
    proc(batches[0], 0)
    proc(batches[1], 1)
    want = _graph(knn_join(emb))
    once = _graph(knn_graph_merged(spark, root))
    assert once == want

    proc(batches[1], 1)  # crash replay of the last batch
    assert _graph(knn_graph_merged(spark, root)) == once

    knn_compact(spark, root)
    for bid in (0, 1):
        assert not os.path.exists(f"{root}/assign/delta/batch_id={bid}")
        assert not os.path.exists(f"{root}/edges/delta/batch_id={bid}")
    assert _graph(knn_graph_merged(spark, root)) == once
    knn_compact(spark, root)  # idempotent when nothing to fold
    assert _graph(knn_graph_merged(spark, root)) == once
    proc(batches[0], 0)  # replay after compact: below both watermarks
    assert _graph(knn_graph_merged(spark, root)) == once


def test_classify_merged_equals_one_shot(spark, tmp_path):
    """Live weak-supervision labeling over the maintained index: the
    merged classify must equal one-shot knn_classify over everything
    ingested — including RETROACTIVE seed effects (streamed-in seeds
    join old queries' candidate lists through the delta assignment)."""
    from pdf_extraction_and_query_spark.operators.search import knn_classify
    from pdf_extraction_and_query_spark.streaming.knn import knn_classify_merged

    emb, base, (batch,) = _split(spark)
    root = str(tmp_path / "knn")
    knn_stream_init(base, root)
    make_knn_batch_processor(root)(batch, 0)

    labels = emb.select("vec_id", "label")
    got = sorted(map(tuple, knn_classify_merged(spark, root, labels).collect()))
    want = sorted(map(tuple, knn_classify(emb).collect()))
    assert got == want and got

    # the streamed batch contains seeds (vec_id % KNN_SEED_MOD == 0 among
    # 400..499), and at least one OLD query's prediction row must differ
    # from classify-over-base-only — the retroactive seed path is live
    base_only = {
        r.vec_id: (r.pred_label, r.n_votes)
        for r in knn_classify(base).collect()
    }
    merged = {r.vec_id: (r.pred_label, r.n_votes) for r in got_rows(got)}
    changed = {
        v for v, p in merged.items() if v in base_only and base_only[v] != p
    }
    assert changed, "no old query's vote changed after the seed batch"


def got_rows(rows):
    class R:
        def __init__(self, t):
            self.vec_id, self.pred_label, self.n_votes = t[0], t[1], t[2]

    return [R(t) for t in rows]


def test_compact_between_batches_then_more_batches(spark, tmp_path):
    """Fold mid-stream, keep streaming.  Edges folded to k rows/query must still merge exactly
    with later batches' deltas (top-k-over-unions soundness after a
    fold)."""
    emb, base, batches = _split(spark, cuts=(350, 425))
    root = str(tmp_path / "knn")
    knn_stream_init(base, root)
    proc = make_knn_batch_processor(root)
    proc(batches[0], 0)
    knn_compact(spark, root)          # boundary fold mid-stream
    proc(batches[1], 1)
    got = _graph(knn_graph_merged(spark, root))
    assert got == _graph(knn_join(emb)) and got
