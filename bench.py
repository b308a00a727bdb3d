#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <sec>, "unit": "sec", "queries": {name: sec},
   "sf": ..., ...extras}

ARTIFACT-SIZE CONTRACT (round 4): the driver records only the LAST 2000
characters of this script's output and json-parses the JSON line found
there.  Round 3's line grew past 2000 chars and the official artifact
recorded ``parsed: null`` — so the printed line is now guaranteed
< _MAX_LINE chars (low-signal query entries are trimmed first, in a fixed
order), the FULL result (per-query medians, every extra) is written to
``data/bench_full.json``, and Spark's console progress bars are disabled
for the session so nothing competes with the JSON line for tail space.

CALIBRATION (round 4): the round-3 official skewed number (1,253 docs/s)
contradicted three calm-box measurements of identical code (3.8-6.6k
docs/s); BENCH.md documents 12-161 s swings of the same call on this
shared VM.  The artifact now carries its own noise denominator: a fixed
single-core numpy probe (``cal_ms_*``) interleaved with every query's
timed passes (per query: ``query_cal_ms`` in data/bench_full.json).
``cal_ms_best`` is the box's quiet-floor; ``cal_ms_med`` >>
``cal_ms_best`` means the run was contended and every wall-clock number
in the same JSON line is inflated by roughly that ratio.  The probe is
pure CPU (no Spark, no IO) so it cannot flatter the engine.

Methodology: every measured query gets ONE full warmup pass (python-worker
spawn + whole-stage codegen + page-cache fill happen there) followed by
$SPARK_GRAFT_BENCH_REPS (default 3) timed passes; the reported number is
the BEST of the timed passes (medians in data/bench_full.json).

Headline = the staged span-extraction pipeline (derive interleaved span
corpus from documents.parquet -> explode/boilerplate/reconstruct/chunk/
interleave). Extras report docs/sec, the fused/staged/routed comparisons,
and the skewed synthetic-corpus north-rule number; the N-vs-4N
scaling-efficiency evidence lives in scripts/scaling_bench.py (results
recorded in BASELINE.md / BENCH.md).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# hard ceiling for the printed JSON line (driver tail buffer is 2000)
_MAX_LINE = 1800

# entries dropped FIRST (in order) if the compact line would overflow —
# cheap, round-stable pure-SQL queries whose numbers live on in
# data/bench_full.json either way
_TRIM_ORDER = [
    "c4_clean",
    "exact_sample",
    "curriculum_order",
    "langid_confusion",
    "corpus_datacard",
    "mrl_recall",
    "vocab_growth",
    "kcenter_coreset",
    "unimax_alloc",
    "pad_efficiency",
    "split_leakage_stats",
    "c4_line_stats",
    "event_interarrival",
    "quality_agreement",
    "readability",
    "isotropy_report",
    "minhash_est_audit",
    "ivfbq_topk",
    "winnow_source_matrix",
    "label_separation",
    "epoch_shuffle",
    "kn_continuation",
    "retrieval_ndcg",
    "theta_source_overlap",
    "shuffle_skew_report",
    "bq_topk",
    "bitext_margin_pairs",
    "triplet_mining",
    "hard_negatives",
    "token_fertility",
    "media_pairs",
    "rollup_anomalies",
    "session_attribution",
    "rollup_cascade",
    "media_refs",
    "events_asof",
    "event_funnel",
    "retention_cohorts",
    "value_quantiles",
    "mmr_topk",
    "mmr_topk_multi",
    "knn_classify",
    "knn_dedup_clusters",
    "ivf_stats",
    "cluster_topics",
    "fts_phrase_topk",
    "tfidf_topk_terms",
    "link_hits",
    "source_quality_report",
    "curation_funnel",
    "cms_heavy_hitters",
    "hll_vocab",
    "bloom_contamination",
    "winnow_matches",
    "gopher_verdict",
    "retrieval_eval",
    "bpe_token_counts",
    "quality_classify",
    "ccnet_buckets",
    "token_counts",
    "kmeans_centroids",
    "frontier_schedule",
    "lang_id",
    "fingerprint",
    "clean_text",
    "text_quality",
    "stratified_sample",
    "shard_pack",
    "exact_dedup",
    "stub_embed",
    "doc_meta",
    "page_text_map",
    "doc_listing",
    "similarity_buckets",
    "eval_by_category",
    "search_response",
    "topk_enriched",
    "crawl_corpus",
    "html_extract",
    "anchor_text_agg",
]

_MEDIANS: dict[str, float] = {}
_CAL_MS: list[float] = []
# per-query interleaved calibration windows: the denominator that
# distinguishes "the engine regressed" from "the box was warm"
_QUERY_CAL: dict[str, list[float]] = {}


def cal_probe() -> float:
    """Fixed single-core CPU workload, ~40-80 ms on a quiet core: int64
    elementwise pass + float64 matmul (the two instruction mixes the
    engine's hot paths use).  Pure numpy, no Spark — measures the BOX,
    not the plan."""
    a = np.arange(2_000_000, dtype=np.int64)
    m = np.linspace(0.0, 1.0, 256 * 256, dtype=np.float64).reshape(256, 256)
    t0 = time.monotonic()
    acc = 0
    for _ in range(4):
        acc ^= int((a * 1103515245 + 12345).sum())
        m = m @ m % 1.0 + 1e-9
    ms = (time.monotonic() - t0) * 1000.0
    _CAL_MS.append(ms)
    return ms


def bench(fn, name: str, reps: int | None = None) -> tuple[float, int]:
    """Warmup pass + reps (default $SPARK_GRAFT_BENCH_REPS) timed passes,
    each preceded (and the last followed) by a CPU calibration probe;
    returns (best_sec, rows).  The per-query MEDIAN and calibration window
    are recorded for data/bench_full.json (the best-vs-median spread is
    the VM-noise indicator, the window its denominator)."""
    rows = fn()  # warmup: full pass, not limit() — see PLANS.md / memory trap 5
    times = []
    cals = []
    for _ in range(reps or REPS):
        cals.append(cal_probe())
        t0 = time.monotonic()
        rows = fn()
        times.append(time.monotonic() - t0)
    cals.append(cal_probe())
    _QUERY_CAL[name] = [round(c, 1) for c in cals]
    times.sort()
    _MEDIANS[name] = round(times[len(times) // 2], 3)
    return times[0], rows


def _emit(compact: dict, full: dict) -> None:
    """Write the full artifact to data/bench_full.json, then print the
    compact line, trimming low-signal query entries until it fits the
    driver's 2000-char tail buffer."""
    data_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
    os.makedirs(data_dir, exist_ok=True)
    with open(os.path.join(data_dir, "bench_full.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    line = json.dumps(compact)
    trim = list(_TRIM_ORDER)
    while len(line) > _MAX_LINE and trim:
        compact["queries"].pop(trim.pop(0), None)
        line = json.dumps(compact)
    print(line)


def main() -> None:
    cal_probe()  # box state at run start
    from pdf_extraction_and_query_spark.sources.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    from pdf_extraction_and_query_spark.operators import fulltext as FT
    from pdf_extraction_and_query_spark.operators import pq as PQ
    from pdf_extraction_and_query_spark.plans.extract import (
        extract_spans,
        write_spans_routed,
    )
    from pdf_extraction_and_query_spark.plans.registry import QUERIES
    from pdf_extraction_and_query_spark.sources.corpus import (
        spans_table_from_documents,
    )

    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    # materialize the derived span corpus ONCE per pass (at real scale the
    # input IS a table; deriving it inline would be recomputed by every DAG
    # consumer).  Each rep writes a fresh directory so the write is real.
    tmp_root = tempfile.mkdtemp()
    paths: list[str] = []

    def derive() -> int:
        path = f"{tmp_root}/spans_{len(paths)}.parquet"
        spans_table_from_documents(spark, SF_DIR).write.parquet(path)
        paths.append(path)
        return 0

    derive_sec, _ = bench(derive, name="derive_spans")
    spans = spark.read.parquet(paths[-1])

    hybrid_sec, hybrid_rows = bench(lambda: extract_spans(spans, mode="hybrid").count(), name="extract_hybrid")
    staged_sec, staged_rows = bench(lambda: extract_spans(spans, mode="staged").count(), name="extract_staged")
    fused_sec, fused_rows = bench(lambda: extract_spans(spans, mode="fused").count(), name="extract_fused")

    # the production storage shape: is_whale partition routing — each branch
    # scan partition-pruned, whale-free corpora run zero whale tasks
    # (plans/extract.py write_spans_routed; plan pruning asserted in
    # tests/test_partitioned_routing.py). Build untimed, measure the read.
    routed_path = f"{tmp_root}/spans_routed.parquet"
    write_spans_routed(spans, routed_path)
    routed_sec, routed_rows = bench(
        lambda: extract_spans(spark.read.parquet(routed_path), mode="hybrid").count(),
        name="extract_routed",
    )

    query_times: dict[str, float] = {
        "derive_spans": round(derive_sec, 2),
        "extract_hybrid": round(hybrid_sec, 2),
        "extract_staged": round(staged_sec, 2),
        "extract_fused": round(fused_sec, 2),
        "extract_routed": round(routed_sec, 2),
    }

    # the skewed synthetic span corpus (1-page memos .. 400-page reports —
    # the north-rule workload; see BENCH.md for the full scaling study)
    synth_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", "bench_synth_25600.parquet"
    )
    if not os.path.exists(synth_path):
        from pdf_extraction_and_query_spark.sources.corpus import synth_docs_df

        synth_docs_df(spark, 25600, seed=42).write.parquet(synth_path)
    synth = spark.read.parquet(synth_path)
    n_synth = synth.count()
    # the north-rule headline workload gets extra reps: this VM's noise
    # floor is wider than the 4-5 s the pass takes
    synth_sec, synth_rows = bench(
        lambda: extract_spans(synth, mode="hybrid").count(),
        reps=max(REPS, 5),
        name="extract_hybrid_synth_skewed",
    )
    query_times["extract_hybrid_synth_skewed"] = round(synth_sec, 2)

    # skewed corpus through the routed storage shape (build untimed)
    synth_routed = f"{tmp_root}/synth_routed.parquet"
    write_spans_routed(synth, synth_routed)
    synth_routed_sec, synth_routed_rows = bench(
        lambda: extract_spans(spark.read.parquet(synth_routed), mode="hybrid").count(),
        reps=max(REPS, 5),
        name="extract_routed_synth_skewed",
    )
    query_times["extract_routed_synth_skewed"] = round(synth_routed_sec, 2)

    for name in (
        "clean_text",
        "token_counts",
        "text_quality",
        "lang_id",
        "fingerprint",
        "exact_dedup",
        "ngram_jaccard",
        "minhash_lsh_pairs",
        "minhash_est_audit",
        "dedup_clusters",
        "simhash",
        "winnow_matches",
        "winnow_source_matrix",
        "shard_pack",
        "epoch_shuffle",
        "pack_sequences",
        "stratified_sample",
        "dsir_sample",
        "curate_corpus_full",
        "curate_corpus_v2",
        "curation_funnel",
        "quality_classify",
        "quality_agreement",
        "ccnet_buckets",
        "lm_fluency",
        "kn_continuation",
        "readability",
        "gopher_verdict",
        "embedding_near_pairs_lsh",
        "stub_embed",
        "repetition_metrics",
        "dup_passage_stats",
        "bm25_topk_multi",
        "fts_phrase_topk",
        "tfidf_topk_terms",
        "hybrid_rrf",
        "vector_topk",
        "vector_topk_multi",
        "hard_negatives",
        "triplet_mining",
        "bitext_margin_pairs",
        "knn_join",
        "knn_classify",
        "knn_dedup_clusters",
        "ivf_stats",
        "mmr_topk",
        "mmr_topk_multi",
        "pq_topk",
        "pq_recall",
        "ivfpq_topk",
        "ivfpq_topk_multi",
        "topk_enriched",
        "similarity_buckets",
        "search_response",
        "eval_by_category",
        "doc_stats",
        "source_quality_report",
        "shuffle_skew_report",
        "events_rollup",
        "events_asof",
        "event_funnel",
        "retention_cohorts",
        "value_quantiles",
        "event_interarrival",
        "session_attribution",
        "rollup_cascade",
        "rollup_anomalies",
        "media_refs",
        "media_pairs",
        "boilerplate_flags",
        "doc_meta",
        "page_text_map",
        "doc_listing",
        "chunk_invariants",
        "html_extract",
        "crawl_corpus",
        "anchor_text_agg",
        "link_pagerank",
        "link_hits",
        "semdedup",
        "sq_topk",
        "bq_topk",
        "ivfbq_topk",
        "kmeans_centroids",
        "cluster_topics",
        "frontier_schedule",
        "bpe_token_counts",
        "token_fertility",
        "retrieval_eval",
        "retrieval_ndcg",
        "label_separation",
        "isotropy_report",
        "cms_heavy_hitters",
        "hll_vocab",
        "theta_source_overlap",
        "bloom_contamination",
        "unimax_alloc",
        "pad_efficiency",
        "split_leakage_stats",
        "c4_line_stats",
        "vocab_growth",
        "kcenter_coreset",
        "mrl_recall",
        "corpus_datacard",
        "langid_confusion",
        "curriculum_order",
        "exact_sample",
        "c4_clean",
    ):
        sec, _ = bench(lambda n=name: QUERIES[n](spark, SF_DIR).count(), name=name)
        query_times[name] = round(sec, 2)

    # prebuilt index probes: build ONCE untimed, measure the SEARCH — the
    # inline pq/ivfpq entries above include per-query build cost by design
    # (round-3 verdict What's-wrong #3 asked for the probe-only numbers)
    from pdf_extraction_and_query_spark.operators import bq as BQ

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pq_path = f"{tmp_root}/pq_index"
    ivfpq_path = f"{tmp_root}/ivfpq_index"
    fts_path = f"{tmp_root}/fts_index"
    bq_path = f"{tmp_root}/bq_index"
    PQ.pq_build(emb, pq_path)
    PQ.ivfpq_build(emb, ivfpq_path)
    FT.fts_build(docs, fts_path)
    BQ.bq_build(emb, bq_path)
    for name, fn in (
        ("pq_topk_prebuilt", lambda: PQ.pq_topk_prebuilt(spark, emb, pq_path).count()),
        ("ivfpq_topk_prebuilt", lambda: PQ.ivfpq_topk_prebuilt(spark, emb, ivfpq_path).count()),
        ("bm25_topk_prebuilt", lambda: FT.bm25_topk_prebuilt(spark, fts_path).count()),
        ("bq_topk_prebuilt", lambda: BQ.bq_topk_prebuilt(spark, emb, bq_path).count()),
    ):
        sec, _ = bench(fn, name=name)
        query_times[name] = round(sec, 2)

    cal_probe()  # box state at run end
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    cal_sorted = sorted(_CAL_MS)
    compact = {
        "metric": "derive+hybrid span extraction (equality-verified)",
        "value": round(derive_sec + hybrid_sec, 3),
        "unit": "sec",
        "queries": query_times,
        "sf": sf_val,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / (derive_sec + hybrid_sec), 1),
        "docs_per_sec_fused": round(n_docs / fused_sec, 1),
        "docs_per_sec_staged": round(n_docs / staged_sec, 1),
        "out_rows": hybrid_rows,
        "modes_agree": hybrid_rows == staged_rows == fused_rows == routed_rows,
        "synth_skewed_n_docs": n_synth,
        "synth_skewed_docs_per_sec": round(n_synth / synth_sec, 1),
        "synth_skewed_routed_docs_per_sec": round(n_synth / synth_routed_sec, 1),
        "synth_skewed_out_rows": synth_rows,
        "cal_ms_best": round(cal_sorted[0], 1),
        "cal_ms_med": round(cal_sorted[len(cal_sorted) // 2], 1),
        "cpus": CPUS,
        "reps": REPS,
    }
    full = dict(compact)
    full["queries"] = dict(query_times)  # never trimmed
    full["docs_per_sec_extract_only"] = round(n_docs / hybrid_sec, 1)
    full["docs_per_sec_routed"] = round(n_docs / routed_sec, 1)
    full["synth_skewed_routed_out_rows"] = synth_routed_rows
    full["queries_median"] = _MEDIANS
    full["cal_ms_all"] = [round(x, 1) for x in _CAL_MS]
    full["query_cal_ms"] = _QUERY_CAL
    full["methodology"] = (
        "best-of-%d after 1 full warmup pass per query (skewed workloads "
        "best-of-%d), every timed pass after a CPU calibration probe"
        % (REPS, max(REPS, 5))
    )
    spark.stop()
    _emit(compact, full)


if __name__ == "__main__":
    main()
