"""Storage-level whale routing: write_spans_routed partitions the corpus by
is_whale, and hybrid extraction over that table must route by the flag: both
branches PARTITION-PRUNED scans (no read amplification), no probe job, and
output span-equal to the eager kernel."""

from pyspark.sql import functions as F

from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig, extract_document
from pdf_extraction_and_query_spark.plans.extract import (
    extract_spans,
    write_spans_routed,
)
from pdf_extraction_and_query_spark.sources.corpus import docs_to_df, synth_doc
from tests.test_whale_routing import THRESHOLD, _whale


def _corpus(spark, with_whale=True):
    docs = {f"d{i}": synth_doc(f"d{i}", seed=i) for i in range(6)}
    if with_whale:
        docs["whale"] = _whale("whale", THRESHOLD + 500)
    return docs, docs_to_df(spark, list(docs.items()))


def _eager(docs, cfg):
    out = set()
    for doc_id, spans in docs.items():
        for rec in extract_document(spans, cfg):
            out.add((doc_id, rec["order"], rec["kind"], rec["text"], rec["media_ref"]))
    return out


def test_routed_table_span_equality_and_pruning(spark, tmp_path):
    # no threshold monkeypatch needed: routing is decided at WRITE time
    # (write_spans_routed threshold arg); the read side follows the flag
    cfg = ExtractConfig()
    docs, df = _corpus(spark, with_whale=True)
    path = str(tmp_path / "routed")
    write_spans_routed(df, path, threshold=THRESHOLD)

    # the partition layout is real (two is_whale dirs)
    import os

    parts = {p for p in os.listdir(path) if p.startswith("is_whale=")}
    assert parts == {"is_whale=0", "is_whale=1"}

    out = extract_spans(spark.read.parquet(path), cfg, mode="hybrid")
    got = {
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in out.collect()
    }
    assert got == _eager(docs, cfg)

    # both branch scans must carry a partition filter on is_whale
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters") >= 2
    import re

    pf = re.findall(r"PartitionFilters: \[[^\]]*is_whale[^\]]*\]", plan)
    assert len(pf) >= 2, plan[:2000]


def test_whale_free_corpus_whale_branch_scans_nothing(spark, tmp_path):
    cfg = ExtractConfig()
    docs, df = _corpus(spark, with_whale=False)
    path = str(tmp_path / "routed0")
    write_spans_routed(df, path, threshold=THRESHOLD)

    t = spark.read.parquet(path)
    whale_side = t.where(F.col("is_whale") == 1)
    # partition pruning leaves the whale branch zero files -> zero rows
    # without touching data
    assert whale_side.rdd.getNumPartitions() == 0 or whale_side.isEmpty()

    out = extract_spans(t, cfg, mode="hybrid")
    got = {
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in out.collect()
    }
    assert got == _eager(docs, cfg)


def test_routed_table_plans_without_a_job(spark, tmp_path):
    """The ingest-time flag replaces the in-plan probe: building the hybrid
    plan over a routed table starts no Spark job."""
    _, df = _corpus(spark, with_whale=True)
    path = str(tmp_path / "routed_noprobe")
    write_spans_routed(df, path, threshold=THRESHOLD)
    t = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("routed-plan", "hybrid planning over a routed table")
    try:
        extract_spans(t, ExtractConfig(), mode="hybrid")
    finally:
        sc.setJobGroup("routed-plan-done", "")
    assert list(sc.statusTracker().getJobIdsForGroup("routed-plan")) == []
