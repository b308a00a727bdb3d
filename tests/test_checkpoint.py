"""Kill/resume contract for the checkpointed extraction job:

  * run 1 is killed after one wave (max_waves=1) — the ledger records only
    that wave's buckets;
  * run 2 resumes: skips exactly the completed buckets, finishes the rest;
  * final output == a straight-through (non-checkpointed) extraction;
  * run 3 is a no-op (everything done);
  * ledger carries per-bucket lineage metrics (n_docs / span counts sum to
    the corpus totals).
"""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig
from pdf_extraction_and_query_spark.plans.checkpoint import (
    completed_buckets,
    read_ledger,
    run_checkpointed,
)
from pdf_extraction_and_query_spark.plans.extract import extract_spans
from pdf_extraction_and_query_spark.sources.corpus import docs_to_df, synth_docs

CFG = ExtractConfig(max_chunk_size=400, chunk_overlap=80)
N_BUCKETS = 8
JOB = "ckpt-test"


@pytest.fixture(scope="module")
def spans_df(spark):
    return docs_to_df(spark, synth_docs(30, seed=7))


def _spanset(df):
    return {
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in df.select("doc_id", "order", "kind", "text", "media_ref").collect()
    }


def test_kill_resume_roundtrip(spark, spans_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("ckpt")
    out_dir, ledger_dir = str(base / "out"), str(base / "ledger")

    r1 = run_checkpointed(
        spark, spans_df, out_dir, ledger_dir, JOB,
        n_buckets=N_BUCKETS, buckets_per_wave=3, max_waves=1, cfg=CFG,
    )
    assert r1.waves_run == 1 and len(r1.processed_buckets) == 3
    assert completed_buckets(spark, ledger_dir, JOB) == sorted(r1.processed_buckets)

    r2 = run_checkpointed(
        spark, spans_df, out_dir, ledger_dir, JOB,
        n_buckets=N_BUCKETS, buckets_per_wave=3, cfg=CFG,
    )
    assert sorted(r2.skipped_buckets) == sorted(r1.processed_buckets)
    assert sorted(r1.processed_buckets + r2.processed_buckets) == list(range(N_BUCKETS))

    expected = _spanset(extract_spans(spans_df, CFG, mode="staged"))
    got = _spanset(spark.read.parquet(out_dir))
    assert got == expected

    r3 = run_checkpointed(
        spark, spans_df, out_dir, ledger_dir, JOB,
        n_buckets=N_BUCKETS, buckets_per_wave=3, cfg=CFG,
    )
    assert r3.processed_buckets == [] and r3.waves_run == 0

    led = read_ledger(spark, ledger_dir).where(F.col("job_id") == JOB)
    assert led.count() == N_BUCKETS  # one done row per bucket, no dupes
    totals = led.agg(
        F.sum("n_docs").alias("docs"), F.sum("n_out_spans").alias("spans")
    ).collect()[0]
    assert totals["spans"] == len(expected)
    assert totals["docs"] == spark.read.parquet(out_dir).select("doc_id").distinct().count()


def test_sink_layout_one_file_per_bucket(spark, spans_df, tmp_path_factory):
    """Round-5 sink fix: the wave output is repartition-aligned to the
    bucket directories, so each bucket holds exactly one parquet file —
    not one file per (upstream task x bucket) pair (the small-files
    commit cost that capped the submitted N->4N run)."""
    import glob
    import os

    base = tmp_path_factory.mktemp("ckpt_layout")
    out_dir, ledger_dir = str(base / "out"), str(base / "ledger")
    run_checkpointed(
        spark, spans_df, out_dir, ledger_dir, "layout-job",
        n_buckets=N_BUCKETS, buckets_per_wave=N_BUCKETS, cfg=CFG,
    )
    bucket_dirs = sorted(glob.glob(os.path.join(out_dir, "bucket=*")))
    assert bucket_dirs  # at least one non-empty bucket
    for d in bucket_dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_ledger_rows_match_sink_recount(spark, spans_df, tmp_path_factory):
    """Every ledger row — including the zero rows of buckets no doc hashes
    to — equals a recount of that bucket in the sink."""
    n_buckets = 16
    base = tmp_path_factory.mktemp("ckpt_recount")
    out_dir, ledger_dir = str(base / "out"), str(base / "ledger")
    run_checkpointed(
        spark, spans_df, out_dir, ledger_dir, "recount-job",
        n_buckets=n_buckets, buckets_per_wave=6, cfg=CFG,
    )
    sink = {
        r["bucket"]: (r["d"], r["s"], r["t"], r["m"])
        for r in spark.read.parquet(out_dir)
        .groupBy("bucket")
        .agg(
            F.count_distinct("doc_id").alias("d"),
            F.count("*").alias("s"),
            F.count_if(F.col("kind") == "text").alias("t"),
            F.count_if(F.col("kind") != "text").alias("m"),
        )
        .collect()
    }
    assert 0 < len(sink) < n_buckets  # some buckets are empty
    led = {
        r["bucket"]: (r["n_docs"], r["n_out_spans"], r["n_text_chunks"], r["n_media"])
        for r in read_ledger(spark, ledger_dir).collect()
    }
    assert led == {b: sink.get(b, (0, 0, 0, 0)) for b in range(n_buckets)}


def test_one_wave_job_count(spark, spans_df, tmp_path_factory):
    """The ledger counts ride on the wave's write: no re-read of the sink,
    no wave-frame join. A one-wave run on a fresh ledger starts at most
    this many Spark jobs (the re-read design started more)."""
    base = tmp_path_factory.mktemp("ckpt_jobs")
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-one-wave", "one checkpoint wave")
    try:
        run_checkpointed(
            spark, spans_df, str(base / "out"), str(base / "ledger"), "jobs-job",
            n_buckets=N_BUCKETS, buckets_per_wave=N_BUCKETS, cfg=CFG,
        )
    finally:
        sc.setJobGroup("ckpt-one-wave-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("ckpt-one-wave")
    assert len(jobs) <= 6, sorted(jobs)  # with the sink re-read: 10 hybrid, 13 staged


def test_wave_buckets_get_their_own_writer_task(spark, spans_df, tmp_path_factory):
    """A wave's exchange puts each bucket in the partition of its index in
    the wave, so every bucket is written by its own task and its one file
    carries that task's part number (hashing the buckets of wave [4, 5]
    into 2 partitions put both in one task)."""
    import os

    base = tmp_path_factory.mktemp("ckpt_tasks")
    out_dir, ledger_dir = str(base / "out"), str(base / "ledger")
    for per_wave in (4, 2):  # wave [0, 1, 2, 3], then wave [4, 5]
        run_checkpointed(
            spark, spans_df, out_dir, ledger_dir, "tasks-job",
            n_buckets=N_BUCKETS, buckets_per_wave=per_wave, max_waves=1, cfg=CFG,
        )
    parts = {
        b: sorted(
            f.split("-")[1]
            for f in os.listdir(os.path.join(out_dir, f"bucket={b}"))
            if f.endswith(".parquet")
        )
        for b in (4, 5)
    }
    assert parts == {4: ["00000"], 5: ["00001"]}, parts
