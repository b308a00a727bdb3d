#!/usr/bin/env python
"""Production job entry — the ``spark-submit --py-files`` deployable.

    spark-submit --py-files /path/to/pdf_extraction_and_query_spark.zip \
        scripts/run_extract_job.py \
        --input  <spans table dir> \
        --output <output table dir> \
        --ledger <checkpoint ledger dir> \
        --job-id nightly-extract \
        [--n-buckets 64] [--buckets-per-wave 16]

Build the zip with::

    python -c "from pdf_extraction_and_query_spark.sources.packaging \
               import build_package_zip; print(build_package_zip())"

The job is checkpoint-resumable: rerunning with the same --job-id and
--ledger skips completed buckets (plans/checkpoint.py, hybrid extraction).
On a cluster, pass --master / executor confs to spark-submit as usual; this
script only sets job-level SQL confs.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--job-id", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--buckets-per-wave", type=int, default=16)
    ap.add_argument("--max-chunk-size", type=int, default=1000)
    ap.add_argument("--chunk-overlap", type=int, default=200)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"extract:{args.job_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig
    from pdf_extraction_and_query_spark.plans.checkpoint import run_checkpointed

    cfg = ExtractConfig(
        max_chunk_size=args.max_chunk_size, chunk_overlap=args.chunk_overlap
    )
    import time

    t0 = time.monotonic()
    report = run_checkpointed(
        spark,
        spark.read.parquet(args.input),
        out_dir=args.output,
        ledger_dir=args.ledger,
        job_id=args.job_id,
        n_buckets=args.n_buckets,
        buckets_per_wave=args.buckets_per_wave,
        cfg=cfg,
    )
    print(
        json.dumps(
            {
                "job_id": report.job_id,
                "run_id": report.run_id,
                "skipped_buckets": len(report.skipped_buckets),
                "processed_buckets": len(report.processed_buckets),
                "waves_run": report.waves_run,
                "extract_wall_sec": round(time.monotonic() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
