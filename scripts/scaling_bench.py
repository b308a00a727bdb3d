#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency >=0.8 between N and 4N executors).

No real cluster exists in this sandbox, so per the driver instruction the
same job runs at two parallelism levels — local[N] and local[4N] — on the
SAME deterministic skewed span corpus, and we report throughput at both
plus efficiency = (T_N / T_4N) / 4.

Methodology (each level in its own subprocess = fresh JVM):
  * corpus: synth_docs_df — deterministic, skewed (1-page memos .. 400-page
    reports), generated distributed, written once;
  * per level: one warmup pass (JVM codegen + python worker spawn), then
    ``runs`` timed passes, best-of reported (the sandbox VM shows multi-
    second noise from its host);
  * a pure-CPU calibration burn (no Spark) measures what the box itself
    sustains at each level — reported alongside so job efficiency can be
    read against the hardware ceiling.

Usage: python scripts/scaling_bench.py [--docs 102400] [--n 2] [--runs 3]
                                       [--mode hybrid]
Appends results to BENCH.md and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pdf_extraction_and_query_spark.plans.extract import extract_spans
from pdf_extraction_and_query_spark.sources.packaging import attach_package
if {executors}:
    # real separate executor JVMs: the faithful N-vs-4N-EXECUTOR simulation
    spark = (SparkSession.builder
        .master("local-cluster[{n_exec},{cores_per_exec},4096]")
        .appName("scaling")
        .config("spark.executor.memory", "3g")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    attach_package(spark)
else:
    from pdf_extraction_and_query_spark.sources.session import get_spark
    spark = get_spark(master="local[{cores}]", shuffle_partitions=max({cores}, 32))
spark.sparkContext.setLogLevel("ERROR")
df = spark.read.parquet({corpus!r})
n_docs = df.count()
if {mode!r} == "routed":
    # production table layout: corpus partitioned by is_whale at ingest,
    # both hybrid branches partition-pruned (PLANS.md #10)
    job = lambda: extract_spans(spark.read.parquet({corpus!r}), mode="hybrid").count()
elif {mode!r} == "html":
    # north-rule HTML surface: DOM-heuristic main-content parse over a
    # (doc_id, html) page table — one shuffle-free Arrow stage
    from pdf_extraction_and_query_spark.operators.htmlextract import html_extract
    job = lambda: html_extract(df).count()
else:
    job = lambda: extract_spans(df, mode={mode!r}).count()
job()  # warm: codegen + python workers
best, rows = None, 0
for _ in range({runs}):
    t0 = time.monotonic()
    rows = job()
    w = time.monotonic() - t0
    best = w if best is None else min(best, w)
print(json.dumps({{"cores": {cores}, "executors": {n_exec} if {executors} else None, "wall_sec": round(best, 2),
                  "n_docs": n_docs, "rows": rows,
                  "docs_per_sec": round(n_docs / best, 2)}}))
spark.stop()
"""


def _burn(q):
    t0 = time.monotonic()
    x = 0
    for i in range(40_000_000):
        x += i % 7
    q.put(time.monotonic() - t0)


def cpu_calibration(n_procs: int) -> float:
    """Aggregate relative CPU capacity at n_procs parallel burners
    (loops/sec summed)."""
    q = mp.Queue()
    ps = [mp.Process(target=_burn, args=(q,)) for _ in range(n_procs)]
    [p.start() for p in ps]
    [p.join() for p in ps]
    times = [q.get() for _ in range(n_procs)]
    return sum(1.0 / t for t in times)


def ensure_corpus(n_docs: int, routed: bool = False) -> str:
    path = os.path.join(REPO, "data", f"scaling_corpus_{n_docs}.parquet")
    routed_path = os.path.join(REPO, "data", f"scaling_routed_{n_docs}.parquet")
    want = routed_path if routed else path
    if os.path.exists(want):
        return want
    os.makedirs(os.path.dirname(path), exist_ok=True)
    sys.path.insert(0, REPO)
    from pdf_extraction_and_query_spark.sources.corpus import synth_docs_df
    from pdf_extraction_and_query_spark.sources.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        synth_docs_df(spark, n_docs, seed=42).write.parquet(path)
    if routed:
        from pdf_extraction_and_query_spark.plans.extract import write_spans_routed

        write_spans_routed(spark.read.parquet(path), routed_path)
    spark.stop()
    return want


def ensure_html_corpus(n_pages: int) -> str:
    """Deterministic (doc_id, html) page table: the driver documents table
    replicated to ~n_pages with distinct doc ids, each page generated by
    the arithmetic fixture (sources/htmlcorpus.html_from_text)."""
    path = os.path.join(REPO, "data", f"scaling_html_{n_pages}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from pdf_extraction_and_query_spark.sources.htmlcorpus import (
        html_table_from_texts,
    )
    from pdf_extraction_and_query_spark.sources.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    repl = max(1, n_pages // docs.count())
    base = docs.crossJoin(spark.range(repl).select(F.col("id").alias("rep")))
    wide = base.select(
        F.concat_ws(
            "_", F.col("doc_id").cast("string"), F.col("rep").cast("string")
        ).alias("doc_id"),
        "text",
    ).repartition(64)

    html_table_from_texts(wide).write.parquet(path)
    spark.stop()
    return path


def run_level(
    corpus: str, cores: int, mode: str, runs: int,
    executors: bool = False, cores_per_exec: int = 4,
) -> dict:
    n_exec = max(1, cores // cores_per_exec)
    code = _WORKER.format(
        repo=REPO, cores=cores, corpus=corpus, mode=mode, runs=runs,
        executors=executors, n_exec=n_exec, cores_per_exec=cores_per_exec,
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=102400)
    ap.add_argument("--n", type=int, default=2, help="small parallelism level N")
    ap.add_argument("--mode", default="hybrid")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--executors", action="store_true",
                    help="use local-cluster[N,4,*] (separate executor JVMs) "
                         "instead of local[cores]")
    ap.add_argument("--routed", action="store_true",
                    help="run hybrid over the is_whale-partitioned table "
                         "(production ingest layout)")
    ap.add_argument("--cores-per-exec", type=int, default=4,
                    help="executor size for --executors mode; use 2 to keep "
                         "N and 4N total cores inside this VM's linear "
                         "regime (2-8 busy cores; see BENCH.md curve)")
    args = ap.parse_args()
    if args.routed:
        args.mode = "routed"

    if args.mode == "html":
        corpus = ensure_html_corpus(args.docs)
    else:
        corpus = ensure_corpus(args.docs, routed=args.routed)
    cpe = args.cores_per_exec if args.executors else 1
    cal_lo = cpu_calibration(args.n * cpe)
    cal_hi = cpu_calibration(args.n * 4 * cpe)
    hw_ceiling = (cal_hi / cal_lo) / 4.0

    lo = run_level(corpus, args.n * cpe, args.mode, args.runs,
                   executors=args.executors, cores_per_exec=cpe)
    hi = run_level(corpus, args.n * 4 * cpe, args.mode, args.runs,
                   executors=args.executors, cores_per_exec=cpe)
    assert lo["rows"] == hi["rows"], "same input must give same output rows"

    speedup = lo["wall_sec"] / hi["wall_sec"]
    efficiency = speedup / 4.0
    result = {
        "mode": args.mode,
        "unit": f"executors({cpe} cores each)" if args.executors else "cores",
        "n_docs": lo["n_docs"],
        "out_rows": lo["rows"],
        "levels": [lo, hi],
        "speedup_Nx4": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
        "hw_ceiling_efficiency": round(hw_ceiling, 3),
        "efficiency_vs_hw": round(efficiency / hw_ceiling, 3),
        "meets_0.8": efficiency >= 0.8,
    }
    print(json.dumps(result))

    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(
            f"\n## scaling run (mode={args.mode}, "
            f"{'N vs 4N EXECUTORS via local-cluster, ' if args.executors else ''}"
            f"{lo['n_docs']} docs, "
            f"{lo['rows']} output spans, best of {args.runs})\n\n"
            f"| cores | wall (s) | docs/sec |\n|---|---|---|\n"
            f"| {f'{args.n} executors x{cpe}' if args.executors else f'local[{args.n}]'} | {lo['wall_sec']} | {lo['docs_per_sec']} |\n"
            f"| {f'{args.n * 4} executors x{cpe}' if args.executors else f'local[{args.n * 4}]'} | {hi['wall_sec']} | {hi['docs_per_sec']} |\n\n"
            f"speedup N->4N: **{speedup:.2f}x**; scaling efficiency "
            f"**{efficiency:.3f}** (target >= 0.8). Pure-CPU calibration of "
            f"this box at the same two levels sustains {hw_ceiling:.2f} "
            f"efficiency ceiling; job-vs-hardware ratio "
            f"{efficiency / hw_ceiling:.2f}.\n"
        )


if __name__ == "__main__":
    main()
