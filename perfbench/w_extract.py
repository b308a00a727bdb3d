"""skewed_extract: a warm in-process session runs hybrid extraction of a seeded
skewed span corpus into a one-shot parquet sink.

Loads ``core`` (the eager kernel) and ``operators.extraction.fused_extract``
(Arrow marshaling into the Python workers) through ``plans.extract``;
bypasses checkpoint, ledger, shuffle-heavy operators and JVM start.
"""

from __future__ import annotations

import gc
import time

import common
import inputs

N_DOCS = 2000
CORE_SAMPLE = 120
WARMUP_PASSES = 2
MIN_PASSES = 4


def core_phases(sample, reps: int = 3):
    """Per-doc serial kernel phase times (ms) over a fixed sample, with the
    sample frozen out of the collector. ``reconstruct`` is the self time of
    ``reconstruct_blocks`` (its ``extract_lines`` call subtracted)."""
    from pdf_extraction_and_query_spark.core import boilerplate, docpipe, lines, textclean
    from pdf_extraction_and_query_spark.core.chunker import SectionChunker

    texts = [(s.get("text") or "").strip() for _d, spans in sample for s in spans if s["kind"] == "text"]
    marked = []
    for _d, spans in sample:
        recs = docpipe.reconstruct_blocks(spans)
        by_seg = {}
        for r in recs:
            if r["kind"] == "text":
                by_seg.setdefault(r["seg"], []).append(r)
        marked += [lines.blocks_to_marked_text(b) for b in by_seg.values()]
    cleaned = [textclean.clean(m, validate=False)[0] for m in marked]
    chunker = SectionChunker()

    def each(fn, items):
        t = time.perf_counter()
        for it in items:
            fn(it)
        return time.perf_counter() - t

    phases = {
        "core.extract_lines_ms": lambda: each(lambda d: docpipe.extract_lines(d[1]), sample),
        "core.reconstruct_ms": lambda: each(lambda d: docpipe.reconstruct_blocks(d[1]), sample),
        "core.boilerplate_ms": lambda: each(boilerplate.normalize_line, texts),
        "core.clean_ms": lambda: each(lambda m: textclean.clean(m, validate=False), marked),
        "core.chunk_ms": lambda: each(chunker.chunk, cleaned),
        "core.extract_document_ms": lambda: each(lambda d: docpipe.extract_document(d[1]), sample),
    }
    gc.collect()
    gc.freeze()
    try:
        best = {k: common.median([f() for _ in range(reps)]) for k, f in phases.items()}
    finally:
        gc.unfreeze()
    best["core.reconstruct_ms"] -= best["core.extract_lines_ms"]
    return {k: v * 1000.0 / len(sample) for k, v in best.items()}


def run(ctx):
    from pdf_extraction_and_query_spark.plans.extract import extract_spans

    tr, work = ctx.tracer, ctx.work
    spark = common.start_session(ctx.cpus)
    session_s = time.perf_counter() - ctx.t_start
    ctx.mark("session started")
    tr.sc = spark.sparkContext if ctx.trace else None
    corpus = work.sub("corpus")
    docs = inputs.skewed_corpus(N_DOCS, ctx.seed)
    inputs.write_span_corpus(docs, corpus)
    ctx.mark("corpus written")
    t_kernel = time.perf_counter()
    oracle = inputs.oracle_digests(docs)
    kernel_s = time.perf_counter() - t_kernel
    sample = inputs.seeded_sample(docs, CORE_SAMPLE, ctx.seed)
    del docs
    setup_s = time.perf_counter() - ctx.t_start
    ctx.mark("set-up done")

    sink = work.sub("sink")

    def extract_pass(mode: str) -> float:
        t = time.perf_counter()
        with tr.span(f"extract_spans[{mode}]", "plans.extract"):
            src = spark.read.parquet(corpus)
            extract_spans(src, mode=mode).write.mode("overwrite").parquet(sink)
        return time.perf_counter() - t

    def scan_pass() -> float:
        t = time.perf_counter()
        with tr.span("scan", "sources"):
            spark.read.parquet(corpus).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    for _ in range(WARMUP_PASSES):  # worker spawn, codegen, JIT
        extract_pass("hybrid")
    ctx.mark("warm-up done")
    attempted = failed = 0
    hybrid, fused, scans, cal = [], [], [], []
    while sum(hybrid) < ctx.seconds or len(hybrid) < MIN_PASSES:
        cal.append(common.cal_ms())
        tr.pass_id += 1
        hybrid.append(extract_pass("hybrid"))
        attempted += N_DOCS
        failed += inputs.count_mismatches(inputs.sink_digests(sink), oracle)
        if ctx.trace:
            fused.append(extract_pass("fused"))
            attempted += N_DOCS
            failed += inputs.count_mismatches(inputs.sink_digests(sink), oracle)
            scans.append(scan_pass())
    ctx.mark("timed passes done")
    rss = common.python_worker_hwm_mb(spark.sparkContext._gateway.proc.pid)
    host = common.host_info(ctx.cpus, work)
    common.stop_session(spark)
    ctx.mark("session stopped")

    p50 = common.median(hybrid)
    if not ctx.trace:
        return {
            "attempted": attempted,
            "failed": failed,
            "host": host,
            "passes_s": hybrid,
            "metrics": {
                "docs_per_s": N_DOCS / p50,
                "latency_p50_ms": p50 * 1000.0,
                "setup_s": setup_s,
            },
        }

    log = common.EventLog(common.read_event_log(common.single_event_log(work)))
    per_pass = []
    for i, span in enumerate(tr.spans):
        if span.name != "extract_spans[hybrid]" or span.pass_id == 0:
            continue
        jobs = [j for j in log.jobs.values() if j.group == f"{i}:{span.layer}"]
        stages = {st for j in jobs for st in j.stages}
        py_stages = log.python_stages(stages)
        per_pass.append(
            {
                **common.python_sql_metrics(log, py_stages),
                "jobs": len(jobs),
                "skew": log.task_skew(py_stages),
                "shuffle_mb": log.task_metric_sum("Shuffle Write Metrics", "Shuffle Bytes Written", stages) / 1e6,
                "gc_s": log.task_metric_sum("JVM GC Time", None, stages) / 1000.0,
            }
        )

    def pm(key):
        return common.median([p[key] for p in per_pass])

    sink_files, sink_mb = common.dir_stats(sink)
    metrics = {
        "trace.latency_p50_ms": p50 * 1000.0,
        "host.cal_ms": common.median(cal),
        "job.jvm_start_s": session_s,
        "sources.scan_s": common.median(scans),
        "extract.fused_s": common.median(fused),
        "extract.probe_s": p50 - common.median(fused),
        "extract.python_run_s": pm("run_s"),
        "extract.python_start_s": pm("start_s"),
        "extract.python_sent_mb": pm("sent_mb"),
        "extract.python_returned_mb": pm("ret_mb"),
        "extract.marshal_share": 1.0 - kernel_s / pm("run_s"),
        "extract.task_skew": pm("skew"),
        "job.spark_jobs": pm("jobs"),
        "tables.sink_files": sink_files,
        "tables.sink_mb": sink_mb,
        "shuffle.write_mb": pm("shuffle_mb"),
        "jvm.gc_s": pm("gc_s"),
        "worker.peak_rss_mb": max(rss.values()),
    }
    metrics.update(core_phases(sample))
    return {"attempted": attempted, "failed": failed, "host": host, "passes_s": hybrid, "metrics": metrics}
