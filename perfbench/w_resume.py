"""resume_job: the deployed entry point, ``spark-submit --py-files <zip>
scripts/run_extract_job.py``, resuming a ledger in which half the buckets are
already done, over a seeded corpus of small (1-3 page) documents.

Set-up builds the half-done state once with
``plans.checkpoint.run_checkpointed(max_waves=1)`` in an in-process session,
snapshots sink and ledger, and stops that session. Every pass restores the
snapshot and times one submit from launch to exit: JVM start is the user's
cost, so it stays in the number. Loads ``plans.checkpoint``,
``sources.tables`` and the job script; the kernel is small.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import threading
import time

import common
import inputs
from w_extract import CORE_SAMPLE, core_phases

DOCS_PER_BUCKET = 120
N_BUCKETS = 8
BUCKETS_PER_WAVE = 2
# set-up completes buckets 0-3 in one wide wave; the resume runs the other
# four in two waves of BUCKETS_PER_WAVE (the ledger keys on bucket only)
SETUP_BUCKETS_PER_WAVE = 4
JOB_ID = "perfbench-resume"
MIN_PASSES = 2


def _tree_hash(path: str) -> dict:
    """{relative file: content hash} for one bucket directory."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            full = os.path.join(dirpath, fn)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = hashlib.blake2b(f.read(), digest_size=16).hexdigest()
    return out


class _HwmPoller:
    """Keeps the last VmHWM read of every PySpark worker under a process while
    it runs (the kernel's high-water mark only grows, so the last read is the
    peak up to that point)."""

    def __init__(self, pid: int) -> None:
        self.pid, self.hwm, self._stop = pid, {}, threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.hwm.update(common.python_worker_hwm_mb(self.pid))

    def close(self) -> float:
        self._stop.set()
        self._t.join()
        return max(self.hwm.values(), default=0.0)


def _bucket_balanced(spark, seed: int):
    """Small seeded docs, exactly DOCS_PER_BUCKET in each checkpoint bucket
    (assigned by the job's own ``bucket_of``), so every run resumes the same
    number of documents in the same number of waves. Returns the docs and
    their buckets."""
    from pyspark.sql import functions as F

    from pdf_extraction_and_query_spark.plans.checkpoint import bucket_of

    stream = inputs.small_docs(seed)
    cand = [next(stream) for _ in range(int(DOCS_PER_BUCKET * N_BUCKETS * 1.3))]
    ids = spark.createDataFrame([(d,) for d, _ in cand], "doc_id string")
    bucket = {
        r["doc_id"]: r["b"]
        for r in ids.select("doc_id", bucket_of(F.col("doc_id"), N_BUCKETS).alias("b")).collect()
    }
    taken, docs = {}, []
    for d, spans in cand:
        if taken.get(bucket[d], 0) < DOCS_PER_BUCKET:
            taken[bucket[d]] = taken.get(bucket[d], 0) + 1
            docs.append((d, spans))
    if len(docs) != DOCS_PER_BUCKET * N_BUCKETS:
        raise RuntimeError("candidate stream too short to fill every bucket")
    return docs, bucket


def _submit_cmd(ctx, zip_path, job_script, dirs) -> list:
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None and os.environ.get("SPARK_HOME"):
        spark_submit = os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit")
    if spark_submit is None:
        raise RuntimeError("spark-submit is neither on PATH nor under $SPARK_HOME/bin")
    cmd = [
        spark_submit,
        "--master", f"local[{ctx.cpus}]",
        "--driver-memory", common.DRIVER_MEM,
        "--py-files", zip_path,
        "--conf", f"spark.sql.shuffle.partitions={ctx.cpus}",
    ]
    for k, v in common.spark_confs(ctx.work, ctx.trace).items():
        cmd += ["--conf", f"{k}={v}"]
    return cmd + [
        job_script,
        "--input", dirs["input"],
        "--output", dirs["sink"],
        "--ledger", dirs["ledger"],
        "--job-id", JOB_ID,
        "--n-buckets", str(N_BUCKETS),
        "--buckets-per-wave", str(BUCKETS_PER_WAVE),
    ]


def run(ctx):
    from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig
    from pdf_extraction_and_query_spark.plans.checkpoint import run_checkpointed
    from pdf_extraction_and_query_spark.sources.packaging import build_package_zip

    tr, work = ctx.tracer, ctx.work
    dirs = {k: work.sub(k) for k in ("input", "sink", "ledger")}
    snap = {k: work.sub("snapshot", k) for k in ("sink", "ledger")}
    spark = common.start_session(ctx.cpus)
    tr.sc = spark.sparkContext if ctx.trace else None
    ctx.mark("session started")
    docs, bucket = _bucket_balanced(spark, ctx.seed)
    inputs.write_span_corpus(docs, dirs["input"])
    ctx.mark("corpus written")
    with tr.span("run_checkpointed(max_waves=1)", "plans.checkpoint"):
        report = run_checkpointed(
            spark,
            spark.read.parquet(dirs["input"]),
            out_dir=dirs["sink"],
            ledger_dir=dirs["ledger"],
            job_id=JOB_ID,
            n_buckets=N_BUCKETS,
            buckets_per_wave=SETUP_BUCKETS_PER_WAVE,
            max_waves=1,
            cfg=ExtractConfig(max_chunk_size=1000, chunk_overlap=200),
            mode="hybrid",
        )
    ctx.mark("half-done state built")
    scans = []
    if ctx.trace:
        for _ in range(3):
            t = time.perf_counter()
            with tr.span("scan", "sources"):
                spark.read.parquet(dirs["input"]).write.format("noop").mode("overwrite").save()
            scans.append(time.perf_counter() - t)
    host = common.host_info(ctx.cpus, work)
    tr.sc = None
    common.stop_session(spark)
    ctx.mark("session stopped")
    done = sorted(report.processed_buckets)
    todo = [b for b in range(N_BUCKETS) if b not in done]
    for k in snap:
        shutil.copytree(dirs[k], snap[k])
    done_hash = {b: _tree_hash(os.path.join(dirs["sink"], f"bucket={b}")) for b in done}
    resumed = [d for d in docs if bucket[d[0]] in todo]
    t_kernel = time.perf_counter()
    oracle = inputs.oracle_digests(resumed)
    kernel_s = time.perf_counter() - t_kernel
    # the ledger's n_docs counts the documents that wrote output rows; one the
    # kernel maps to no spans writes none
    ledger_docs = sum(h != inputs.span_digest([]) for h in oracle.values())
    oracle.update(inputs.oracle_digests([d for d in docs if bucket[d[0]] in done]))
    n_resumed = len(resumed)
    sample = inputs.seeded_sample(resumed, CORE_SAMPLE, ctx.seed)
    del docs, resumed
    zip_path = build_package_zip(work.sub("tmp"))
    job_script = os.path.join(work.root, "scripts", "run_extract_job.py")
    os.makedirs(work.sub("submit"))
    setup_s = time.perf_counter() - ctx.t_start
    ctx.mark("set-up done")

    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    cmd = _submit_cmd(ctx, zip_path, job_script, dirs)
    walls, attempted, failed, per_submit = [], 0, 0, []
    while sum(walls) < ctx.seconds or len(walls) < MIN_PASSES:
        for k in snap:
            shutil.rmtree(dirs[k])
            shutil.copytree(snap[k], dirs[k])
        for p in os.listdir(work.sub("eventlog")):
            os.remove(work.sub("eventlog", p))
        cal = common.cal_ms()
        tr.pass_id += 1
        submit_span = len(tr.spans)
        t_launch_ms = time.time() * 1000.0
        t = time.perf_counter()
        with tr.span("spark-submit run_extract_job.py", "job"):
            proc = subprocess.Popen(
                cmd, cwd=work.sub("submit"), env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
            )
            poller = _HwmPoller(proc.pid) if ctx.trace else None
            out, err = proc.communicate(timeout=170)
        walls.append(time.perf_counter() - t)
        rss = poller.close() if poller else 0.0
        common.reap_children()
        ctx.mark(f"submit exited after {walls[-1]:.2f}s")
        if proc.returncode != 0:
            raise RuntimeError(f"spark-submit failed ({proc.returncode}):\n{err[-4000:]}")
        job = json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])

        # correctness, outside the timed region
        attempted += n_resumed
        bad = 0
        led = common.read_parquet_rows(dirs["ledger"]).to_pylist()
        new_rows = [r for r in led if r["run_id"] == job["run_id"]]
        if sorted(r["bucket"] for r in new_rows) != todo or job["skipped_buckets"] != len(done):
            bad += n_resumed
        for b in done:
            if _tree_hash(os.path.join(dirs["sink"], f"bucket={b}")) != done_hash[b]:
                bad += DOCS_PER_BUCKET
        bad += inputs.count_mismatches(inputs.sink_digests(dirs["sink"]), oracle)
        if sum(r["n_docs"] for r in new_rows) != ledger_docs:
            bad += n_resumed
        failed += min(bad, n_resumed)

        if ctx.trace:

            def add_span(name, layer, start_ms, end_ms, t0=t, launch=t_launch_ms, parent=submit_span):
                tr.spans.append(
                    common.Span(
                        name, layer, t0 + (start_ms - launch) / 1000.0, t0 + (end_ms - launch) / 1000.0,
                        parent, tr.pass_id,
                    )
                )

            m = _trace_submit(work, job, new_rows, todo, t_launch_ms, walls[-1], dirs["sink"], add_span)
            m.update({"host.cal_ms": cal, "worker.peak_rss_mb": rss})
            m["extract.marshal_share"] = 1.0 - kernel_s / m["extract.python_run_s"]
            per_submit.append(m)

    p50 = common.median(walls)
    res = {"attempted": attempted, "failed": failed, "host": host, "passes_s": walls}
    if not ctx.trace:
        res["metrics"] = {
            "docs_per_s": n_resumed / p50,
            "latency_p50_ms": p50 * 1000.0,
            "setup_s": setup_s,
        }
        return res
    metrics = {k: common.median([p[k] for p in per_submit]) for k in per_submit[0]}
    metrics["trace.latency_p50_ms"] = p50 * 1000.0
    metrics["sources.scan_s"] = common.median(scans)
    metrics.update(core_phases(sample))
    res["metrics"] = metrics
    return res


def _trace_submit(work, job, new_rows, todo, t_launch_ms, wall_s, sink, add_span):
    """Per-layer split of one submit from its event log and ledger rows.
    Waves start at the hybrid probe (the first job called from
    plans/extract.py); a wave's data write is the SQL execution that inserts
    the MapInPandas output; every other job after the first probe is wave
    overhead, and the wall no job covers, up to process exit, is driver gap.
    Each part is also added as a child span of the submit, so the submit's
    self time in the span table is the driver gap."""
    log = common.EventLog(common.read_event_log(common.single_event_log(work)))
    probes = [j for j in log.jobs.values() if "plans/extract.py" in j.call_site]
    first_wave_ms = min(j.start_ms for j in probes)
    add_span("JVM start", "job.jvm_start", t_launch_ms, log.app_start_ms)
    add_span("pre-flight", "job.preflight", log.app_start_ms, first_wave_ms)
    write_ms = other_ms = 0.0
    wave_jobs = []
    for j in log.jobs.values():
        if j.start_ms < first_wave_ms:
            continue
        wave_jobs.append((j.start_ms, j.end_ms))
        plan = log.sql_plans.get(j.sql_id, "")
        if "MapInPandas" in plan and "InsertIntoHadoopFsRelation" in plan:
            write_ms += j.end_ms - j.start_ms
            add_span(f"job {j.job_id}", "checkpoint.wave_write", j.start_ms, j.end_ms)
        else:
            other_ms += j.end_ms - j.start_ms
            add_span(f"job {j.job_id}", "checkpoint.wave_overhead", j.start_ms, j.end_ms)
    t_exit_ms = t_launch_ms + wall_s * 1000.0
    ledger_wall = {}
    for r in new_rows:  # one wall per wave, repeated on each of its buckets
        ledger_wall.setdefault(todo.index(r["bucket"]) // BUCKETS_PER_WAVE, r["wall_sec"])
    sink_files = sink_mb = 0.0
    for b in todo:
        n, mb = common.dir_stats(os.path.join(sink, f"bucket={b}"))
        sink_files += n
        sink_mb += mb
    py_stages = log.python_stages()
    py = common.python_sql_metrics(log, py_stages)
    return {
        "job.jvm_start_s": (log.app_start_ms - t_launch_ms) / 1000.0,
        "job.preflight_s": (first_wave_ms - log.app_start_ms) / 1000.0,
        "job.spark_jobs": float(len(log.jobs)),
        "checkpoint.waves": float(job["waves_run"]),
        "checkpoint.wave_write_s": write_ms / 1000.0,
        "checkpoint.wave_overhead_s": other_ms / 1000.0,
        "checkpoint.driver_gap_s": ((t_exit_ms - first_wave_ms) - common.union_ms(wave_jobs)) / 1000.0,
        "checkpoint.ledger_wall_s": sum(ledger_wall.values()),
        "tables.sink_files": sink_files,
        "tables.sink_mb": sink_mb,
        "shuffle.write_mb": log.task_metric_sum("Shuffle Write Metrics", "Shuffle Bytes Written") / 1e6,
        "jvm.gc_s": log.task_metric_sum("JVM GC Time") / 1000.0,
        "extract.probe_s": sum(j.end_ms - j.start_ms for j in probes) / 1000.0,
        "extract.task_skew": common.median([log.task_skew({s}) for s in py_stages]),
        "extract.python_run_s": py["run_s"],
        "extract.python_start_s": py["start_s"],
        "extract.python_sent_mb": py["sent_mb"],
        "extract.python_returned_mb": py["ret_mb"],
    }
