"""Checkpoint/resume + per-partition lineage for the extraction job.

North-rule contract (BASELINE.json): "every partition writes lineage +
span-count metrics to a checkpoint table so a killed job resumes at
partition granularity without recomputing completed splits."

Design (all storage I/O goes through ``sources/tables.py`` — Iceberg when
``SPARK_GRAFT_CATALOG`` names a configured catalog, parquet with an
Iceberg-compatible layout otherwise):

  * the corpus is bucketed by ``pmod(xxhash64(doc_id), n_buckets)`` — the
    bucket is the unit of completion (stable under any input ordering);
  * buckets are processed in WAVES (each wave = one write over
    ``buckets_per_wave`` buckets, full cluster parallelism inside the wave);
  * each wave writes its output with dynamic partition-overwrite on the
    bucket column (idempotent: a re-run of a half-written bucket replaces
    it); the write itself observes the per-bucket counts (n_docs, output
    span/chunk counts) through a ``pyspark.sql.Observation``, so the sink
    is never read back. THEN the wave appends its ledger rows (counts,
    wall seconds, run id). Crash between the two steps -> bucket is
    re-done and overwritten; never double-counted, never lost;
  * resume = anti-join the bucket list against ledger rows with
    status='done' for the same job_id.

The ledger doubles as the metrics/lineage table: one row per (run, bucket)
with counts and timing — the scale-out observability surface.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.docpipe import ExtractConfig
from ..sources import tables

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_out_spans", T.LongType(), True),
        T.StructField("n_text_chunks", T.LongType(), True),
        T.StructField("n_media", T.LongType(), True),
        T.StructField("wall_sec", T.DoubleType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    if not tables.exists(spark, ledger_dir):
        return spark.createDataFrame([], LEDGER_SCHEMA)
    return tables.read_table(spark, ledger_dir)


def completed_buckets(spark: SparkSession, ledger_dir: str, job_id: str) -> List[int]:
    led = read_ledger(spark, ledger_dir)
    rows = (
        led.where((F.col("job_id") == job_id) & (F.col("status") == "done"))
        .select("bucket")
        .distinct()
        .collect()
    )
    return sorted(r["bucket"] for r in rows)


def _bucket_counts(b: int) -> list:
    """Observed counts of bucket ``b`` in a wave's output: docs (one
    ``order == 0`` row each), output spans, text chunks."""
    in_b = F.col("bucket") == b
    return [
        F.count_if(in_b & (F.col("order") == 0)).alias(f"docs_{b}"),
        F.count_if(in_b).alias(f"spans_{b}"),
        F.count_if(in_b & (F.col("kind") == "text")).alias(f"text_{b}"),
    ]


@dataclass
class RunReport:
    job_id: str
    run_id: str
    n_buckets: int
    skipped_buckets: List[int] = field(default_factory=list)
    processed_buckets: List[int] = field(default_factory=list)
    waves_run: int = 0


def run_checkpointed(
    spark: SparkSession,
    spans_df: DataFrame,
    out_dir: str,
    ledger_dir: str,
    job_id: str,
    n_buckets: int = 64,
    buckets_per_wave: int = 16,
    max_waves: Optional[int] = None,
    cfg: ExtractConfig = ExtractConfig(),
    mode: str = "hybrid",
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> RunReport:
    """Extract ``spans_df`` to ``out_dir`` (parquet partitioned by bucket),
    resuming past completed buckets recorded in ``ledger_dir``.

    ``max_waves`` caps the number of waves this invocation runs (used by the
    kill/resume test to simulate a mid-job crash — a real crash between the
    data write and the ledger append is equivalent to stopping one step
    earlier, because the bucket overwrite is idempotent).

    ``transform`` overrides the per-wave extraction (default:
    ``extract_spans(df, cfg, mode)``); it receives the wave's input rows
    (bucket filter ALREADY applied — crucial when the input is a raw
    source like (doc_id, html) whose per-doc derivation is expensive: the
    wave pays parse cost only for its own buckets) and must return rows
    carrying ``doc_id``, ``order`` and ``kind`` (the ledger counts a doc
    by its ``order == 0`` row). Used by :func:`run_checkpointed_html`.
    The input frame only needs a ``doc_id`` column."""
    from .extract import extract_spans

    run_id = uuid.uuid4().hex[:12]
    report = RunReport(job_id=job_id, run_id=run_id, n_buckets=n_buckets)

    done = set(completed_buckets(spark, ledger_dir, job_id))
    report.skipped_buckets = sorted(done)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return report

    bucketed = spans_df.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))

    waves = [
        todo[i : i + buckets_per_wave] for i in range(0, len(todo), buckets_per_wave)
    ]
    if max_waves is not None:
        waves = waves[:max_waves]

    for wave in waves:
        t0 = time.monotonic()
        wave_in = bucketed.where(F.col("bucket").isin(wave))
        fn = transform or (lambda df: extract_spans(df, cfg, mode=mode))
        out = fn(wave_in.drop("bucket")).withColumn(
            "bucket", bucket_of(F.col("doc_id"), n_buckets)
        )
        # align output partitions with the sink's bucket directories BEFORE
        # the write: without this every upstream task writes a file into
        # every bucket it touches (tasks x buckets small files), and the
        # driver-side commit pays a per-file cost that is CONSTANT in
        # cluster size — measured as the Amdahl floor that capped the
        # spark-submit N->4N run at ~0.70.  One span-row exchange (which
        # scales with cores) buys a one-file-per-bucket layout. The
        # partition id is the bucket's index in the wave, so each bucket
        # gets its own writer task (hashing buckets into len(wave)
        # partitions lets two buckets share one).
        slot = F.array_position(F.array(*map(F.lit, wave)), F.col("bucket"))
        out = out.repartitionById(len(wave), slot.cast("int") - 1)
        # the ledger counts ride on the write: observed AFTER the exchange,
        # so they are merged once per result task (a retried map stage
        # could count twice; a retried result task cannot)
        obs = Observation()
        out = out.observe(obs, *[c for b in wave for c in _bucket_counts(b)])
        # 1) idempotent data write. Dynamic overwrite only replaces buckets
        # PRESENT in the output — a bucket that legitimately yields zero rows
        # would leave a stale half-written partition from a crashed prior
        # attempt in place, so the wave's buckets are cleared first.
        tables.clear_partitions(spark, out_dir, "bucket", wave)
        tables.overwrite_partitions(out, out_dir, ["bucket"])
        # 2) per-bucket lineage/metrics, appended AFTER the data is durable;
        # every wave bucket gets a 'done' row, an empty one with zeros
        # (else it would re-run forever)
        wall = round(time.monotonic() - t0, 3)
        m = obs.get
        now = datetime.now(timezone.utc)
        rows = [
            (
                job_id, run_id, b, "done",
                m[f"docs_{b}"], m[f"spans_{b}"], m[f"text_{b}"],
                m[f"spans_{b}"] - m[f"text_{b}"],
                wall, now,
            )
            for b in wave
        ]
        tables.append(spark.createDataFrame(rows, LEDGER_SCHEMA), ledger_dir)
        report.processed_buckets.extend(wave)
        report.waves_run += 1

    return report


def run_checkpointed_html(
    spark: SparkSession,
    html_df: DataFrame,
    out_dir: str,
    ledger_dir: str,
    job_id: str,
    cfg: ExtractConfig = ExtractConfig(),
    mode: str = "fused",
    **kwargs,
) -> RunReport:
    """North-rule resumability for the HTML surface: checkpointed waves
    over a (doc_id, html) table. The bucket filter applies to the RAW page
    rows, so a resumed run re-parses only its remaining buckets — the
    parse (the expensive per-doc derivation) is never repeated for
    completed work. Default mode is fused: hybrid's whale probe would run
    the wave's whole parse once extra per wave just to plan (HTML spans
    are paragraph-granular, so whales cannot occur at sane page sizes)."""
    from ..operators.htmlextract import html_extract_span_corpus
    from .extract import extract_spans

    return run_checkpointed(
        spark,
        html_df,
        out_dir,
        ledger_dir,
        job_id,
        cfg=cfg,
        transform=lambda df: extract_spans(
            html_extract_span_corpus(df), cfg, mode=mode
        ),
        **kwargs,
    )
