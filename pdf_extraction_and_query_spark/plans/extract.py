"""End-to-end extraction pipeline assembly.

``extract_spans(spans_df, cfg, mode)``:

* ``mode='staged'``: the five-stage vectorized pipeline from
  ``operators/extraction.py``, whose stages 3-4 call the kernel's own line
  fold and chunk emitter. Shuffles on doc-granular keys only
  (doc_id / (doc_id,norm) / (doc_id,page band) / doc_id); page-band
  grouping bounds straggler size for 1000-page documents; AQE splits any
  residual skewed partitions.
* ``mode='fused'``: one narrow ``mapInArrow`` pass running the columnar
  kernel per document straight from Arrow span batches — zero shuffles,
  best raw throughput when the corpus is mostly small documents; no
  intra-document parallelism.
* ``mode='hybrid'`` (default): the one whale router — small docs fused,
  whale docs staged with the banded stage 1; routed by the ``is_whale``
  partition column of a :func:`write_spans_routed` table, else by a size
  probe.

All must produce identical span sequences (enforced by
tests/test_pipeline_equality.py against the eager oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.docpipe import MEDIA_KINDS, ExtractConfig
from ..operators.extraction import (
    chunk_blocks,
    explode_spans,
    flag_boilerplate,
    fused_extract,
    interleave,
    reconstruct_blocks,
)


# docs at or below this span count take the fused (zero-shuffle) path in
# hybrid mode; bigger docs go through the staged path. This is a WORKER-
# MEMORY bound: fused streams the whole doc through one Arrow row, so the
# threshold caps per-row footprint (~200k spans ~= 20 MB of text). Since
# round 3 the staged branch is no longer a latency sacrifice either: with
# the banded stage 1 (the hybrid whale branch) a single 408k-span whale
# measured staged 5.1 s vs fused 7.5 s on 32 cores (was 30.2 vs 4.8 s with
# the doc-serial stage-1 windows) — above the threshold the staged path is
# both the bounded-memory AND the faster route.
HYBRID_SPAN_THRESHOLD = 200_000


def _staged(spans_df: DataFrame, cfg: ExtractConfig, banded: bool) -> DataFrame:
    lines = flag_boilerplate(
        explode_spans(spans_df, banded=banded), cfg.boilerplate_min_pages
    )
    return interleave(chunk_blocks(reconstruct_blocks(lines), cfg), lines)


def extract_spans(
    spans_df: DataFrame,
    cfg: ExtractConfig = ExtractConfig(),
    mode: str = "hybrid",
    hybrid_threshold: int = HYBRID_SPAN_THRESHOLD,
) -> DataFrame:
    """Ordered output spans (doc_id, order, kind, text, media_ref).

    Modes: ``staged`` (shuffled, page-parallel — survives 1000-page
    stragglers), ``fused`` (zero-shuffle mapInArrow — fastest on uniform
    small docs), ``hybrid`` (the default; size-aware routing: the skew
    treatment the north rule asks for — the long tail of small docs
    streams through the narrow path while oversized docs get
    intra-document page parallelism; per-doc outputs are identical on
    every path, so the union is safe).

    Hybrid routes from the input itself. A table written by
    :func:`write_spans_routed` carries the ingest-time ``is_whale``
    partition column: both branch scans are partition-pruned, nothing is
    probed, and ``hybrid_threshold`` is the one the table was written with.
    Any other input pays one codegen-only ``max(size(spans))`` aggregate
    before the plan is built, and a whale-free corpus gets the pure fused
    plan with no ``size(spans)`` filter and NO planned-but-empty staged
    branch (whose fixed cost is a second full source scan + empty shuffle
    stages). Measured on the 25.6k-doc whale-free skewed bench corpus,
    interleaved best-of-5 on a quiet local[32]: probe 3.27 s vs no probe
    4.33 s — the 0.24 s probe buys back ~1.3 s of dead branch. The probe
    snapshot is per-invocation: a table that gains whales afterwards
    re-probes on the next call. The whale branch runs the staged stages
    with the banded stage 1 (intra-doc parallelism from the first shuffle;
    the extra source pass it costs is paid only by whales)."""
    from ..sources.packaging import ensure_shipped

    ensure_shipped(spans_df.sparkSession)
    if mode == "fused":
        return fused_extract(spans_df, cfg)
    if mode == "staged":
        return _staged(spans_df, cfg, banded=False)
    if mode != "hybrid":
        raise ValueError(f"unknown mode: {mode}")
    if "is_whale" in spans_df.columns:
        whale = F.col("is_whale") == 1
    else:
        mx = spans_df.agg(F.max(F.size("spans")).alias("mx")).collect()[0]["mx"]
        if mx is None or mx <= hybrid_threshold:
            return fused_extract(spans_df, cfg)
        whale = F.size("spans") > hybrid_threshold
    small = fused_extract(spans_df.where(~whale), cfg)
    return small.unionByName(_staged(spans_df.where(whale), cfg, banded=True))


# validation guard: the reference rejects oversize inputs at ingest
# (src/utils/validators.py:39-52, max file size); the span-table analog is a
# per-document span-count ceiling, surfaced as a warning (never an exception)
MAX_SPANS_PER_DOC = 500_000


def process_documents(
    spans_df: DataFrame, cfg: ExtractConfig = ExtractConfig(), mode: str = "hybrid"
) -> DataFrame:
    """ProcessingResult-shaped per-document report (reference
    src/utils/processing_result.py:9-26 — the reference never throws, it
    accumulates): success flag, chunk/media counts, content-loss pct and
    warnings as COLUMNS. Input-side and output-side aggregates joined on
    doc_id; loss compares non-whitespace chars of input text spans vs
    emitted chunks (chunk overlap can make this negative — floored at 0)."""
    nonspace = lambda c: F.length(F.regexp_replace(c, r"\s", ""))
    span = F.explode("spans").alias("s")
    inp = (
        spans_df.select("doc_id", span)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans_in"),
            F.sum((F.col("s.kind") == "text").cast("long")).alias("n_text_lines_in"),
            F.sum(
                F.when(F.col("s.kind") == "text", nonspace(F.coalesce(F.col("s.text"), F.lit("")))).otherwise(0)
            ).alias("in_nonspace"),
            F.sum(
                (F.col("s.kind").isin("text", "page_marker", *MEDIA_KINDS) == False).cast("long")  # noqa: E712
            ).alias("n_unknown_kinds"),
        )
    )
    out = (
        extract_spans(spans_df, cfg, mode=mode)
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("kind") == "text").cast("long")).alias("n_chunks"),
            F.sum((F.col("kind") != "text").cast("long")).alias("n_media"),
            F.sum(
                F.when(F.col("kind") == "text", nonspace(F.col("text"))).otherwise(0)
            ).alias("out_nonspace"),
        )
    )
    j = inp.join(out, "doc_id", "left").fillna(
        0, subset=["n_chunks", "n_media", "out_nonspace"]
    )
    loss = F.when(
        F.col("in_nonspace") > 0,
        F.greatest(
            F.round((F.lit(1.0) - F.col("out_nonspace") / F.col("in_nonspace")) * 100, 1),
            F.lit(0.0),
        ),
    ).otherwise(F.lit(0.0))
    j = j.withColumn("loss_pct", loss)
    warnings = F.array_compact(
        F.array(
            F.when(
                F.col("loss_pct") > 10.0,
                F.concat(F.lit("Significant content loss detected: "), F.col("loss_pct"), F.lit("%")),
            ),
            F.when(F.col("n_chunks") == 0, F.lit("document produced no chunks")),
            F.when(F.col("n_unknown_kinds") > 0, F.lit("unknown span kinds ignored")),
            F.when(
                F.col("n_spans_in") > MAX_SPANS_PER_DOC,
                F.lit("document exceeds span limit"),
            ),
        )
    )
    return j.select(
        "doc_id",
        "n_spans_in",
        "n_text_lines_in",
        "n_chunks",
        "n_media",
        "loss_pct",
        # "|"-joined scalar, not array<string>: array-typed output columns
        # break frame-sort canonicalization in the driver's comparator
        F.concat_ws("|", warnings).alias("warnings"),
        ((F.col("n_chunks") > 0) | (F.col("n_media") > 0)).alias("success"),
    )


def extract_arrays(
    spans_df: DataFrame, cfg: ExtractConfig = ExtractConfig(), mode: str = "hybrid"
) -> DataFrame:
    """Per-document ordered array form (the FIXTURES.md §2 equality shape):
    (doc_id, out array<struct<kind,text,media_ref,order>>)."""
    rows = extract_spans(spans_df, cfg, mode)
    return rows.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("order", "kind", "text", "media_ref"))
        ).alias("out")
    )


def write_spans_routed(
    spans_df: DataFrame, path: str, threshold: int = HYBRID_SPAN_THRESHOLD
) -> None:
    """Ingest-time whale routing: persist the span corpus PARTITIONED BY an
    ``is_whale`` flag (``size(spans) > threshold``).

    This is the storage half of the scale-correct hybrid: the in-plan
    hybrid's two branches each re-scan the full table to evaluate
    ``size(spans)`` (no parquet pushdown for array sizes — 2x read
    amplification, plus a fixed ~0.5-3 s of planned-but-empty whale stages
    measured in BENCH.md even on whale-free corpora).  With the flag as a
    partition column both branch scans are PARTITION-PRUNED: each file is
    read exactly once by exactly one branch, and a whale-free corpus makes
    the whale branch zero files -> zero tasks.  On the Iceberg backend the
    same column is simply part of the table's partition spec
    (``PARTITIONED BY (is_whale)``). Read it back with
    ``extract_spans(spark.read.parquet(path), cfg, mode="hybrid")``."""
    # int 0/1, not boolean: Spark's partition-value type inference covers
    # numerics/dates only — a boolean flag reads back as the STRING
    # 'true'/'false'
    spans_df.withColumn(
        "is_whale", (F.size("spans") > threshold).cast("int")
    ).write.mode("overwrite").partitionBy("is_whale").parquet(path)
