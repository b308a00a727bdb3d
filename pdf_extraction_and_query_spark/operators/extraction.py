"""Staged Spark extraction operators over the interleaved span corpus.

Input schema (BASELINE.json input_hint):
    documents_spans(doc_id string,
                    spans array<struct<kind,text,media_ref,offset[,page,
                                       font_size,bold]>>)

Stage layout (each stage is independently queryable; shuffle keys noted):

  1. ``explode_spans``     — explode + derive page (explicit field wins, else
                             running page-marker count) + media-segment index.
                             Both counts are one ``util.prefix_sums`` scan:
                             by default one doc_id window (single shuffle,
                             one task per doc); ``banded=True`` makes it the
                             distributed scan over offset bands so a
                             400k-span whale spreads over ~100 parallel tasks
                             instead of one — hybrid mode routes exactly the
                             whale docs there (PLANS.md §8).
  2. ``flag_boilerplate``  — repeated-line frequency strip (north rule): a
                             normalized line recurring on >= K distinct pages
                             of a doc is boilerplate; window shuffle on
                             ``(doc_id, norm)`` with ``collect_set(page)``
                             (partial aggregation happens map-side).
  3. ``reconstruct_blocks``— grouped-map Arrow UDF per ``(doc_id, page)``:
                             page font mode, per-line features, buffer fold +
                             header re-eval (core kernels). Page granularity
                             is semantics-preserving (the merge predicate
                             never crosses pages) and is the skew treatment:
                             a 1000-page report becomes 1000 independent
                             tasks instead of one straggler.
  4. ``chunk_blocks``      — grouped-map Arrow UDF per ``(doc_id, seg)``:
                             header markup -> clean -> section-aware chunking.
  5. ``interleave``        — union chunks with media spans, global per-doc
                             ``order`` via one window on ``doc_id``.

Reference parity notes: stages 3-4 run the exact fold/split kernels from
``core`` (ported from src/extraction/formatting_extractor.py and
src/chunking/langchain_chunker.py of the reference); everything else is
native column expressions / windows that Catalyst fully optimizes.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import boilerplate as bp
from ..core.chunker import SectionChunker
from ..core.docpipe import MEDIA_KINDS, SPAN_FIELDS, ExtractConfig, extract_columns
from ..core.lines import (
    DEFAULT_FONT_SIZE,
    blocks_to_marked_text,
    line_features,
    page_font_mode,
    reconstruct_wrapped_lines,
)
from ..core.textclean import clean
from .util import prefix_sums

LINES_SCHEMA_FIELDS = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "page int, seg int, font_size double, bold boolean"
)

BLOCKS_SCHEMA = (
    "doc_id string, offset int, page int, seg int, text string, "
    "font_size double, is_bold boolean, is_all_caps boolean, "
    "is_larger boolean, is_likely_header boolean"
)

CHUNKS_SCHEMA = (
    "doc_id string, seg int, chunk_seq int, text string, chunk_size int, "
    "section string, subsection string, subsubsection string, "
    "section_hierarchy string, chunk_part string, is_split_chunk boolean"
)

OUT_SCHEMA = "doc_id string, `order` int, kind string, text string, media_ref string"


# spans per prefix-scan band: offsets are per-doc ordinals, so
# floor(offset / SPAN_BAND) cuts each doc into contiguous offset ranges.
# A 400k-span whale becomes ~100 parallel window tasks; a normal document
# stays a single band (one row of the broadcast band-offsets frame).
SPAN_BAND = 4096


def explode_spans(spans_df: DataFrame, banded: bool = False) -> DataFrame:
    """Stage 1: span rows with derived ``page`` and media-segment ``seg``;
    page_marker spans are dropped (they are page-boundary metadata, not
    content — see core/docpipe.py spec).

    Both running counts (page-marker count -> page, media count -> seg)
    are one ``operators/util.prefix_sums`` call per doc_id in offset
    order; ``banded`` only chooses its shape:

    * ``banded=False`` (default): one window per doc_id — a single shuffle,
      optimal for corpora of normally-sized documents (inter-doc
      parallelism; each doc is one window task).
    * ``banded=True``: the distributed scan over offset bands
      (``SPAN_BAND`` spans each), so a 400k-span whale spreads over ~100
      window tasks instead of one. The band offsets are summed from the
      span values, so the span rows are shuffled and windowed once, but
      the offsets' aggregate is a second pass over the source; it is
      routed to whale-sized documents only.

    ``plans/extract.py`` hybrid mode picks the banded path exactly for the
    documents above its span threshold; both paths are span-equal."""
    cols = [f.name for f in spans_df.schema["spans"].dataType.elementType.fields]
    line = F.explode("spans").alias("span")
    df = spans_df.select("doc_id", line).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
        (F.col("span.page") if "page" in cols else F.lit(None)).cast("int").alias("page_field"),
        (F.col("span.font_size") if "font_size" in cols else F.lit(None)).cast("double").alias("font_size"),
        (F.col("span.bold") if "bold" in cols else F.lit(None)).cast("boolean").alias("bold"),
    )
    is_marker = F.when(F.col("kind") == "page_marker", F.lit(1)).otherwise(F.lit(0))
    is_media = F.when(F.col("kind").isin(*MEDIA_KINDS), F.lit(1)).otherwise(F.lit(0))
    df = prefix_sums(
        df,
        {"_m": is_marker, "seg": is_media},
        ["offset"],
        keys=["doc_id"],
        band=F.floor(F.col("offset") / SPAN_BAND) if banded else None,
    )
    # a kept row is no marker: its exclusive marker count is the inclusive one
    page = F.coalesce(F.col("page_field"), F.greatest(F.col("_m"), F.lit(1)))
    return df.filter(F.col("kind") != "page_marker").select(
        "doc_id", "kind", "text", "media_ref", "offset", "font_size", "bold",
        F.col("seg").cast("int").alias("seg"),
        page.cast("int").alias("page"),
    )


def flag_boilerplate(lines_df: DataFrame, min_pages: int = bp.DEFAULT_MIN_PAGES) -> DataFrame:
    """Stage 2: mark text lines whose normalized form recurs on >= min_pages
    distinct pages of the same document (north-rule boilerplate strip).

    Normalization mirrors ``core.boilerplate.normalize_line``: lowercase,
    digit runs -> '0', whitespace runs -> ' ', trimmed. Java's digit and
    whitespace classes are ASCII-only; ``(?U)`` makes them Unicode, and
    U+001C-U+001F, which Python's ``str.split`` treats as whitespace and
    Java's Unicode class does not, are added to it. Spark-native: one window
    with ``collect_set(page)`` per (doc_id, norm)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"(?U)\d+", "0"),
            r"(?U)[\s\x1c-\x1f]+",
            " ",
        )
    )
    df = lines_df.withColumn(
        "norm",
        F.when(F.col("kind") == "text", norm).otherwise(F.lit(None)),
    )
    w = Window.partitionBy("doc_id", "norm")
    n_pages = F.size(F.collect_set("page").over(w))
    is_boiler = (
        (F.col("kind") == "text")
        & (F.col("norm") != "")
        & (F.length("norm") <= bp.MAX_BOILERPLATE_LEN)
        & (n_pages >= F.lit(min_pages))
    )
    return df.withColumn("is_boiler", F.coalesce(is_boiler, F.lit(False))).drop("norm")


# pages per grouped-map task: the line-merge fold never crosses a page
# boundary (formatting_extractor.py:247-249), so ANY page-granular grouping
# is semantics-preserving. 16 pages/group keeps a 1000-page report spread
# over ~63 parallel tasks while cutting the per-group Arrow/pandas overhead
# ~16x vs one-group-per-page (which made the staged path 25x slower than
# fused on small-doc corpora).
PAGES_PER_GROUP = 16


def _fold_lines(rows: list) -> list:
    """Reference reconstruction for a run of (page, offset, text, font_size,
    bold, is_boiler, seg) tuples, grouped page-by-page (plain-list hot path
    — pandas row access was ~3x slower than the kernel itself)."""
    from itertools import groupby
    from math import isnan

    blocks = []
    for _, page_rows in groupby(rows, key=lambda r: r[0]):
        page_rows = list(page_rows)
        sizes = [
            float(s)
            for (_, _, _, s, _, _, _) in page_rows
            if s is not None and not isnan(s)
        ]
        normal = page_font_mode(sizes) if sizes else DEFAULT_FONT_SIZE
        feats = []
        for page, offset, text, font_size, bold, is_boiler, seg in page_rows:
            text = (text or "").strip()
            if not text or is_boiler:
                continue
            fs = None if font_size is None or isnan(font_size) else float(font_size)
            rec = line_features(text, int(page), fs, bold, normal)
            rec["seg"] = int(seg)
            rec["offset"] = int(offset)
            feats.append(rec)
        blocks.extend(reconstruct_wrapped_lines(feats))
    return blocks


def _pandas_parallelism(df: DataFrame) -> int:
    """Partition count for grouped-map stages. AQE's byte-based coalescing
    is blind to per-group PYTHON cost — on a small corpus it collapsed the
    grouped-map exchange to 1 partition and serialized every pandas group
    (measured 33s for work 32 cores do in ~1s). An explicit repartition on
    the group keys is AQE-immune and Catalyst elides the duplicate exchange
    the groupBy would otherwise insert.

    Capped at 4x the cluster's core count: an untuned session carries the
    200-partition default, and 200 near-empty Arrow tasks on an 8-core
    driver-gate session paid ~5x pure task-launch overhead (27 s -> ~6 s
    for the chunk pipeline at sf0.01). Four waves per core keeps skew
    headroom without drowning small inputs in task launches."""
    spark = df.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(shuffle, 4 * spark.sparkContext.defaultParallelism)


def reconstruct_blocks(lines_df: DataFrame) -> DataFrame:
    """Stage 3: grouped-map fold per (doc_id, page-group) — the exact
    reference reconstruction semantics (formatting_extractor.py:192-329) via
    the core kernel, applied page-by-page inside each group."""
    text_lines = lines_df.filter(F.col("kind") == "text").withColumn(
        "pgrp", F.floor(F.col("page") / PAGES_PER_GROUP).cast("int")
    )
    text_lines = text_lines.repartition(
        _pandas_parallelism(lines_df), "doc_id", "pgrp"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            zip(
                pdf["page"].tolist(),
                pdf["offset"].tolist(),
                pdf["text"].tolist(),
                [None if pd.isna(v) else float(v) for v in pdf["font_size"]],
                [None if pd.isna(v) else bool(v) for v in pdf["bold"]],
                pdf["is_boiler"].tolist(),
                pdf["seg"].tolist(),
            ),
            key=lambda r: (r[0], r[1]),
        )
        blocks = _fold_lines(rows)
        if not blocks:
            return pd.DataFrame(
                columns=[
                    "doc_id", "offset", "page", "seg", "text", "font_size",
                    "is_bold", "is_all_caps", "is_larger", "is_likely_header",
                ]
            )
        doc_id = pdf["doc_id"].iloc[0]
        return pd.DataFrame(
            {
                "doc_id": [doc_id] * len(blocks),
                "offset": [b["offset"] for b in blocks],
                "page": [b["page"] for b in blocks],
                "seg": [b["seg"] for b in blocks],
                "text": [b["text"] for b in blocks],
                "font_size": [b["font_size"] for b in blocks],
                "is_bold": [b["is_bold"] for b in blocks],
                "is_all_caps": [b["is_all_caps"] for b in blocks],
                "is_larger": [b["is_larger"] for b in blocks],
                "is_likely_header": [b["is_likely_header"] for b in blocks],
            }
        )

    return text_lines.groupBy("doc_id", "pgrp").applyInPandas(fold, BLOCKS_SCHEMA)


def chunk_blocks(blocks_df: DataFrame, cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """Stage 4: grouped-map per doc_id, looping segments inside: header
    markup -> clean -> section-aware chunking (core kernels; reference
    rag_service.py:73-86 lifecycle). Doc granularity is safe here — the
    chunker is one linear pass over the segment's text (no per-page cost
    blowup), and grouping by doc instead of (doc, seg) avoids one tiny
    Arrow group per media span."""
    chunker = SectionChunker(
        max_chunk_size=cfg.max_chunk_size,
        chunk_overlap=cfg.chunk_overlap,
        use_section_awareness=cfg.use_section_awareness,
    )

    def do_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        from itertools import groupby

        doc_id = pdf["doc_id"].iloc[0]
        rows = sorted(
            zip(
                pdf["seg"].tolist(),
                pdf["offset"].tolist(),
                pdf["text"].tolist(),
                pdf["is_likely_header"].tolist(),
            )
        )
        out = {k: [] for k in (
            "seg", "chunk_seq", "text", "chunk_size", "section", "subsection",
            "subsubsection", "section_hierarchy", "chunk_part", "is_split_chunk",
        )}
        for seg, seg_rows in groupby(rows, key=lambda r: r[0]):
            blocks = [
                {"text": t, "is_likely_header": bool(h)}
                for (_, _, t, h) in seg_rows
            ]
            marked = blocks_to_marked_text(blocks)
            cleaned, _ = clean(marked, validate=False)
            for i, c in enumerate(chunker.chunk(cleaned)):
                m = c["metadata"]
                out["seg"].append(int(seg))
                out["chunk_seq"].append(i)
                out["text"].append(c["text"])
                out["chunk_size"].append(c["chunk_size"])
                out["section"].append(m.get("section"))
                out["subsection"].append(m.get("subsection"))
                out["subsubsection"].append(m.get("subsubsection"))
                out["section_hierarchy"].append(m.get("section_hierarchy"))
                out["chunk_part"].append(m.get("chunk_part"))
                out["is_split_chunk"].append(bool(m.get("is_split_chunk", False)))
        out["doc_id"] = [doc_id] * len(out["seg"])
        return pd.DataFrame(out)

    blocks_df = blocks_df.repartition(_pandas_parallelism(blocks_df), "doc_id")
    return blocks_df.groupBy("doc_id").applyInPandas(do_chunk, CHUNKS_SCHEMA)


def interleave(chunks_df: DataFrame, lines_df: DataFrame) -> DataFrame:
    """Stage 5: text chunks + media spans -> per-doc global order.
    Media span k (k-th media of the doc, == its ``seg``) follows segment k's
    chunks."""
    chunk_rows = chunks_df.select(
        "doc_id",
        "seg",
        F.lit(0).alias("mrank"),
        F.col("chunk_seq").alias("pos"),
        F.lit("text").alias("kind"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
    )
    media_rows = lines_df.filter(F.col("kind").isin(*MEDIA_KINDS)).select(
        "doc_id",
        "seg",
        F.lit(1).alias("mrank"),
        F.lit(0).alias("pos"),
        "kind",
        "text",
        "media_ref",
    )
    unioned = chunk_rows.unionByName(media_rows)
    w = Window.partitionBy("doc_id").orderBy("seg", "mrank", "pos")
    return (
        unioned.withColumn("order", (F.row_number().over(w) - 1).cast("int"))
        .select("doc_id", "order", "kind", "text", "media_ref")
    )


def _span_lists(spans: pa.ListArray) -> tuple:
    """One flat Python list per ``SPAN_FIELDS`` entry over a batch's
    ``spans`` column, plus each doc's bounds into them (its list offsets
    rebased to 0). A field that is absent or all null costs no conversion;
    the rest convert through numpy (~10x faster than ``to_pylist``), where
    a numeric null arrives as NaN and, like NaN itself, reads as None — as
    on the staged path (``_fold_lines``)."""
    bounds = spans.offsets.to_pylist()
    flat = spans.values.slice(bounds[0], bounds[-1] - bounds[0])
    children = dict(zip((f.name for f in flat.type), flat.flatten()))
    cols = []
    for name in SPAN_FIELDS:
        arr = children.get(name)
        if arr is None or arr.null_count == len(arr):
            cols.append([None] * len(flat))
            continue
        vals = arr.to_numpy(zero_copy_only=False).tolist()
        if arr.null_count or pa.types.is_floating(arr.type):
            vals = [None if v != v else v for v in vals]
        cols.append(vals)
    return cols, [b - bounds[0] for b in bounds]


def fused_extract(spans_df: DataFrame, cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """Zero-shuffle path: the whole kernel per document in one narrow
    ``mapInArrow`` pass over the scan. Each Arrow batch's raw ``spans``
    list<struct> column is flattened ONCE into per-field Python lists;
    every document is a slice of them fed to the columnar kernel
    ``core.docpipe.extract_columns`` (no per-span dicts, no pandas), and
    the output batch is built once as Arrow columns (``doc_id`` by a
    ``take`` on the input column)."""
    def run(batches):
        for batch in batches:
            cols, bounds = _span_lists(batch.column("spans"))
            rows, doc_idx, orders = [], [], []
            for i in range(batch.num_rows):
                a, b = bounds[i], bounds[i + 1]
                out = extract_columns(*(c[a:b] for c in cols), cfg)
                rows += out
                doc_idx += [i] * len(out)
                orders += range(len(out))
            kinds, texts, refs = zip(*rows) if rows else ((), (), ())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").take(pa.array(doc_idx, pa.int32())),
                    pa.array(orders, pa.int32()),
                    pa.array(kinds, pa.string()),
                    pa.array(texts, pa.string()),
                    pa.array(refs, pa.string()),
                ],
                names=["doc_id", "order", "kind", "text", "media_ref"],
            )

    return spans_df.select("doc_id", "spans").mapInArrow(run, OUT_SCHEMA)
