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
  3. ``reconstruct_blocks``— grouped-map Arrow UDF per (doc_id, 16-page
                             band) over the text lines' fold columns: the
                             kernel's own fold ``core.docpipe.fold_lines``
                             (page font mode, line features, wrap fold +
                             header re-eval, page by page). Page granularity
                             is semantics-preserving (the merge predicate
                             never crosses pages) and is the skew treatment:
                             a 1000-page report becomes ~63 independent
                             tasks instead of one straggler.
  4. ``chunk_blocks``      — grouped-map Arrow UDF per doc_id: the kernel's
                             per-segment emitter
                             ``core.docpipe.segment_chunker`` (header markup
                             -> clean -> section-aware chunking), keeping
                             each chunk's metadata.
  5. ``interleave``        — union chunks with media spans, global per-doc
                             ``order`` via one window on ``doc_id``.

Reference parity notes: stages 3-4 call the very functions the eager kernel
``core.docpipe.extract_columns`` calls (ported from
src/extraction/formatting_extractor.py and src/chunking/langchain_chunker.py
of the reference), so the staged stages hold no copy of them; everything
else is native column expressions / windows that Catalyst fully optimizes.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core import boilerplate as bp
from ..core.docpipe import (
    FOLD_FIELDS,
    MEDIA_KINDS,
    SPAN_FIELDS,
    ExtractConfig,
    extract_columns,
    fold_lines,
    segment_chunker,
)
from .util import arrow_groups, prefix_sums

BLOCKS_SCHEMA = (
    "doc_id string, offset int, page int, seg int, text string, "
    "is_likely_header boolean"
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
# over ~63 parallel tasks while cutting the per-group Arrow overhead ~16x vs
# one-group-per-page (which made the staged path 25x slower than fused on
# small-doc corpora).
PAGES_PER_GROUP = 16


def reconstruct_blocks(lines_df: DataFrame) -> DataFrame:
    """Stage 3: the kernel's fold ``core.docpipe.fold_lines`` (page font
    mode, line features, wrapped-line reconstruction + header re-eval,
    formatting_extractor.py:150-329) per (doc_id, page band) group, one
    ``applyInArrow`` call over the text lines' fold columns."""
    text_lines = (
        lines_df.filter(F.col("kind") == "text")
        .withColumnRenamed("is_boiler", "drop")
        .select(
            "doc_id",
            F.floor(F.col("page") / PAGES_PER_GROUP).cast("int").alias("pgrp"),
            *FOLD_FIELDS,
        )
    )

    def fold(key, *cols):
        return [
            (key[0], b["offset"], b["page"], b["seg"], b["text"], b["is_likely_header"])
            for b in fold_lines(*cols)
        ]

    return arrow_groups(text_lines, ("doc_id", "pgrp"), FOLD_FIELDS, BLOCKS_SCHEMA, fold)


def chunk_blocks(blocks_df: DataFrame, cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """Stage 4: the kernel's per-segment emitter
    ``core.docpipe.segment_chunker`` (header markup -> clean ->
    section-aware chunking; reference rag_service.py:73-86 lifecycle) per
    doc_id group, looping segments inside. Doc granularity is safe here —
    the chunker is one linear pass over the segment's text (no per-page
    cost blowup), and grouping by doc instead of (doc, seg) avoids one tiny
    Arrow group per media span."""
    emit = segment_chunker(cfg)

    def do_chunk(key, *cols):
        out = []
        for seg, rows in groupby(sorted(zip(*cols)), key=itemgetter(0)):
            blocks = [{"text": t, "is_likely_header": h} for _, _, t, h in rows]
            for i, c in enumerate(emit(blocks)):
                m = c["metadata"]
                out.append((
                    key[0], seg, i, c["text"], c["chunk_size"], m.get("section"),
                    m.get("subsection"), m.get("subsubsection"),
                    m.get("section_hierarchy"), m.get("chunk_part"),
                    bool(m.get("is_split_chunk", False)),
                ))
        return out

    cols = ("seg", "offset", "text", "is_likely_header")
    return arrow_groups(blocks_df, ("doc_id",), cols, CHUNKS_SCHEMA, do_chunk)


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
    a numeric null arrives as NaN and, like NaN itself, reads as None (the
    kernel reads a NaN size as missing, too)."""
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
