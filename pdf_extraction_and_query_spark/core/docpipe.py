"""Eager per-document pipeline — the reference-semantics ORACLE.

This is the single-document, single-threaded composition of the kernels in
this package, mirroring the reference's ingest lifecycle
(``src/api/services/rag_service.py:49-127``: extract -> clean -> chunk) plus
the two graft extensions (media passthrough, boilerplate strip). The Spark
pipeline (``plans/extract.py``) must produce byte-identical span sequences;
``tests/test_pipeline_equality.py`` enforces it.

There is ONE kernel, :func:`extract_columns`, over parallel per-span
columns. :func:`extract_document` adapts span dicts to it, the fused Spark
path feeds it slices of flattened Arrow batches, and the staged Spark stages
3-4 call its own line fold (:func:`fold_lines`) and chunk emitter
(:func:`segment_chunker`) over Arrow groups, so no path can drift apart;
``tests/test_kernel_golden.py`` pins its output to literal digests instead.

Interleaved-span contract (documented spec, since the reference drops media
— ``src/extraction/pymupdf_extractor.py:124``):

  * input spans are ordered by ``offset``; ``kind='page_marker'`` spans mark
    page starts and are dropped from content (the reference's marker-removal
    regex remains part of ``clean`` and is exercised by unit tests and the
    page-marker corpus trait);
  * media spans (``figure``/``table``) partition each document into text
    SEGMENTS; each segment runs the full reference text pipeline
    independently (reconstruct -> header markup -> clean -> chunk);
  * output = segment-0 chunks, media-0, segment-1 chunks, media-1, ... with
    a global 0-based ``order``. For media-free documents this is exactly the
    reference pipeline's chunk sequence;
  * wrapped lines fold page by page, pages ascending and offset order within
    a page, as the reference iterates pages 0..n
    (``src/extraction/formatting_extractor.py:68``); a page's lines may merge
    even when explicit ``page`` fields interleave in offset order, and each
    block sits at its first line's offset;
  * a null or NaN ``font_size`` reads as missing: it is left out of the
    page's mode size and the line takes the default size (the reference's
    ``sizes.count`` mode, ``formatting_extractor.py:74-86``, would count NaN
    objects by identity).
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import groupby
from operator import itemgetter
from typing import Any, Callable, Dict, Iterator, List, Optional, Sequence, Tuple

from . import boilerplate as bp
from .chunker import DEFAULT_CHUNK_OVERLAP, DEFAULT_MAX_CHUNK_SIZE, SectionChunker
from .lines import (
    blocks_to_marked_text,
    line_features,
    page_font_mode,
    reconstruct_wrapped_lines,
)
from .textclean import clean

MEDIA_KINDS = ("figure", "table")


@dataclass(frozen=True)
class ExtractConfig:
    max_chunk_size: int = DEFAULT_MAX_CHUNK_SIZE
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP
    use_section_awareness: bool = True
    boilerplate_min_pages: int = bp.DEFAULT_MIN_PAGES


# parallel per-span columns, in this order, are the kernel's input
SPAN_FIELDS = ("kind", "text", "media_ref", "offset", "page", "font_size", "bold")


def span_columns(spans: Sequence[Dict[str, Any]]) -> Tuple[List[Any], ...]:
    """Span dicts -> one list per :data:`SPAN_FIELDS` entry (absent keys
    read as None)."""
    return tuple([s.get(f) for s in spans] for f in SPAN_FIELDS)


# parallel per-text-span columns, in this order, are the stage-3 fold's input
FOLD_FIELDS = ("page", "offset", "seg", "text", "font_size", "bold", "drop")


def _pages_and_segments(
    kinds: Sequence[str], offsets: Sequence[int], pages: Sequence[Any]
) -> List[Tuple[int, int, int]]:
    """``(index, page, seg)`` per text or media span in offset order
    (stable): ``page`` is the explicit field when set, else the running
    page-marker count (at least 1); ``seg`` counts the media spans before
    the span. Spans of any other kind are ignored, as on the staged path
    (``process_documents`` reports them as "unknown span kinds ignored")."""
    out: List[Tuple[int, int, int]] = []
    markers_seen = 0
    media_seen = 0
    for i in sorted(range(len(kinds)), key=offsets.__getitem__):
        kind = kinds[i]
        if kind == "page_marker":
            markers_seen += 1
            continue
        if kind != "text" and kind not in MEDIA_KINDS:
            continue
        page = pages[i]
        out.append((i, max(1, markers_seen) if page is None else int(page), media_seen))
        if kind in MEDIA_KINDS:
            media_seen += 1
    return out


def _stages_1_2(
    cols: Sequence[Sequence[Any]], cfg: ExtractConfig
) -> Tuple[Tuple[Sequence[Any], ...], List[Dict[str, Any]]]:
    """Stages 1-2 over span columns: page/segment derivation and the
    boilerplate flag. Returns the text spans in offset order as the
    :data:`FOLD_FIELDS` columns of :func:`fold_lines` (text stripped) and
    ``{kind, text, media_ref, offset, page, seg}`` records for the media
    spans."""
    kinds, texts, refs, offsets, pages, sizes, bolds = cols
    prepared = _pages_and_segments(kinds, offsets, pages)
    media = [
        {"kind": kinds[i], "text": texts[i], "media_ref": refs[i],
         "offset": offsets[i], "page": page, "seg": seg}
        for i, page, seg in prepared
        if kinds[i] != "text"
    ]
    rows = [
        (page, offsets[i], seg, (texts[i] or "").strip(), sizes[i], bolds[i])
        for i, page, seg in prepared
        if kinds[i] == "text"
    ]
    text_pages, offs, segs, lines, text_sizes, text_bolds = (
        zip(*rows) if rows else ((),) * 6
    )

    # boilerplate can only fire for docs spanning >= min_pages pages (spec);
    # for the 1-3-page long tail we skip normalization entirely, and when it
    # does run, each distinct line is normalized ONCE (footers repeat) and
    # the result reused for the membership test (was ~30% of kernel CPU).
    drops = [False] * len(rows)
    if len(set(text_pages)) >= cfg.boilerplate_min_pages:
        norms = {t: bp.normalize_line(t) for t in set(lines)}
        boiler = bp.boilerplate_keys_from_norms(
            ((norms[t], page) for t, page in zip(lines, text_pages)),
            cfg.boilerplate_min_pages,
        )
        drops = [norms[t] in boiler for t in lines]
    return (text_pages, offs, segs, lines, text_sizes, text_bolds, drops), media


def _page_lines(*cols: Sequence[Any]) -> Iterator[List[Dict[str, Any]]]:
    """Per page, pages ascending: the feature records of its kept lines in
    offset order (stable sorts, so duplicate offsets keep input order)."""
    rows = sorted(zip(*cols), key=itemgetter(1))
    rows.sort(key=itemgetter(0))
    for page, run in groupby(rows, key=itemgetter(0)):
        run = list(run)
        # page font mode over ALL text spans of the page (reference collects
        # sizes before the empty-line filter, formatting_extractor.py:74-86)
        normal = page_font_mode(
            [float(r[4]) for r in run if r[4] is not None and r[4] == r[4]]
        )
        feats = []
        for _, off, seg, text, size, bold, drop in run:
            text = (text or "").strip()
            if not text or drop:
                continue  # formatting_extractor.py:162-164; boilerplate
            # NaN != NaN: a NaN size reads as missing
            rec = line_features(text, page, size if size == size else None, bold, normal)
            rec["seg"] = seg
            rec["offset"] = off
            feats.append(rec)
        yield feats


def fold_lines(*cols: Sequence[Any]) -> List[Dict[str, Any]]:
    """THE stage-3 fold over the text spans of whole pages, given as
    parallel :data:`FOLD_FIELDS` columns: page font mode, the empty-line and
    boilerplate (``drop``) filter, :func:`line_features`, then
    :func:`reconstruct_wrapped_lines` page by page. Returns the blocks
    (``text``, ``page``, ``seg``, ``offset`` of the first line,
    ``is_likely_header``, ...) in order of their first span's offset.

    The kernel runs it over a whole document, the staged Spark path over
    each (doc, page band) group (``operators/extraction.reconstruct_blocks``)."""
    blocks = [b for feats in _page_lines(*cols) for b in reconstruct_wrapped_lines(feats)]
    blocks.sort(key=itemgetter("offset"))
    return blocks


def extract_lines(
    spans: Sequence[Dict[str, Any]], cfg: ExtractConfig = ExtractConfig()
) -> List[Dict[str, Any]]:
    """Stages 1-2 and the per-line features over span dicts: feature records
    for the kept text lines and media records, in offset order."""
    text, media = _stages_1_2(span_columns(spans), cfg)
    lines = [
        {**r, "kind": "text", "media_ref": None}
        for feats in _page_lines(*text)
        for r in feats
    ]
    return sorted(lines + media, key=itemgetter("offset"))


def reconstruct_blocks(
    spans: Sequence[Dict[str, Any]], cfg: ExtractConfig = ExtractConfig()
) -> List[Dict[str, Any]]:
    """Stages 1-3 over span dicts: :func:`fold_lines` blocks and media
    records, in offset order."""
    text, media = _stages_1_2(span_columns(spans), cfg)
    blocks = [{**b, "kind": "text", "media_ref": None} for b in fold_lines(*text)]
    return sorted(blocks + media, key=itemgetter("offset"))


def segment_chunker(
    cfg: ExtractConfig,
) -> Callable[[Sequence[Dict[str, Any]]], List[Dict[str, Any]]]:
    """THE stage-4 emitter, its :class:`SectionChunker` built once from
    ``cfg``: one media segment's blocks in order -> header markup -> clean
    -> section-aware chunks ``[{text, metadata, chunk_size}, ...]``. The
    kernel keeps each chunk's text, the staged Spark path
    (``operators/extraction.chunk_blocks``) its metadata too."""
    chunker = SectionChunker(
        max_chunk_size=cfg.max_chunk_size,
        chunk_overlap=cfg.chunk_overlap,
        use_section_awareness=cfg.use_section_awareness,
    )

    def emit(blocks: Sequence[Dict[str, Any]]) -> List[Dict[str, Any]]:
        cleaned, _ = clean(blocks_to_marked_text(blocks), validate=False)
        return chunker.chunk(cleaned)

    return emit


def extract_columns(
    kinds: Sequence[str],
    texts: Sequence[Optional[str]],
    refs: Sequence[Optional[str]],
    offsets: Sequence[int],
    pages: Sequence[Optional[int]],
    sizes: Sequence[Optional[float]],
    bolds: Sequence[Optional[bool]],
    cfg: ExtractConfig = ExtractConfig(),
) -> List[Tuple[str, Optional[str], Optional[str]]]:
    """THE kernel: one document given as parallel span columns (one entry
    per span, :data:`SPAN_FIELDS` order) -> its ordered output spans as
    ``(kind, text, media_ref)``; a span's ``order`` is its list index.

    Every extraction path runs this function's stages: the eager oracle
    through :func:`extract_document`, the fused Spark path straight from
    Arrow batches (``operators/extraction.fused_extract``), and the staged
    Spark stages 3-4 through :func:`fold_lines` and
    :func:`segment_chunker`."""
    text, media = _stages_1_2(
        (kinds, texts, refs, offsets, pages, sizes, bolds), cfg
    )
    blocks_by_seg: Dict[int, List[Dict[str, Any]]] = {}
    for b in fold_lines(*text):
        blocks_by_seg.setdefault(b["seg"], []).append(b)
    # media span k closes segment k
    media_by_seg = {m["seg"]: m for m in media}
    n_segs = max(max(blocks_by_seg, default=-1), max(media_by_seg, default=-1)) + 1
    emit = segment_chunker(cfg)
    out: List[Tuple[str, Optional[str], Optional[str]]] = []
    for seg in range(n_segs):
        blocks = blocks_by_seg.get(seg)
        if blocks:
            out.extend(("text", ch["text"], None) for ch in emit(blocks))
        m = media_by_seg.get(seg)
        if m is not None:
            out.append((m["kind"], m["text"], m["media_ref"]))
    return out


def extract_document(
    spans: Sequence[Dict[str, Any]], cfg: ExtractConfig = ExtractConfig()
) -> List[Dict[str, Any]]:
    """Full pipeline for one document -> ordered output span sequence
    ``[{kind, text, media_ref, order}, ...]`` (:func:`extract_columns` over
    span dicts)."""
    return [
        {"kind": k, "text": t, "media_ref": r, "order": i}
        for i, (k, t, r) in enumerate(extract_columns(*span_columns(spans), cfg))
    ]
