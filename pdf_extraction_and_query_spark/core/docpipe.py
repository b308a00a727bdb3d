"""Eager per-document pipeline — the reference-semantics ORACLE.

This is the single-document, single-threaded composition of the kernels in
this package, mirroring the reference's ingest lifecycle
(``src/api/services/rag_service.py:49-127``: extract -> clean -> chunk) plus
the two graft extensions (media passthrough, boilerplate strip). The Spark
pipeline (``plans/extract.py``) must produce byte-identical span sequences;
``tests/test_pipeline_equality.py`` enforces it.

There is ONE kernel, :func:`extract_columns`, over parallel per-span
columns. :func:`extract_document` adapts span dicts to it, and the fused
Spark path feeds it slices of flattened Arrow batches, so the two cannot
drift apart; ``tests/test_kernel_golden.py`` pins its output to literal
digests instead.

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
    reference pipeline's chunk sequence.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Sequence, Tuple

from . import boilerplate as bp
from .chunker import DEFAULT_CHUNK_OVERLAP, DEFAULT_MAX_CHUNK_SIZE, SectionChunker
from .lines import (
    DEFAULT_FONT_SIZE,
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


def _line_records(
    cols: Sequence[Sequence[Any]], cfg: ExtractConfig
) -> List[Dict[str, Any]]:
    """Stage 1-2 over span columns: page/segment derivation, page font
    mode, boilerplate strip, per-line features. Returns, in offset order,
    feature records for the kept text lines and ``{kind, text, media_ref,
    offset, page, seg}`` records for the media spans."""
    kinds, texts, refs, offsets, pages, sizes, bolds = cols
    prepared = _pages_and_segments(kinds, offsets, pages)
    text_rows = [(i, page) for i, page, _ in prepared if kinds[i] == "text"]
    lines = {i: (texts[i] or "").strip() for i, _ in text_rows}

    # page font mode over ALL text spans of the page (reference collects
    # sizes before the empty-line filter, formatting_extractor.py:74-86)
    sizes_by_page: Dict[int, List[float]] = {}
    for i, page in text_rows:
        if sizes[i] is not None:
            sizes_by_page.setdefault(page, []).append(float(sizes[i]))
    mode_by_page = {p: page_font_mode(v) for p, v in sizes_by_page.items()}

    # boilerplate can only fire for docs spanning >= min_pages pages (spec);
    # for the 1-3-page long tail we skip normalization entirely, and when it
    # does run, each distinct line is normalized ONCE (footers repeat) and
    # the result reused for the membership test (was ~30% of kernel CPU).
    boiler: set = set()
    norms: Dict[str, str] = {}
    if len({page for _, page in text_rows}) >= cfg.boilerplate_min_pages:
        norms = {t: bp.normalize_line(t) for t in set(lines.values())}
        boiler = bp.boilerplate_keys_from_norms(
            ((norms[lines[i]], page) for i, page in text_rows),
            cfg.boilerplate_min_pages,
        )

    out: List[Dict[str, Any]] = []
    for i, page, seg in prepared:
        text = lines.get(i)
        if text is None:
            out.append(
                {"kind": kinds[i], "text": texts[i], "media_ref": refs[i],
                 "offset": offsets[i], "page": page, "seg": seg}
            )
            continue
        if not text:
            continue  # formatting_extractor.py:162-164
        if boiler and norms[text] in boiler:
            continue
        feats = line_features(
            text, page, sizes[i], bolds[i], mode_by_page.get(page, DEFAULT_FONT_SIZE)
        )
        feats["kind"] = "text"
        feats["seg"] = seg
        feats["offset"] = offsets[i]
        feats["media_ref"] = None
        out.append(feats)
    return out


def extract_lines(
    spans: Sequence[Dict[str, Any]], cfg: ExtractConfig = ExtractConfig()
) -> List[Dict[str, Any]]:
    """Stage 1-2 (see :func:`_line_records`) over span dicts."""
    return _line_records(span_columns(spans), cfg)


def reconstruct_blocks(
    spans: Sequence[Dict[str, Any]], cfg: ExtractConfig = ExtractConfig()
) -> List[Dict[str, Any]]:
    """Stage 3: wrapped-line reconstruction + header re-eval over the text
    lines (media records pass through in position)."""
    lines = extract_lines(spans, cfg)
    text_lines = [r for r in lines if r["kind"] == "text"]
    media = [r for r in lines if r["kind"] != "text"]
    blocks = reconstruct_wrapped_lines(text_lines)
    merged = blocks + media
    merged.sort(key=lambda r: r["offset"])
    return merged


def _segments(
    cols: Sequence[Sequence[Any]], cfg: ExtractConfig
) -> Tuple[int, Dict[int, List[Dict[str, Any]]], Dict[int, Dict[str, Any]]]:
    """Stages 1-3 grouped by media segment: ``(n_segs, blocks_by_seg,
    media_by_seg)``. Blocks keep offset order; media span k closes
    segment k."""
    media_by_seg: Dict[int, Dict[str, Any]] = {}
    text_lines: List[Dict[str, Any]] = []
    for r in _line_records(cols, cfg):
        if r["kind"] == "text":
            text_lines.append(r)
        else:
            media_by_seg[r["seg"]] = r
    blocks_by_seg: Dict[int, List[Dict[str, Any]]] = {}
    for b in reconstruct_wrapped_lines(text_lines):
        blocks_by_seg.setdefault(b["seg"], []).append(b)
    n_segs = max(max(blocks_by_seg, default=-1), max(media_by_seg, default=-1)) + 1
    return n_segs, blocks_by_seg, media_by_seg


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

    Every extraction path runs this function: the eager oracle through
    :func:`extract_document`, the fused Spark path straight from Arrow
    batches (``operators/extraction.fused_extract``)."""
    n_segs, blocks_by_seg, media_by_seg = _segments(
        (kinds, texts, refs, offsets, pages, sizes, bolds), cfg
    )
    chunker = SectionChunker(
        max_chunk_size=cfg.max_chunk_size,
        chunk_overlap=cfg.chunk_overlap,
        use_section_awareness=cfg.use_section_awareness,
    )
    out: List[Tuple[str, Optional[str], Optional[str]]] = []
    for seg in range(n_segs):
        blocks = blocks_by_seg.get(seg)
        if blocks:
            cleaned, _ = clean(blocks_to_marked_text(blocks), validate=False)
            out.extend(("text", ch["text"], None) for ch in chunker.chunk(cleaned))
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
