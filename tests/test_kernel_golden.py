"""Golden digests of the eager kernel ``core.docpipe.extract_document``.

Every extraction mode is checked against this kernel, and the fused path runs
the very same kernel, so an equality test between them cannot see a change
inside it. These digests pin its output, per document and config, to literal
values: a drift in page/segment derivation, boilerplate normalization, line
reconstruction, cleaning or chunking shows up here even when every mode still
agrees with every other.

The corpus is seeded ``synth_doc`` documents from each page-count class plus
hand-built edge documents (unsorted and duplicate offsets, missing or null
fields, NaN font sizes, explicit pages interleaved in offset order, empty /
media-only / marker-only documents, page-marker text, whitespace runs, and
Unicode digits, spaces and case mappings).
"""

import hashlib
import json
import math

from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig, extract_document
from pdf_extraction_and_query_spark.sources.corpus import synth_doc

SEED = 11
# doc id -> page count: three docs each from the 1-3 and 4-12 page classes,
# two from 20-60 and one from 200-400 (synth_doc's size classes), including
# docs without font metadata (g0004) and without page fields (g0000, g0019,
# g0519)
SYNTH = {
    "g0001": 2, "g0003": 1, "g0004": 2,
    "g0000": 9, "g0009": 12, "g0016": 11,
    "g0019": 20, "g0029": 35,
    "g0519": 202,
}

CONFIGS = {
    "default": ExtractConfig(),
    "small_flat": ExtractConfig(
        max_chunk_size=300, chunk_overlap=60, use_section_awareness=False,
        boilerplate_min_pages=3,
    ),
}


def _s(kind, text, offset, media_ref=None, **extra):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset, **extra}


def _paged(lines_per_page, footer=None, **fields):
    """Marker-delimited pages of text lines; ``footer(p)`` closes page p."""
    spans, off = [], 0
    for p, lines in enumerate(lines_per_page, start=1):
        spans.append(_s("page_marker", f"--- Page {p} ---", off, page=p))
        off += 1
        for t in lines:
            spans.append(_s("text", t, off, **fields))
            off += 1
        if footer is not None:
            spans.append(_s("text", footer(p), off, **fields))
            off += 1
    return spans


_BODY = [
    ["Introduction to the annual review of operations", "and the results it reports."],
    ["Revenue grew in every region this year", "with the strongest gains in the north."],
    ["The board approved the capital plan", "for the next three fiscal years."],
    ["Staffing levels remained broadly stable", "across all business units."],
    ["Outlook: cautious optimism for the coming year", "as markets recover."],
]

_nan = float("nan")

EDGE = {
    "unsorted": [
        _s("text", "second line of the body text here", 2, font_size=11.0, bold=False),
        _s("text", "FIRST HEADING", 1, font_size=14.0, bold=True),
        _s("page_marker", "--- Page 1 ---", 0),
        _s("figure", "Figure 1", 4, "fig://u/1"),
        _s("text", "continues after the figure", 5, font_size=11.0, bold=False),
        _s("text", "and this line wraps onto the next one", 3, font_size=11.0, bold=False),
    ],
    "duplicate_offsets": [
        _s("text", "alpha line that is long enough to merge", 1, font_size=11.0, bold=False),
        _s("text", "beta follows with the same offset", 1, font_size=11.0, bold=False),
        _s("table", "Table 1", 2, "tab://d/1"),
        _s("text", "gamma shares the table offset", 2, font_size=11.0, bold=False),
        _s("figure", "Figure 1", 2, "fig://d/1"),
        _s("text", "Delta Heading", 3, font_size=16.0, bold=True),
        _s("text", "epsilon body under the heading", 3, font_size=11.0, bold=False),
    ],
    "missing_fields": [
        {"kind": "page_marker", "text": "--- Page 1 ---", "offset": 0},
        {"kind": "text", "text": "Summary Of Findings", "offset": 1},
        {"kind": "text", "text": "the first finding is described here in detail", "offset": 2},
        {"kind": "figure", "offset": 3, "media_ref": "fig://m/1"},
        {"kind": "page_marker", "text": "--- Page 2 ---", "offset": 4},
        {"kind": "text", "text": "second page text without any metadata", "offset": 5},
    ],
    "all_null_fields": _paged(
        _BODY, footer=lambda p: f"Acme Corp page {p}", page=None, font_size=None, bold=None
    ),
    "nan_font_size": [
        # a NaN size reads as missing, like a null one: NaN (five lines, one
        # shared NaN object among them) is not counted in the page's mode
        # size, so 11 is the mode and the 14 pt bold line reads as larger;
        # a NaN line's own size is the default 11
        _s("page_marker", "--- Page 1 ---", 0, page=1),
        _s("text", "Heading With Nan Size", 1, page=1, font_size=float("nan"), bold=True),
        _s("text", "body line one that is long enough", 2, page=1, font_size=11.0, bold=False),
        _s("text", "and body line two continues it", 3, page=1, font_size=float("nan"), bold=False),
        _s("text", "Shared Nan Heading", 4, page=1, font_size=_nan, bold=True),
        _s("text", "more body text at a shared nan", 5, page=1, font_size=_nan, bold=False),
        _s("text", "third shared nan line of body text", 6, page=1, font_size=_nan, bold=False),
        _s("text", "LOUD CAPS LINE", 7, page=1, font_size=math.nan, bold=True),
        # a header only if the mode were a number below 14
        _s("text", "Results, Revenue, and Costs Overview", 8, page=1, font_size=14.0, bold=True),
        _s("text", "closing body line after the larger heading", 9, page=1, bold=False),
    ],
    "interleaved_pages": [
        # explicit pages that interleave in offset order: the fold runs page
        # by page (the reference iterates pages in order), so a page's lines
        # merge even when another page's lines sit between them in offset
        _s("text", f"body line {i} of page {p} runs long enough to merge", i,
           page=p, font_size=11.0, bold=False)
        for i, p in enumerate((1, 2, 1, 2, 1))
    ],
    "text_before_first_marker": [
        _s("text", "this opening line sits before any page marker", 0, font_size=11.0, bold=False),
        _s("page_marker", "--- Page 1 ---", 1),
        _s("text", "and continues after the marker on page one", 2, font_size=11.0, bold=False),
    ],
    "empty": [],
    "media_only": [
        _s("figure", "Figure 1", 0, "fig://mo/1"),
        _s("table", None, 1, "tab://mo/1"),
        _s("figure", None, 2, None),
    ],
    "marker_only": [_s("page_marker", f"--- Page {p} ---", p, page=p) for p in (1, 2, 3)],
    "blank_text": [
        _s("text", "   ", 0, font_size=11.0, bold=False),
        _s("text", None, 1, font_size=11.0, bold=False),
        _s("text", "", 2, font_size=11.0, bold=False),
        _s("figure", "Figure 9", 3, "fig://b/9"),
        _s("text", " \t ", 4, font_size=11.0, bold=False),
    ],
    "marker_text_and_whitespace": [
        _s("page_marker", "--- Page 1 ---", 0, page=1),
        _s("text", "--- Page 7 ---", 1, page=1, font_size=11.0, bold=False),
        _s("text", "before  double   spaces    here", 2, page=1, font_size=11.0, bold=False),
        _s("text", "-- page 12 --\nafter an embedded marker", 3, page=1, font_size=11.0, bold=False),
        _s("text", "one\n\n\n\ntwo\n\n\nthree", 4, page=1, font_size=11.0, bold=False),
        _s("text", "tabs\t\tsurvive  but  spaces  collapse", 5, page=1, font_size=11.0, bold=False),
        _s("text", "trailing spaces   \n   leading spaces", 6, page=1, font_size=11.0, bold=False),
        _s("text", "Page 3 of 9 is prose, not a marker", 7, page=1, font_size=11.0, bold=False),
        _s("text", "---Page 4---", 8, page=1, font_size=11.0, bold=False),
    ],
    "unicode_boilerplate": _paged(
        _BODY,
        footer=lambda p: (
            ["Report ٣ —\u3000Draft", "report 7 — draft", "REPORT ۴\x1c— DRAFT",
             "Report 12 —\u2003Draft", "report ٣٣ — draft"][p - 1]
        ),
        font_size=11.0, bold=False,
    ),
    "unicode_text": [
        _s("page_marker", "--- Page 1 ---", 0, page=1),
        _s("text", "ΣΑΣ ΟΔΟΣ", 1, page=1, font_size=14.0, bold=True),
        _s("text", "İSTANBUL İZMİR", 2, page=1, font_size=14.0, bold=True),
        _s("text", "numbers ٣٤٥ and ۱۲ and ①② in text", 3, page=1, font_size=11.0, bold=False),
        _s("text", "ideographic\u3000space\u3000and\x1cfile\x1dgroup\x1erecord seps", 4, page=1, font_size=11.0, bold=False),
        _s("text", "nbsp\xa0\xa0runs and  ascii  runs", 5, page=1, font_size=11.0, bold=False),
        _s("text", "line\u2028separator and\u0085next line", 6, page=1, font_size=11.0, bold=False),
    ],
    "unicode_repeat_lines": _paged(
        [[f"page {p} body line with unique words {w}", "ΣΑΣ ΟΔΟΣ", "İİ ﬁ straße"]
         for p, w in zip(range(1, 6), ["one", "two", "three", "four", "five"])],
        font_size=11.0, bold=False,
    ),
    "unknown_kind": [
        _s("text", "a caption follows this sentence", 0, font_size=11.0, bold=False),
        _s("caption", "Caption A", 1, "cap://a"),
        _s("figure", "Figure 1", 2, "fig://k/1"),
        _s("caption", "Caption B", 3, "cap://b"),
        _s("text", "text after the second caption", 4, font_size=11.0, bold=False),
    ],
    "explicit_pages": [
        _s("text", "page five line without a marker", 0, page=5, font_size=11.0, bold=False),
        _s("page_marker", "--- Page 1 ---", 1),
        _s("text", "float page field", 2, page=2.0, font_size=11.0, bold=False),
        _s("text", "derived page line", 3, page=None, font_size=11.0, bold=False),
    ],
}


def _digest(out) -> str:
    recs = [(r["order"], r["kind"], r["text"], r["media_ref"]) for r in out]
    return hashlib.blake2b(json.dumps(recs).encode(), digest_size=16).hexdigest()


def _docs():
    docs = {d: synth_doc(d, SEED) for d in SYNTH}
    docs.update(EDGE)
    return docs


def compute_digests():
    """``{"<doc>|<config>": digest}`` over the whole corpus."""
    return {
        f"{name}|{cname}": _digest(extract_document(spans, cfg))
        for name, spans in _docs().items()
        for cname, cfg in CONFIGS.items()
    }


# computed with the kernel before its columnar rewrite; changes only with a
# stated spec decision
GOLDEN = {
    "all_null_fields|default": "fe8535fd35714028c0be29fd1e28af4d",
    "all_null_fields|small_flat": "5760ed52d5edc16e00e1f101a4fddbe5",
    "blank_text|default": "1a2eda21a537dd5b2acb029d8509a24a",
    "blank_text|small_flat": "1a2eda21a537dd5b2acb029d8509a24a",
    "duplicate_offsets|default": "b7d5f4a37612edec9c6e224a37ded44b",
    "duplicate_offsets|small_flat": "b3d389be5e6ff5e8d715edbe6b29ad92",
    "empty|default": "7ebb3c7c2a87b1a2f8a7ed729ecb040d",
    "empty|small_flat": "7ebb3c7c2a87b1a2f8a7ed729ecb040d",
    "explicit_pages|default": "8e3ce53a87e15a74c209a8f7cf963019",
    "explicit_pages|small_flat": "8e3ce53a87e15a74c209a8f7cf963019",
    "g0000|default": "4355642191b7b10c37113d0a40b9cea9",
    "g0000|small_flat": "0e91e051b1f964285b830257c137f897",
    "g0001|default": "53a24198ca7a6aa8913134ff23f12ab9",
    "g0001|small_flat": "acfc2dae5160e8db5c472a3bac1b6786",
    "g0003|default": "bddb7bb8ae77015885d826524d7ce8eb",
    "g0003|small_flat": "54a1b7d686eea5e885776051c24fe8a1",
    "g0004|default": "9f06ed9665a28bae0f061efb70fdb0e2",
    "g0004|small_flat": "6c89542d253f76f7588c06718e94a5c1",
    "g0009|default": "7f0176860e05c6d763d9dcd6a422e016",
    "g0009|small_flat": "c76bd06856d851fbbee8d42cb730af15",
    "g0016|default": "ba2509df4d3c57dde2551aca028da56c",
    "g0016|small_flat": "14d82b6927ac906eb7677f92b8dc903a",
    "g0019|default": "492b9483f8bdaabb30835a09a9d8b1d1",
    "g0019|small_flat": "a474d79d7c363b6f7b7a5f876631864f",
    "g0029|default": "85e7587642d70c9782c58816d17b1de5",
    "g0029|small_flat": "1255a0c6bb2cffc51a0b48124336275f",
    "g0519|default": "c30c29b3ebece8fbb5189cbae2e0909c",
    "g0519|small_flat": "cf383590ea0469a2700480e0e4878732",
    "marker_only|default": "7ebb3c7c2a87b1a2f8a7ed729ecb040d",
    "marker_only|small_flat": "7ebb3c7c2a87b1a2f8a7ed729ecb040d",
    "marker_text_and_whitespace|default": "8958e648af4e779983d884be2f662641",
    "marker_text_and_whitespace|small_flat": "491b8146fd1c2675f0614d1725f7f216",
    "media_only|default": "bf2f4fdc91d14310aff7271e7d90ddf5",
    "media_only|small_flat": "bf2f4fdc91d14310aff7271e7d90ddf5",
    "missing_fields|default": "00f075fad87efa4bcaae3ce53e0b4d4d",
    "missing_fields|small_flat": "00f075fad87efa4bcaae3ce53e0b4d4d",
    "interleaved_pages|default": "70af8f4e32646b2e5a5cc7d508aae046",
    "interleaved_pages|small_flat": "70af8f4e32646b2e5a5cc7d508aae046",
    # spec decision: a NaN font size reads as missing on every path (the
    # Spark paths already read it so); the kernel used to count NaN objects
    # as sizes in the page's mode
    "nan_font_size|default": "a2cadf616b99682e26fde958bbb51e5f",
    "nan_font_size|small_flat": "c1e4a84c0e5a0f20c4bd5b731ef1e579",
    "text_before_first_marker|default": "19864f740f1f37f6b57e7de330524b3c",
    "text_before_first_marker|small_flat": "19864f740f1f37f6b57e7de330524b3c",
    "unicode_boilerplate|default": "fe8535fd35714028c0be29fd1e28af4d",
    "unicode_boilerplate|small_flat": "5760ed52d5edc16e00e1f101a4fddbe5",
    "unicode_repeat_lines|default": "0adc81ed10f0c8858bad5ac88e0e220b",
    "unicode_repeat_lines|small_flat": "0adc81ed10f0c8858bad5ac88e0e220b",
    "unicode_text|default": "582f782be31c5c35c5bbc30744477ce4",
    "unicode_text|small_flat": "887226b12b1258270ae883285b27bc1c",
    # spec decision: spans of a kind other than text, page_marker, figure
    # or table are ignored (the staged path and process_documents' warning
    # already said so); the kernel used to emit the last one of a segment
    "unknown_kind|default": "8e6173b91f0eaf2174f333f7565fd4fe",
    "unknown_kind|small_flat": "8e6173b91f0eaf2174f333f7565fd4fe",
    "unsorted|default": "4f7518cae9e5bf67760cca0fe8df7ec2",
    "unsorted|small_flat": "b175e0a82f43b1b8184bb95b2a2fed08",
}


def test_synth_docs_cover_every_page_class():
    pages = {
        d: sum(s["kind"] == "page_marker" for s in synth_doc(d, SEED)) for d in SYNTH
    }
    assert pages == SYNTH
    classes = ((1, 3), (4, 12), (20, 60), (200, 400))
    assert all(any(lo <= n <= hi for n in pages.values()) for lo, hi in classes)


def test_unicode_footers_normalize_to_one_boilerplate_line():
    """The five footers differ only in Unicode digits, case and whitespace,
    so normalization maps them to one line that is stripped on every page."""
    out = extract_document(EDGE["unicode_boilerplate"], CONFIGS["default"])
    text = " ".join(r["text"] for r in out)
    assert "Revenue grew" in text and "draft" not in text.lower()


def test_kernel_output_matches_golden_digests():
    assert compute_digests() == GOLDEN
