"""Span-sequence equality: Spark pipeline (staged AND fused) vs the eager
reference-semantics oracle, on the synthetic corpus exercising every
FIXTURES.md §3 trait. This is the graft's correctness contract:
equality on (kind, text, media_ref, order) per document."""

import pytest

from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig, extract_document
from pdf_extraction_and_query_spark.plans.extract import extract_spans
from pdf_extraction_and_query_spark.sources.corpus import docs_to_df, synth_docs
from tests.test_kernel_golden import EDGE

N_DOCS = 40
CFG = ExtractConfig(max_chunk_size=400, chunk_overlap=80)
# every golden edge doc the span schema can hold (``explicit_pages``' float
# page is not an int); among them the ones on which a Spark path once
# disagreed with the kernel: unknown span kinds are ignored, boilerplate
# normalization is Unicode (digits, whitespace incl. U+001C-U+001F), a NaN
# font size reads as missing, and interleaved explicit pages fold page by page
SPEC_DOCS = tuple(d for d in EDGE if d != "explicit_pages")


@pytest.fixture(scope="module")
def corpus():
    fields = dict.fromkeys(("page", "font_size", "bold"))
    return synth_docs(N_DOCS, seed=42) + [
        (d, [{**fields, **s} for s in EDGE[d]]) for d in SPEC_DOCS
    ]


@pytest.fixture(scope="module")
def oracle_out(corpus):
    return {
        doc_id: [
            (r["order"], r["kind"], r["text"], r["media_ref"])
            for r in extract_document(spans, CFG)
        ]
        for doc_id, spans in corpus
    }


def _collect(df):
    rows = df.collect()
    out = {}
    for r in rows:
        out.setdefault(r["doc_id"], []).append(
            (r["order"], r["kind"], r["text"], r["media_ref"])
        )
    for v in out.values():
        v.sort()
    return out


def _assert_equal(spark_out, oracle_out):
    assert set(spark_out) == {d for d, v in oracle_out.items() if v}
    for doc_id, expected in oracle_out.items():
        got = spark_out.get(doc_id, [])
        assert got == expected, (
            f"{doc_id}: first divergence at "
            f"{next((i for i, (a, b) in enumerate(zip(got, expected)) if a != b), 'len')} "
            f"(got {len(got)} spans, expected {len(expected)})"
        )


@pytest.mark.parametrize("mode", ["staged", "staged_banded", "fused", "hybrid"])
def test_pipeline_matches_oracle(spark, corpus, oracle_out, mode):
    df = docs_to_df(spark, corpus)
    # low threshold so the hybrid run genuinely routes docs down BOTH paths
    kw = {"hybrid_threshold": 60} if mode == "hybrid" else {}
    if mode == "staged_banded":
        # threshold 0 sends every non-empty doc down the whale branch: the
        # banded stage 1 (distributed prefix scan) must be span-identical
        # to the plain doc_id-window derivation
        mode, kw = "hybrid", {"hybrid_threshold": 0}
    got = _collect(extract_spans(df, CFG, mode=mode, **kw))
    _assert_equal(got, oracle_out)


def test_traits_covered(corpus):
    """The generated corpus actually exercises the contract traits."""
    kinds = set()
    has_footer_doc = False
    has_no_fonts = False
    has_big = False
    n_media = 0
    for _, spans in corpus:
        kinds.update(s["kind"] for s in spans)
        pages = {s.get("page") for s in spans}
        if len([s for s in spans if s["kind"] == "page_marker"]) >= 4:
            has_footer_doc = True
        if all(s["font_size"] is None for s in spans):
            has_no_fonts = True
        if len(pages) > 50:
            has_big = True
        n_media += sum(1 for s in spans if s["kind"] in ("figure", "table"))
    assert kinds >= {"text", "page_marker", "figure", "table"}
    assert has_footer_doc and has_no_fonts
    assert n_media > 5


def test_oracle_output_is_nonempty(oracle_out):
    assert sum(len(v) for v in oracle_out.values()) > N_DOCS


def test_extract_arrays_shape(spark, corpus, oracle_out):
    """Per-document array form (doc_id, out array<struct<order,kind,text,
    media_ref>>) — the FIXTURES.md §2 equality shape."""
    from pdf_extraction_and_query_spark.plans.extract import extract_arrays

    df = docs_to_df(spark, corpus)
    rows = extract_arrays(df, CFG, mode="hybrid").collect()
    got = {
        r["doc_id"]: [
            (o["order"], o["kind"], o["text"], o["media_ref"]) for o in r["out"]
        ]
        for r in rows
    }
    nonempty = {d: v for d, v in oracle_out.items() if v}
    assert set(got) == set(nonempty)
    for doc_id, expected in nonempty.items():
        assert got[doc_id] == expected, doc_id


def _span(kind, text, offset, media_ref=None, **fields):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset, **fields}


def test_fused_edge_cases_match_oracle(spark):
    """Arrow-batch edge cases of the fused path: more docs than
    ``arrow.maxRecordsPerBatch`` (several batches), a batch in which
    ``font_size``/``bold``/``page`` are null in every span, an empty
    ``spans`` array, docs with zero output rows, and a span schema without
    ``page``/``font_size``/``bold`` at all."""
    from pyspark.sql import types as T

    from pdf_extraction_and_query_spark.sources.corpus import SPAN_STRUCT

    nulls = dict(page=None, font_size=None, bold=None)
    bare = [
        ("bare0", [_span("text", f"bare doc line {i} that is long enough", i) for i in range(3)]),
        ("bare1", [
            _span("page_marker", "--- Page 1 ---", 0),
            _span("figure", "Figure 1", 1, "fig://b/1"),
            _span("text", "after the figure", 2),
        ]),
    ]
    # bare0 and bare1 have page/font_size/bold null throughout: the batch
    # holding just them (the first, at local[4]) has all-null children
    docs = [(d, [{**s, **nulls} for s in spans]) for d, spans in bare] + [
        ("empty", []),
        ("markers", [_span("page_marker", "--- Page 1 ---", 0, **nulls)]),
        ("blank", [_span("text", "  ", 0, **nulls), _span("text", None, 1, **nulls)]),
    ] + synth_docs(4, seed=7)
    oracle = {
        d: [(r["order"], r["kind"], r["text"], r["media_ref"]) for r in extract_document(s, CFG)]
        for d, s in docs
    }
    assert not oracle["empty"] and not oracle["markers"] and not oracle["blank"]

    fields = ("kind", "text", "media_ref", "offset")
    bare_struct = T.StructType([SPAN_STRUCT[f] for f in fields])
    bare_df = spark.createDataFrame(
        [(d, [{f: s[f] for f in fields} for s in spans]) for d, spans in bare],
        T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", T.ArrayType(bare_struct)),
        ]),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = _collect(extract_spans(docs_to_df(spark, docs), CFG, mode="fused"))
        got_bare = _collect(extract_spans(bare_df, CFG, mode="fused"))
    finally:
        spark.conf.set(key, old)
    _assert_equal(got, oracle)
    _assert_equal(got_bare, {d: oracle[d] for d, _ in bare})


def test_span_lists_rebase_sliced_batches():
    """A sliced Arrow batch keeps its parent's list offsets; each doc's
    bounds must be rebased onto the flattened slice."""
    import pyarrow as pa

    from pdf_extraction_and_query_spark.operators.extraction import _span_lists

    typ = pa.list_(
        pa.struct([("kind", pa.string()), ("offset", pa.int32()), ("font_size", pa.float64())])
    )
    arr = pa.array(
        [
            [{"kind": "a", "offset": 0, "font_size": 1.0}],
            [],
            [
                {"kind": "b", "offset": 5, "font_size": float("nan")},
                {"kind": "c", "offset": 6, "font_size": 2.5},
            ],
            [{"kind": "d", "offset": 7, "font_size": None}],
        ],
        typ,
    )
    cols, bounds = _span_lists(arr.slice(1, 2))
    assert bounds == [0, 0, 2]
    assert cols[0] == ["b", "c"] and cols[3] == [5, 6]
    assert cols[5] == [None, 2.5]  # NaN reads as missing
    assert cols[1] == cols[4] == cols[6] == [None, None]  # absent fields
    cols, bounds = _span_lists(arr)
    assert bounds == [0, 1, 1, 3, 4]
    assert cols[5] == [1.0, None, 2.5, None]
