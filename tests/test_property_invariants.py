"""Property-based invariants (hypothesis) for the pure-Python kernels.

The reference pins behavior with hand-written invariant tests
(tests/unit/test_chunking.py, test_text_cleaning.py); these generalize the
same invariants over randomized inputs: size bounds, order/content
preservation, idempotence, and oracle determinism.
"""

import re

from hypothesis import given, settings, strategies as st

from pdf_extraction_and_query_spark.core.boilerplate import normalize_line
from pdf_extraction_and_query_spark.core.chunker import SectionChunker
from pdf_extraction_and_query_spark.core.docpipe import ExtractConfig, extract_document
from pdf_extraction_and_query_spark.core.splitter import (
    DEFAULT_SEPARATORS,
    RecursiveCharacterSplitter,
)
from pdf_extraction_and_query_spark.core.textclean import PAGE_MARKER_RE, clean

# words + whitespace + punctuation + unicode, biased toward text-like input
_text = st.text(
    alphabet=st.sampled_from(
        list("abcdefghij XYZ.:!?;,\n\t0123456789-#") + ["é", "日"]
    ),
    max_size=2000,
)


@settings(max_examples=150, deadline=None)
@given(_text, st.integers(50, 400), st.integers(0, 120))
def test_splitter_respects_size_bound(text, size, overlap):
    sp = RecursiveCharacterSplitter(
        chunk_size=size, chunk_overlap=min(overlap, size - 1)
    )
    chunks = sp.split_text(text)
    assert all(len(c) <= size for c in chunks)
    assert all(c == c.strip() and c for c in chunks)


@settings(max_examples=150, deadline=None)
@given(_text, st.integers(50, 400))
def test_splitter_preserves_content_order(text, size):
    sp = RecursiveCharacterSplitter(chunk_size=size, chunk_overlap=0)
    chunks = sp.split_text(text)
    # with zero overlap, chunks appear in order in the original text
    pos = 0
    for c in chunks:
        found = text.find(c, pos)
        assert found >= 0, (c, pos)
        pos = found


# the regex specs the fast paths replace: the oracles for the two tests below
_SPEC_DIGITS_RE = re.compile(r"\d+")
_SPEC_WS_RE = re.compile(r"\s+")


def _spec_normalize_line(t):
    return _SPEC_WS_RE.sub(" ", _SPEC_DIGITS_RE.sub("0", t.lower())).strip()


def _spec_clean(t):
    t = PAGE_MARKER_RE.sub("", t)
    t = re.sub(r" +", " ", t)
    t = re.sub(r"\n{3,}", "\n\n", t)
    return "\n".join(line.strip() for line in t.split("\n"))


# any code point, biased toward the ones the fast paths must get right:
# Unicode whitespace and digits, case mappings that change length or
# context (final sigma, dotted I, ligatures), and page-marker pieces
_unicode_text = st.lists(
    st.one_of(
        st.sampled_from(
            [" ", "  ", "\n", "\n\n\n", "\t", "-", "--- Page 7 ---\n", "-page 3-\n",
             "- PAGE ٣ -\n", "Page", "7",
             "\u3000", "\x1c", "\x1f", "\x85", "\xa0", "\u2028", "\u200b",
             "\u0663", "\u06f4", "\u0e53", "\u2460", "\u00b2",
             "\u03a3", "\u0130", "\ufb01", "\u00df", "\u212a"]
        ),
        st.characters(),
    ),
    max_size=120,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(_unicode_text)
def test_normalize_line_equals_regex_spec(text):
    assert normalize_line(text) == _spec_normalize_line(text)


@settings(max_examples=300, deadline=None)
@given(_unicode_text)
def test_clean_equals_three_sub_spec(text):
    assert clean(text, validate=False)[0] == _spec_clean(text)


@settings(max_examples=100, deadline=None)
@given(_text)
def test_clean_idempotent_and_bounded(text):
    once, _ = clean(text, validate=False)
    twice, _ = clean(once, validate=False)
    assert twice == once  # cleaning is idempotent
    assert "\n\n\n" not in once
    assert not re.search(r"(?i)-+\s*Page\s+\d+\s*-+\s*\n", once)


@settings(max_examples=80, deadline=None)
@given(_text, st.booleans())
def test_chunker_modes_bounded_and_nonempty(text, section_aware):
    ch = SectionChunker(
        max_chunk_size=300, chunk_overlap=60, use_section_awareness=section_aware
    )
    chunks = ch.chunk(text)
    for c in chunks:
        assert 0 < c["chunk_size"] <= 300
        assert c["chunk_size"] == len(c["text"])


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["text", "page_marker", "figure", "table"]),
            st.text(alphabet=list("ab AB.:\n0"), max_size=60),
        ),
        max_size=40,
    )
)
def test_extract_document_total_and_deterministic(kind_texts):
    spans = [
        {
            "kind": k,
            "text": t if k != "figure" else (t or None),
            "media_ref": f"m://{i}" if k in ("figure", "table") else None,
            "offset": i,
            "page": None,
            "font_size": 12.0 if k == "text" else None,
            "bold": False if k == "text" else None,
        }
        for i, (k, t) in enumerate(kind_texts)
    ]
    out1 = extract_document(spans, ExtractConfig())
    out2 = extract_document(list(reversed(spans)), ExtractConfig())
    assert out1 == out2  # input order by offset, not list order
    assert [r["order"] for r in out1] == list(range(len(out1)))
    n_media = sum(1 for k, _ in kind_texts if k in ("figure", "table"))
    assert sum(1 for r in out1 if r["kind"] != "text") == n_media
