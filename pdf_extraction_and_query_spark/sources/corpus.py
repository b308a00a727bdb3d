"""Deterministic synthetic span corpora.

Two generators:

* :func:`synth_docs` — seeded, pure function of ``(seed, n_docs)``; emits the
  structural traits the reference's fixture PDFs exercised (FIXTURES.md §3):
  page markers (case/dash variants), wrapped sentences with lowercase /
  conjunction continuations, bold/caps headers, numbered sections with
  decoys, list bait (bullets, ``1)``, ``Name Surname, Title``), repeated
  header/footer boilerplate, interleaved figure/table media spans, unicode,
  separator-less long words, oversized sections, and a skewed size mix of
  1-page memos vs multi-hundred-page reports.

* :func:`spans_from_text` — derives a span document deterministically from a
  plain text blob (used to lift the driver's ``documents.parquet`` into the
  span schema so per-operator queries run on shared, oracle-visible data).
"""

from __future__ import annotations

import random
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("font_size", T.DoubleType(), True),
        T.StructField("bold", T.BooleanType(), True),
    ]
)

SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

_WORDS = (
    "merger acquisition diligence covenant liability indemnity escrow "
    "warranty disclosure schedule party agreement closing condition "
    "material adverse change representation consent termination fee "
    "employee benefit plan severance equity option vesting clause"
).split()

_CONTINUATIONS = ["and", "or", "the", "to", "of", "in", "for", "with"]

_UNICODE_SNIPPETS = ["café", "naïve", "日本語", "©®€£¥§", "résumé"]


class _DocBuilder:
    def __init__(self) -> None:
        self.spans: List[Dict[str, Any]] = []
        self._off = 0
        self._page = 0
        self._media = 0

    def add(
        self,
        kind: str,
        text: Optional[str] = None,
        media_ref: Optional[str] = None,
        font_size: Optional[float] = None,
        bold: Optional[bool] = None,
        page: Optional[int] = None,
    ) -> None:
        self.spans.append(
            {
                "kind": kind,
                "text": text,
                "media_ref": media_ref,
                "offset": self._off,
                "page": page if page is not None else (self._page or None),
                "font_size": font_size,
                "bold": bold,
            }
        )
        self._off += 1

    def new_page(self, rng: random.Random) -> None:
        self._page += 1
        dashes = "-" * rng.choice([3, 3, 3, 8])
        word = rng.choice(["Page", "Page", "PAGE"])
        self.add(
            "page_marker",
            f"{dashes} {word} {self._page} {dashes}",
            page=self._page,
        )

    def media(self, rng: random.Random, doc_id: str) -> None:
        kind = rng.choice(["figure", "table"])
        self._media += 1
        caption = (
            f"{'Figure' if kind == 'figure' else 'Table'} {self._media}: "
            f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}"
        )
        self.add(kind, caption, media_ref=f"{kind[:3]}://{doc_id}/{self._media}")


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _body_paragraph(b: _DocBuilder, rng: random.Random, n_lines: int) -> None:
    """Wrapped prose: mid-sentence line breaks with continuation starts."""
    for i in range(n_lines):
        last = i == n_lines - 1
        if rng.random() < 0.3:
            lead = rng.choice(_CONTINUATIONS) + " "
        else:
            lead = ""
        text = lead + _sentence(rng, rng.randint(6, 12))
        if last or rng.random() < 0.35:
            text = text.rstrip() + rng.choice([".", ".", ".", ":", ";", "?"])
        if rng.random() < 0.05:
            text += " " + rng.choice(_UNICODE_SNIPPETS)
        b.add("text", text, font_size=12.0, bold=False)


def _header(b: _DocBuilder, rng: random.Random, title: str, style: str) -> None:
    if style == "caps":
        b.add("text", title.upper(), font_size=12.0, bold=True)
    elif style == "big":
        b.add("text", title.title(), font_size=16.0, bold=True)
    else:
        b.add("text", title.title() + ":", font_size=13.0, bold=True)


def _list_bait(b: _DocBuilder, rng: random.Random) -> None:
    b.add("text", "John Smith, Jane Doe, Bob Johnson", font_size=12.0, bold=True)
    b.add("text", "- first item of the list", font_size=12.0, bold=False)
    b.add("text", "1) numbered provision applies", font_size=12.0, bold=False)
    b.add("text", "Mary Jones, Chief Counsel", font_size=12.0, bold=True)


def synth_doc(doc_id: str, seed: int = 42) -> List[Dict[str, Any]]:
    """One deterministic document; archetype + size derived from doc_id."""
    rng = random.Random(f"{seed}:{doc_id}")
    b = _DocBuilder()
    archetype = rng.choice(["handbook", "budget", "minutes", "contract", "memo"])
    # skewed size mix: mostly small, a heavy tail of big reports
    r = rng.random()
    if archetype == "memo" or r < 0.55:
        n_pages = 1 + rng.randint(0, 2)
    elif r < 0.9:
        n_pages = rng.randint(4, 12)
    elif r < 0.99:
        n_pages = rng.randint(20, 60)
    else:
        n_pages = rng.randint(200, 400)

    footer = f"Confidential - Acme Corp {doc_id}"
    section_no = 0
    for _ in range(n_pages):
        b.new_page(rng)
        if rng.random() < 0.25:
            section_no += 1
            sub = rng.random()
            title = _sentence(rng, rng.randint(2, 4)).title()
            if sub < 0.5:
                b.add("text", f"{section_no}. {title}", font_size=12.0, bold=True)
            elif sub < 0.8:
                b.add("text", f"{section_no}.1 {title}", font_size=12.0, bold=False)
            else:
                _header(b, rng, title, rng.choice(["caps", "big", "colon"]))
        n_paras = rng.randint(1, 3)
        for _ in range(n_paras):
            _body_paragraph(b, rng, rng.randint(2, 6))
        if rng.random() < 0.15:
            b.media(rng, doc_id)
        if rng.random() < 0.08:
            _list_bait(b, rng)
        if rng.random() < 0.04:
            b.add("text", "x" * rng.randint(150, 400), font_size=12.0, bold=False)
        if n_pages >= 4:
            b.add("text", footer, font_size=9.0, bold=False)

    # occasionally omit formatting metadata entirely (degrade-gracefully path)
    if rng.random() < 0.1:
        for s in b.spans:
            s["font_size"] = None
            s["bold"] = None
    # occasionally omit the page field so it must be derived from markers
    if rng.random() < 0.3:
        for s in b.spans:
            s["page"] = None
    return b.spans


def synth_docs(n_docs: int, seed: int = 42) -> List[Tuple[str, List[Dict[str, Any]]]]:
    return [(f"doc{i:05d}", synth_doc(f"doc{i:05d}", seed)) for i in range(n_docs)]


def footer_text(doc_id: str, page: int) -> str:
    """The per-page repeated footer injected by :func:`spans_from_text`."""
    from .. import contract as C

    return f"{C.CORPUS_FOOTER_PREFIX}{doc_id} - page {page}"


def spans_from_text(doc_id: str, text: str) -> List[Dict[str, Any]]:
    """Deterministically lift a plain-text blob into the span schema by pure
    word-index arithmetic (constants in ``contract``): lines of exactly
    ``CORPUS_WORDS_PER_LINE`` words, pages of ``CORPUS_LINES_PER_PAGE``
    lines, each page opened by a page marker and closed by a repeated footer
    (the north-rule boilerplate target), and a figure span preceding line
    ``i`` whenever ``i % CORPUS_FIG_EVERY == CORPUS_FIG_PHASE``.

    Because every structural count is integer arithmetic on the word index,
    the span layout is exactly reproducible in ANSI SQL — the DuckDB oracle
    in ``plans/registry.py`` pairs span-derived queries on this shape."""
    from .. import contract as C

    words = text.split()
    wpl, lpp = C.CORPUS_WORDS_PER_LINE, C.CORPUS_LINES_PER_PAGE
    n_lines = (len(words) + wpl - 1) // wpl

    b = _DocBuilder()
    fig = 0
    for i in range(n_lines):
        if i % lpp == 0:
            if i > 0:
                b.add("text", footer_text(doc_id, b._page), font_size=9.0, bold=False)
            b._page += 1
            b.add("page_marker", f"--- Page {b._page} ---", page=b._page)
        if i % C.CORPUS_FIG_EVERY == C.CORPUS_FIG_PHASE:
            fig += 1
            b.add("figure", f"Figure {fig}", media_ref=f"fig://{doc_id}/{fig}")
        b.add("text", " ".join(words[i * wpl : (i + 1) * wpl]), font_size=12.0, bold=False)
    if n_lines:
        b.add("text", footer_text(doc_id, b._page), font_size=9.0, bold=False)
    return b.spans


def synth_docs_df(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed synthetic corpus: doc ids fan out via spark.range and each
    executor synthesizes its documents (synth_doc is a pure function of
    (seed, doc_id)) — no driver-side generation loop, scales to any n_docs."""
    from ..operators.util import arrow_rows

    partitions = partitions or max(32, n_docs // 100)

    def gen(i):
        d = f"doc{i:07d}"
        yield d, synth_doc(d, seed)

    return arrow_rows(
        spark.range(0, n_docs, numPartitions=partitions), ("id",), SPANS_SCHEMA, gen
    )


def docs_to_df(
    spark: SparkSession, docs: List[Tuple[str, List[Dict[str, Any]]]]
) -> DataFrame:
    return spark.createDataFrame(
        [(doc_id, spans) for doc_id, spans in docs], schema=SPANS_SCHEMA
    )


def spans_table_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span corpus derived from the driver's documents.parquet (doc_id, text)
    — distributed derivation in one Arrow pass, no driver-side loop."""
    from .packaging import ensure_shipped

    ensure_shipped(spark)
    from ..operators.util import arrow_rows, fan_out

    # the driver table is physically ONE small parquet file — without the
    # fan-out the whole python-side derivation runs as a single task
    # (PLANS.md #13; the Python derivation amplifies compute over bytes
    # even harder than the gram explodes)
    docs = fan_out(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )

    return arrow_rows(
        docs,
        ("doc_id", "text"),
        SPANS_SCHEMA,
        lambda d, t: [(str(d), spans_from_text(str(d), t or ""))],
    )
