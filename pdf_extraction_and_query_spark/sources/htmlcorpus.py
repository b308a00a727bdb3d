"""Deterministic HTML page corpus derived from the driver's documents table.

:func:`html_from_text` lifts ``documents.text`` into a full HTML page by
pure word-index arithmetic (constants in ``contract``): content paragraphs
of ``HTML_WORDS_PER_PARA`` words, a figure (``<img>``) preceding paragraph
``i`` when ``i % HTML_IMG_EVERY == HTML_IMG_PHASE``, an inline link
wrapping the first ``HTML_LINK_WORDS`` words on the link cadence, and an
``&amp; more`` entity suffix on the amp cadence — all wrapped in a
boilerplate template (head title/style/script, header nav with a logo img,
a link-list sidebar div, a cookie banner, a share strip, a footer) that the
extractor (``core/htmlmain.py``) must strip to recover exactly the content.

Because the content layout is integer arithmetic, the expected extraction
is reproducible in ANSI SQL — the ``html_extract`` / ``html_extract_report``
oracles in ``plans/registry.py`` re-derive it from ``documents`` directly
(the same meet-in-the-middle pattern as ``corpus.spans_from_text``).

Scale: generation and extraction are one narrow Arrow pass each (no
shuffle); at 10^12 documents the HTML column lives in the source table and
only the extractor runs.
"""

from __future__ import annotations

import html as _html
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import contract as C

HTML_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("html", T.StringType(), False),
    ]
)


def html_from_text(doc_id: str, text: str) -> str:
    """Pure function of (doc_id, text) — see module docstring."""
    words = (text or "").split()
    wpp = C.HTML_WORDS_PER_PARA
    n_paras = (len(words) + wpp - 1) // wpp

    # interpolated ids are escaped (quote=True: they land in attribute
    # values too); parser-side entity decoding round-trips them, so the
    # arithmetic oracles keep seeing the raw id
    did = _html.escape(doc_id, quote=True)
    parts: List[str] = []
    parts.append("<!DOCTYPE html><html><head>")
    parts.append(f"<title>Document {did}</title>")
    cid = (
        str(int(doc_id) % C.HTML_CANONICAL_MOD)
        if doc_id.isdigit()
        else did
    )
    parts.append(f'<link rel="canonical" href="{C.HTML_CANONICAL_PREFIX}{cid}">')
    if (
        doc_id.isdigit()
        and int(doc_id) % C.HTML_NOINDEX_EVERY == C.HTML_NOINDEX_PHASE
    ):
        parts.append('<meta name="robots" content="noindex,nofollow">')
    parts.append("<style>body{font:12px serif}.x{color:red}</style>")
    parts.append("<script>var tracking='never a span';</script>")
    parts.append("</head><body>")
    # structural boilerplate: header nav (+ a logo img that must NOT become
    # a media span)
    parts.append('<header><img src="img://logo" alt="Logo"><nav><ul>')
    for item in C.HTML_NAV_ITEMS:
        parts.append(f'<li><a href="/{item.lower()}">{item}</a></li>')
    parts.append("</ul></nav></header>")
    # link-density boilerplate: sidebar is a plain div (no semantic tag) —
    # only the link-density rule can kill these blocks
    parts.append('<div class="sidebar"><ul>')
    for k in range(C.HTML_SIDEBAR_LINKS):
        parts.append(f'<li><a href="/t/{k}">More {k}</a></li>')
    parts.append("</ul></div>")
    parts.append(
        '<div id="cookie">We use cookies. <a href="#a">Accept all</a> '
        '<a href="#d">Decline all</a></div>'
    )
    # main content
    parts.append('<div class="content">')
    fig = 0
    for i in range(n_paras):
        if i % C.HTML_IMG_EVERY == C.HTML_IMG_PHASE:
            fig += 1
            parts.append(
                f'<figure><img src="img://{did}/{fig}" '
                f'alt="Figure {fig}"></figure>'
            )
        pw = words[i * wpp : (i + 1) * wpp]
        if (
            i % C.HTML_LINK_EVERY == C.HTML_LINK_PHASE
            and len(pw) > C.HTML_LINK_WORDS
        ):
            head = _html.escape(" ".join(pw[: C.HTML_LINK_WORDS]))
            tail = _html.escape(" ".join(pw[C.HTML_LINK_WORDS :]))
            body = f'<a href="/ref/{i}">{head}</a> {tail}'
        else:
            body = _html.escape(" ".join(pw))
        if i % C.HTML_AMP_EVERY == C.HTML_AMP_PHASE:
            body += " &amp; more"
        parts.append(f"<p>{body}</p>")
    parts.append("</div>")
    # link-density boilerplate: pure-link share strip
    parts.append(
        '<div class="share"><a href="#s">Share</a> <a href="#t">Tweet</a></div>'
    )
    # structural boilerplate: footer
    parts.append(
        f"<footer><p>&copy; 2024 Corp. All rights reserved. {did}</p></footer>"
    )
    parts.append("</body></html>")
    return "".join(parts)


def html_table_from_texts(docs_df: DataFrame) -> DataFrame:
    """(doc_id, html) from any (doc_id, text) frame — one Arrow pass, no
    shuffle of its own (callers balance the INPUT; the generation is
    python compute amplified over bytes just like the parse)."""
    from ..operators.util import arrow_rows

    return arrow_rows(
        docs_df,
        ("doc_id", "text"),
        HTML_SCHEMA,
        lambda d, t: [(str(d), html_from_text(str(d), t or ""))],
    )


def html_table_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, html) derived from the driver's documents.parquet —
    distributed derivation in one Arrow pass, no driver-side loop. The RAW
    text rows are balanced to the parse target BEFORE generation, so the
    one exchange in the whole html chain moves source text (lighter than
    the generated pages); the downstream operators' ``balance_for_parse``
    guard sees the marker and becomes a no-op."""
    from .packaging import ensure_shipped

    ensure_shipped(spark)
    from ..operators.htmlextract import _PRE_BALANCED_ATTR, balance_for_parse

    docs = balance_for_parse(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    out = html_table_from_texts(docs)
    # the generation is a narrow map over the balanced input — carry the
    # marker forward so the parse operators don't re-shuffle the pages
    setattr(out, _PRE_BALANCED_ATTR, True)
    return out
