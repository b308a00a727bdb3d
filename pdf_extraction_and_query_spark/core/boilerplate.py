"""Repeated-line-frequency boilerplate (header/footer) stripping.

This operator has NO reference implementation — the reference's closest
analogs are the page-marker regex (``src/preprocessing/text_cleaner.py:63-65``)
and the formatting heuristics. The north rule requires it, so we define the
spec here once and implement it twice: eagerly (this module, used by the
oracle) and Spark-natively (window ``collect_set(page)`` per normalized line
— see ``operators/layout.py``).

Spec (deterministic):
  * normalize(line) = lowercase, digit runs -> ``0``, whitespace runs -> one
    space, stripped;
  * a text line is boilerplate iff its normalized form is non-empty, at most
    ``MAX_BOILERPLATE_LEN`` chars, and occurs on >= ``min_pages`` *distinct
    pages* of the same document;
  * the check is per-document and only fires for documents spanning
    >= ``min_pages`` pages.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, Set, Tuple

DEFAULT_MIN_PAGES = 4
MAX_BOILERPLATE_LEN = 120

_DIGITS_RE = re.compile(r"\d+")


def normalize_line(text: str) -> str:
    """Spec normalization. ``str.split()`` splits on exactly the characters
    the regex ``\\s`` matches (``str.isspace``), so joining its parts with one
    space equals ``re.sub(r"\\s+", " ", ...).strip()`` without the regex."""
    return " ".join(_DIGITS_RE.sub("0", text.lower()).split())


def boilerplate_keys_from_norms(
    norm_pages: Iterable[Tuple[str, int]], min_pages: int = DEFAULT_MIN_PAGES
) -> Set[str]:
    """Like :func:`boilerplate_keys` but over pre-normalized lines (the hot
    path normalizes once and reuses the result for the membership test)."""
    pages_by_norm: Dict[str, Set[int]] = {}
    doc_pages: Set[int] = set()
    for norm, page in norm_pages:
        doc_pages.add(page)
        if not norm or len(norm) > MAX_BOILERPLATE_LEN:
            continue
        pages_by_norm.setdefault(norm, set()).add(page)
    if len(doc_pages) < min_pages:
        return set()
    return {n for n, pages in pages_by_norm.items() if len(pages) >= min_pages}


def boilerplate_keys(
    lines: Iterable[Tuple[str, int]], min_pages: int = DEFAULT_MIN_PAGES
) -> Set[str]:
    """Given ``(text, page)`` pairs for ONE document, return the normalized
    forms considered boilerplate."""
    return boilerplate_keys_from_norms(
        ((normalize_line(text), page) for text, page in lines), min_pages
    )
