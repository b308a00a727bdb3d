"""Text cleaning / normalization kernel.

Reference semantics: ``src/preprocessing/text_cleaner.py:30-105`` and pattern
``src/config/constants.py:21`` of nahmann/PDF-Extraction-and-Query.

Contracts pinned by the reference's own tests
(``tests/unit/test_text_cleaning.py``):
  * the page-marker regex requires a trailing newline (``:308-316``);
  * prose containing the word "page" must survive (``:54-72``);
  * only runs of *spaces* collapse (tabs survive mid-line) (``:116-130``);
  * >=3 consecutive newlines cap at 2; every line is ``str.strip()``-ed;
  * content-loss warning when >10% of non-whitespace chars vanish
    (``MAX_CONTENT_LOSS_PCT``, ``src/config/constants.py:101``).
"""

from __future__ import annotations

import re
from typing import List, Tuple

# src/config/constants.py:21
PAGE_MARKER_RE = re.compile(r"-+\s*Page\s+\d+\s*-+\s*\n", flags=re.IGNORECASE)

# src/config/constants.py:101
MAX_CONTENT_LOSS_PCT = 10.0

# ``" {2,}"`` rewrites exactly what the reference's ``" +"`` changes (a lone
# space maps to itself) without a substitution per single space
_SPACES_RE = re.compile(r" {2,}")
_NEWLINES_RE = re.compile(r"\n{3,}")
_NONSPACE_RE = re.compile(r"\s")


def remove_page_markers(text: str) -> str:
    """Remove page-break markers like ``--- Page 7 ---\\n``."""
    # every marker contains a "-"; the guard skips the regex scan otherwise
    return PAGE_MARKER_RE.sub("", text) if "-" in text else text


def normalize_whitespace(text: str) -> str:
    """Collapse space runs, cap blank lines at one, strip each line. Each
    substitution runs only when its pattern can match."""
    if "  " in text:
        text = _SPACES_RE.sub(" ", text)
    if "\n\n\n" in text:
        text = _NEWLINES_RE.sub("\n\n", text)
    return "\n".join(line.strip() for line in text.split("\n"))


def validate_cleaned_text(cleaned_text: str, original_text: str) -> List[str]:
    """Warn when cleaning removed >10% of non-whitespace characters."""
    warnings: List[str] = []
    orig_len = len(_NONSPACE_RE.sub("", original_text))
    clean_len = len(_NONSPACE_RE.sub("", cleaned_text))
    if orig_len > 0:
        loss_pct = (1 - clean_len / orig_len) * 100
        if loss_pct > MAX_CONTENT_LOSS_PCT:
            warnings.append(f"Significant content loss detected: {loss_pct:.1f}%")
    return warnings


def clean(text: str, validate: bool = True) -> Tuple[str, List[str]]:
    """Full cleaning composition — marker removal FIRST (the marker regex
    anchors on the raw newline structure), then whitespace normalization,
    then optional validation."""
    original = text
    text = remove_page_markers(text)
    text = normalize_whitespace(text)
    warnings = validate_cleaned_text(text, original) if validate else []
    return text, warnings
