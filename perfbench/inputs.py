"""Seeded inputs and their references, built in set-up.

Span corpora come from the package's own pure generator
(``sources.corpus.synth_doc``, the function ``synth_docs_df`` maps over its
executors) and are written here with pyarrow at a fixed file count, so set-up
starts no Python worker and the workers a run measures are fresh.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from typing import Dict, Iterable, List, Tuple

SPAN_FILES = 8


def span_arrow_schema():
    import pyarrow as pa

    span = pa.struct(
        [
            pa.field("kind", pa.string(), False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), False),
            pa.field("page", pa.int32()),
            pa.field("font_size", pa.float64()),
            pa.field("bold", pa.bool_()),
        ]
    )
    return pa.schema(
        [pa.field("doc_id", pa.string(), False), pa.field("spans", pa.list_(span), False)]
    )


def write_span_corpus(docs: List[Tuple[str, list]], path: str, n_files: int = SPAN_FILES) -> None:
    """Contiguous slices of ``docs`` into ``n_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    schema = span_arrow_schema()
    per = -(-len(docs) // n_files)
    for i in range(n_files):
        part = docs[i * per : (i + 1) * per]
        tbl = pa.Table.from_pylist(
            [{"doc_id": d, "spans": s} for d, s in part], schema=schema
        )
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))


# page-count classes of synth_doc and their shares of its draws: memos and
# short docs, reports, long reports, whales-in-waiting (still far below the
# hybrid whale threshold)
SIZE_CLASSES = ((1, 3, 0.64), (4, 12, 0.28), (20, 60, 0.072), (200, 400, 0.008))
LAYOUT_SEED = "perfbench-layout"


def _pages(spans: list) -> int:
    return sum(s["kind"] == "page_marker" for s in spans)


def skewed_corpus(n_docs: int, seed: int) -> List[Tuple[str, list]]:
    """``n_docs`` seeded synthetic documents with a FIXED count per page-count
    class, laid out in a fixed, seed-independent order. The seed changes the
    documents' content; the skew (how many long reports, and which slots of
    which files hold them) is the same in every run, so runs do the same work."""
    from pdf_extraction_and_query_spark.sources.corpus import synth_doc

    quota = [round(n_docs * share) for _lo, _hi, share in SIZE_CLASSES]
    quota[0] += n_docs - sum(quota)
    pools: List[list] = [[] for _ in SIZE_CLASSES]
    i = 0
    while any(len(p) < q for p, q in zip(pools, quota)):
        doc_id = f"doc{i:07d}"
        i += 1
        spans = synth_doc(doc_id, seed)
        n = _pages(spans)
        for c, (lo, hi, _share) in enumerate(SIZE_CLASSES):
            if lo <= n <= hi and len(pools[c]) < quota[c]:
                pools[c].append((doc_id, spans))
    layout = [c for c, q in enumerate(quota) for _ in range(q)]
    random.Random(LAYOUT_SEED).shuffle(layout)
    picks = [iter(p) for p in pools]
    return [next(picks[c]) for c in layout]


def small_docs(seed: int, max_pages: int = 3):
    """Endless seeded stream of synthetic documents of at most ``max_pages``."""
    from pdf_extraction_and_query_spark.sources.corpus import synth_doc

    i = 0
    while True:
        doc_id = f"doc{i:07d}"
        i += 1
        spans = synth_doc(doc_id, seed)
        if _pages(spans) <= max_pages:
            yield doc_id, spans


def span_digest(recs: Iterable[tuple]) -> str:
    """Digest of one document's output sequence of (order, kind, text, media_ref)."""
    return hashlib.blake2b(json.dumps(sorted(recs)).encode(), digest_size=16).hexdigest()


def oracle_digests(docs: List[Tuple[str, list]]) -> Dict[str, str]:
    """Per-doc digest of the eager kernel's output, the reference every Spark
    path must equal span for span."""
    from pdf_extraction_and_query_spark.core.docpipe import extract_document

    return {
        doc_id: span_digest(
            (r["order"], r["kind"], r["text"], r["media_ref"]) for r in extract_document(spans)
        )
        for doc_id, spans in docs
    }


def sink_digests(path: str, where=None) -> Dict[str, str]:
    """Per-doc digest of an extraction sink read back with pyarrow."""
    from common import read_parquet_rows

    tbl = read_parquet_rows(path, ["doc_id", "order", "kind", "text", "media_ref"])
    if where is not None:
        tbl = tbl.filter(where)
    by_doc: Dict[str, list] = {}
    cols = [tbl.column(c).to_pylist() for c in ("doc_id", "order", "kind", "text", "media_ref")]
    for d, o, k, t, m in zip(*cols):
        by_doc.setdefault(d, []).append((o, k, t, m))
    return {d: span_digest(v) for d, v in by_doc.items()}


def count_mismatches(got: Dict[str, str], want: Dict[str, str]) -> int:
    """Documents whose output differs from the reference, or is not in the
    reference at all. A document the kernel maps to no spans (a header-only
    section, say) writes no sink row, so its absence means empty output."""
    empty = span_digest([])
    return sum(got.get(d, empty) != h for d, h in want.items()) + len(set(got) - set(want))


def seeded_sample(items: list, k: int, seed: int) -> list:
    return random.Random(f"sample:{seed}").sample(items, min(k, len(items)))
