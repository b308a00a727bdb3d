"""HTML main-content extraction as a Spark operator.

North rule (BASELINE.json): the pipeline includes "HTML boilerplate strip
... DOM heuristics". The kernel (``core/htmlmain.py``) is a streaming
stdlib-parser pass — here every operator runs it in ONE parse stage,
:func:`_parse_pass`: one narrow ``mapInArrow`` pass over the (doc_id, html)
table that parses each page once, per-task memory bounded by the largest
single page, embarrassingly parallel at 10^12 docs. The only
possible exchange is the conditional :func:`balance_for_parse` fan-out (a
one-time round-robin of raw pages on under-split small corpora; a no-op
whenever the scan itself guarantees enough partitions) — never a keyed
shuffle.

Output schemas are scalar-only (driver canonicalizer contract):
``html_extract``    -> (doc_id, span_order, kind, text, media_ref)
``html_extract_report`` -> per-doc keep/drop counters.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import contract as C
from ..core.htmlmain import main_content_hash, parse_page
from .util import arrow_rows, fan_out

# The parse amplifies compute ~30x over input BYTES (~0.3 s/MB of python
# parsing vs ~0.01 s/MB of scanning), so byte-sized scan splits schedule it
# in ragged waves: the 36 MB / 64-file scaling corpus packed into 9 splits
# and local[8] ran 8+1 tasks — 2.51x speedup for 4x cores (efficiency
# 0.626 on a 0.98-ceiling box). Fanning to 4x cluster parallelism gives >=4
# balanced waves; the guard is a no-op whenever the scan's own planning
# cost already guarantees that many partitions (any at-scale table), and
# when it fires the exchange moves each raw page exactly once.
_WAVES = 4

# attribute set on a DataFrame wrapper that was ALREADY balanced for the
# parse (the corpus lift balances its raw text input before generation) —
# an explicit marker, not plan-string sniffing: an upstream repartition in
# the plan does not prove the CURRENT partitioning (a later keyed shuffle
# re-partitions down), and plan toString formats are not a contract
# (review finding). If the marker is lost through an intermediate
# transformation the guard merely re-balances — the safe direction.
_PRE_BALANCED_ATTR = "_spark_graft_pre_balanced"


def balance_for_parse(df: DataFrame) -> DataFrame:
    """Conditional 4x-parallelism fan-out for python-amplified stages;
    no-op when the frame is marked already-balanced or the scan itself
    guarantees the target partition count."""
    if getattr(df, _PRE_BALANCED_ATTR, False):
        return df
    sc = df.sparkSession.sparkContext
    out = fan_out(df, target=_WAVES * sc.defaultParallelism)
    setattr(out, _PRE_BALANCED_ATTR, True)
    return out


def _parse_pass(
    html_df: DataFrame,
    schema: str | StructType,
    rows: Callable[[str, object], Iterable[tuple]],
    carry: Sequence[str] = (),
) -> DataFrame:
    """THE HTML parse stage: every page of a (doc_id, html) frame is parsed
    once by ``core.htmlmain.parse_page`` and ``rows(doc_id, parsed)`` yields
    its output tuples in ``schema`` order, in one narrow Arrow pass
    (:func:`operators.util.arrow_rows`; ``carry`` columns ride along
    untouched). A batch frame is balanced first; a streaming frame has no
    scan to size, so it is parsed as it arrives."""
    if not html_df.isStreaming:
        html_df = balance_for_parse(html_df)
    return arrow_rows(
        html_df,
        ("doc_id", "html"),
        schema,
        lambda d, h: rows(str(d), parse_page(h)),
        carry,
    )


_SPAN_SCHEMA = (
    "doc_id string, span_order long, kind string, text string, media_ref string"
)
_REPORT_SCHEMA = (
    "doc_id string, n_spans long, n_text long, n_figures long, "
    "n_chars_main long, n_dropped_structural long, n_dropped_linkdense long, "
    "canonical string, noindex boolean, content_hash string"
)

# md5 of the empty string — the content_hash of a page with no kept text
EMPTY_CONTENT_HASH = "d41d8cd98f00b204e9800998ecf8427e"


def html_extract(html_df: DataFrame) -> DataFrame:
    """Main-content span sequence per document, DOM order (0-based
    ``span_order``); media spans carry (alt, src) as (text, media_ref)."""
    return _parse_pass(
        html_df,
        _SPAN_SCHEMA,
        lambda d, p: ((d, j, *span) for j, span in enumerate(p.spans)),
    )


_LINKS_SCHEMA = "doc_id string, link_order long, href string, in_main boolean"


def html_links(html_df: DataFrame) -> DataFrame:
    """Outbound links per document in appearance order, classified
    ``in_main`` (enclosing block survived both keep heuristics) — the
    link-graph / domain-filter input of a crawl pipeline. Same single
    Arrow-pass shape as the extraction."""
    return _parse_pass(
        html_df,
        _LINKS_SCHEMA,
        lambda d, p: ((d, j, h, m) for j, (h, _t, m) in enumerate(p.links)),
    )


_LINKS_TEXT_SCHEMA = (
    "doc_id string, link_order long, href string, anchor_text string, "
    "in_main boolean"
)


def html_links_text(html_df: DataFrame) -> DataFrame:
    """:func:`html_links` plus the anchor TEXT per link — what the linking
    page calls the target. Same narrow Arrow pass."""
    return _parse_pass(
        html_df,
        _LINKS_TEXT_SCHEMA,
        lambda d, p: ((d, j, *link) for j, link in enumerate(p.links)),
    )


_LINKS_META_SCHEMA = (
    "doc_id string, link_order long, href string, anchor_text string, "
    "in_main boolean, canonical string"
)


def html_links_with_meta(html_df: DataFrame) -> DataFrame:
    """:func:`html_links_text` plus the SOURCE page's canonical URL on
    every row — the link-graph edge input (src page, dst href) in ONE
    Arrow pass: at 10^12 pages a join of two separate parse passes (links
    ⋈ report on doc_id) would parse every page twice and add a doc-keyed
    exchange; here the canonical rides out of the same parse."""
    return _parse_pass(
        html_df,
        _LINKS_META_SCHEMA,
        lambda d, p: (
            (d, j, *link, p.canonical) for j, link in enumerate(p.links)
        ),
    )


def anchor_text_agg(html_df: DataFrame) -> DataFrame:
    """Aggregated anchor-text signal per TARGET URL — the classic web-search
    indexing input (anchor text describes the target better than the target
    describes itself): total inbound anchors, inbound from MAIN content,
    distinct anchor texts, and the most common text (ties break on the
    lexicographically smallest text — deterministic, resumable).

    Plan: the narrow link Arrow pass, then TWO hash aggregations —
    (href, text) partial counts first, then per-href rollup. Both combine
    map-side; the exchanges carry (href, text, counts) summaries, never
    pages, and a skewed target like '/home' splits across its distinct
    texts at level 1 before the level-2 rollup sees one summary row per
    text. The winner is ``min(struct(-cnt, text))`` — highest count, then
    smallest text — one max-able key, no window over raw anchors.

    Factored so the incremental path shares both halves: level-1 partials
    (:func:`anchor_text_partials`) are associative under
    :func:`merge_anchor_partials`, and the level-2 rollup
    (:func:`anchor_agg_from_partials`) is the ONE definition of the final
    signal — the streaming anchor index (``streaming/anchorindex.py``)
    persists partial summaries and applies the same rollup on read."""
    return anchor_agg_from_partials(anchor_text_partials(html_df))


def anchor_text_partials(html_df: DataFrame) -> DataFrame:
    """Level-1 ``(href, anchor_text, cnt, cnt_main)`` partial counts —
    the associative summary the streaming index persists per batch."""
    return (
        html_links_text(html_df)
        .groupBy("href", "anchor_text")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("in_main").cast("long")).cast("long").alias("cnt_main"),
        )
    )


def merge_anchor_partials(summaries: DataFrame) -> DataFrame:
    """Associative merge of partial summaries: counts add. The singleton
    case is a no-op re-aggregation of :func:`anchor_text_partials`."""
    return summaries.groupBy("href", "anchor_text").agg(
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("cnt_main").cast("long").alias("cnt_main"),
    )


def anchor_agg_from_partials(per: DataFrame) -> DataFrame:
    """Level-2 per-href rollup over (href, anchor_text, cnt, cnt_main)
    partials — see :func:`anchor_text_agg` for the signal contract."""
    win = F.min(
        F.struct(
            (-F.col("cnt")).alias("neg"), F.col("anchor_text").alias("text")
        )
    ).alias("w")
    return (
        per.groupBy("href")
        .agg(
            F.sum("cnt").cast("long").alias("n_anchors"),
            F.sum("cnt_main").cast("long").alias("n_anchors_main"),
            F.count("*").cast("long").alias("n_distinct_texts"),
            win,
        )
        .select(
            "href",
            "n_anchors",
            "n_anchors_main",
            "n_distinct_texts",
            F.col("w.text").alias("top_text"),
            (-F.col("w.neg")).cast("long").alias("top_text_n"),
        )
    )


_MAIN_TEXT_SCHEMA = "doc_id string, text string"


def html_main_text(html_df: DataFrame) -> DataFrame:
    """(doc_id, text) where text is the newline-joined kept text spans —
    EXACTLY the string :func:`core.htmlmain.main_content_hash` hashes, as
    a column. The adapter that points the whole text-analytics/dedup
    family (minhash, simhash, quality, tokens) at extracted MAIN content
    instead of raw pages: chrome stops polluting shingles. One narrow
    Arrow pass."""
    return _parse_pass(
        html_df,
        _MAIN_TEXT_SCHEMA,
        lambda d, p: [(d, "\n".join(s[1] for s in p.spans if s[0] == "text"))],
    )


def html_canonical_dups(html_df: DataFrame) -> DataFrame:
    """URL-level dedup: pages sharing a ``rel=canonical`` target are
    mirrors of one logical document — a crawl pipeline keeps one per
    group before any content-level dedup runs. Group key comes from the
    parse (head metadata), keeper = lexicographic min doc_id
    (deterministic, resumable). Plan: the parse pass, then ONE hash
    aggregation on canonical (map-side partial combine; the exchange
    carries (canonical, count, min) triples, never pages)."""
    return (
        html_extract_report(html_df)
        # pages WITHOUT a rel=canonical share canonical='' but are NOT
        # mirrors of each other — never group them (review finding)
        .where(F.col("canonical") != "")
        .groupBy("canonical")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_pages") > 1)
    )


def html_content_dups(html_df: DataFrame) -> DataFrame:
    """Boilerplate-INDEPENDENT exact dedup: group pages by the hash of
    their extracted main content — the reason main-content extraction
    matters for dedup at all (the same article served under different
    site chrome hashes identically here, while a raw-bytes hash never
    matches). Empty-content pages are excluded: sharing 'no content' does
    not make pages duplicates. Same single hash-agg shuffle shape as
    :func:`html_canonical_dups`."""
    return (
        html_extract_report(html_df)
        .where(F.col("content_hash") != EMPTY_CONTENT_HASH)
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_pages") > 1)
    )


def corpus_block_dedup(
    html_df: DataFrame, min_docs: int = C.HTML_BLOCKDUP_MIN_DOCS
) -> DataFrame:
    """Corpus-LEVEL block dedup (CCNet's paragraph dedup / RefinedWeb's
    line-wise dedup): a kept main-content block whose exact text recurs in
    >= ``min_docs`` DISTINCT documents is corpus boilerplate — per-doc
    stripping cannot see it because it only repeats ACROSS documents.
    Emits the per-doc rewrite summary: block/drop counts, chars kept, and
    the deduped content hash.

    Scale shape: the page text never leaves the narrow parse stage — each
    block is reduced to its 32-hex md5 + length immediately, so BOTH
    exchanges (the block-hash window that counts distinct docs, and the
    final per-doc aggregation) carry ~50-byte rows. At 10^12 docs the
    block-frequency exchange is the corpus's block count, not its bytes.
    The content hash is therefore a hash OF BLOCK HASHES in span order
    (md5 of the concatenated kept-block md5s) — the DuckDB oracle computes
    the identical form, so cross-engine equality is exact without ever
    shuffling text."""
    blocks = (
        html_extract(html_df)
        .where(F.col("kind") == "text")
        .select(
            "doc_id",
            "span_order",
            F.md5(F.col("text")).alias("bh"),
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    from pyspark.sql import Window

    # count-distinct-docs per block via one window over the block hash:
    # groups are tiny (the dup multiplicity of one block), and the corpus
    # rides the exchange once as (doc_id, order, 32-hex, len) rows
    nd = F.size(F.collect_set("doc_id").over(Window.partitionBy("bh")))
    dup = F.col("nd") >= F.lit(int(min_docs))
    kept_bh = F.when(~dup, F.struct("span_order", "bh"))
    return (
        blocks.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(dup.cast("long")).cast("long").alias("n_dropped"),
            F.sum(F.when(dup, F.lit(0)).otherwise(F.col("n_chars")))
            .cast("long")
            .alias("n_chars_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_bh)),
                        lambda s: s["bh"],
                    ),
                    "",
                )
            ).alias("content_hash"),
        )
    )


# fetch time for a page whose crawl record carries none: int64 minimum, so
# an untimed fetch loses to ANY timed one and untimed ties break on doc_id
TS_UNKNOWN = -(2**63)


def _winner_struct(ts_col: str, id_col: str, *payload):
    """THE keep-latest total order, as a max-able struct: (coalesced ts,
    doc_id-string) prefix; optional payload columns ride along WITHOUT
    influencing the order (the prefix is unique per group).  Every
    keep-latest consumer (merge_keep_latest, crawl_corpus) builds its
    winner through this one helper so the order cannot drift."""
    return F.struct(
        F.coalesce(F.col(ts_col).cast("long"), F.lit(TS_UNKNOWN)).alias("ts"),
        F.col(id_col).alias("doc_id"),
        *payload,
    )


def merge_keep_latest(summaries: DataFrame) -> DataFrame:
    """Associative keep-latest merge over summary rows (canonical,
    n_crawls, latest_doc_id, latest_fetched_at_ts): counts add, winner =
    max (ts, doc_id-string) — the ONE definition of the total order.
    :func:`crawl_keep_latest` is the singleton case and
    ``streaming/crawlindex`` merges base ∪ delta summaries through this
    same function, so the batch and incremental paths cannot drift
    (review finding). ONE hash aggregation on canonical (map-side partial
    combine); the exchange carries summaries, never pages."""
    win = F.max(_winner_struct("latest_fetched_at_ts", "latest_doc_id")).alias(
        "w"
    )
    return (
        summaries.groupBy("canonical")
        .agg(F.sum("n_crawls").cast("long").alias("n_crawls"), win)
        .select(
            "canonical",
            "n_crawls",
            F.col("w.doc_id").alias("latest_doc_id"),
            F.col("w.ts").alias("latest_fetched_at_ts"),
            (F.col("n_crawls") - F.lit(1)).cast("long").alias("n_superseded"),
        )
    )


def crawl_keep_latest(report_df: DataFrame) -> DataFrame:
    """Recrawl resolution, keep-latest policy (CDX-style URL dedup): among
    pages sharing a ``rel=canonical`` target, keep the MOST RECENT fetch —
    the standard crawl-index rule (vs :func:`html_canonical_dups`' min-id
    mirror listing, this picks the freshest version and reports how many
    older fetches it supersedes). Emits one row per canonical URL,
    including single-fetch URLs (n_superseded = 0), so the output IS the
    deduplicated crawl index.

    Input contract: ``report_df`` carries (doc_id, canonical,
    fetched_at_ts) — canonical from the parse (head metadata), fetch time
    a real column of the crawl (the registry query synthesizes it from
    doc_id arithmetic, the ``doc_listing_full`` timestamp model —
    registry._synth_ts_expr). A null fetch time coerces to
    :data:`TS_UNKNOWN` (never wins against a timed fetch). Winner = max
    (fetched_at_ts, doc_id-string) — see :func:`merge_keep_latest`, whose
    singleton case this is."""
    unit = report_df.where(F.col("canonical") != "").select(
        "canonical",
        F.lit(1).cast("long").alias("n_crawls"),
        F.col("doc_id").alias("latest_doc_id"),
        F.coalesce(
            F.col("fetched_at_ts").cast("long"), F.lit(TS_UNKNOWN)
        ).alias("latest_fetched_at_ts"),
    )
    return merge_keep_latest(unit)


def keep_latest_full_summaries(report_df: DataFrame) -> DataFrame:
    """Singleton FULL keep-latest summaries: one row per fetch carrying
    the winner-candidate's policy payload (noindex, n_chars_main) next to
    the (ts, doc_id) order key — the streaming crawl index persists these
    so the LIVE index can answer the corpus gate without re-parsing."""
    return report_df.where(F.col("canonical") != "").select(
        "canonical",
        F.lit(1).cast("long").alias("n_crawls"),
        F.col("doc_id").alias("latest_doc_id"),
        F.coalesce(
            F.col("fetched_at_ts").cast("long"), F.lit(TS_UNKNOWN)
        ).alias("latest_fetched_at_ts"),
        F.col("noindex").alias("latest_noindex"),
        F.col("n_chars_main").cast("long").alias("latest_n_chars_main"),
    )


def merge_keep_latest_full(summaries: DataFrame) -> DataFrame:
    """Payload-carrying twin of :func:`merge_keep_latest`: same total
    order (same :func:`_winner_struct` prefix — the payload rides the max
    without influencing it, since the (ts, doc_id) prefix is unique per
    group), same single hash aggregation; the winner's policy payload
    survives the merge so downstream gates need no join back."""
    win = F.max(
        _winner_struct(
            "latest_fetched_at_ts",
            "latest_doc_id",
            F.col("latest_noindex").alias("noindex"),
            F.col("latest_n_chars_main").cast("long").alias("n_chars_main"),
        )
    ).alias("w")
    return (
        summaries.groupBy("canonical")
        .agg(F.sum("n_crawls").cast("long").alias("n_crawls"), win)
        .select(
            "canonical",
            "n_crawls",
            F.col("w.doc_id").alias("latest_doc_id"),
            F.col("w.ts").alias("latest_fetched_at_ts"),
            (F.col("n_crawls") - F.lit(1)).cast("long").alias("n_superseded"),
            F.col("w.noindex").alias("latest_noindex"),
            F.col("w.n_chars_main").alias("latest_n_chars_main"),
        )
    )


def corpus_gate(full_summary: DataFrame) -> DataFrame:
    """The indexability policy on RESOLVED winners: admit a canonical URL
    only if its latest fetch is indexable (no robots-noindex) and has
    extractable main content.  Shared by the batch :func:`crawl_corpus`
    and the streaming index's ``crawl_corpus_merged`` — one definition of
    the gate."""
    return full_summary.where(
        (~F.col("latest_noindex")) & (F.col("latest_n_chars_main") > 0)
    ).select(
        "canonical",
        F.col("latest_doc_id").alias("doc_id"),
        F.col("latest_fetched_at_ts").alias("fetched_at_ts"),
        F.col("latest_n_chars_main").alias("n_chars_main"),
        "n_crawls",
    )


def crawl_corpus(report_df: DataFrame) -> DataFrame:
    """The crawl → indexable-corpus gate, end to end: resolve recrawls
    keep-latest per canonical URL, then admit the winning fetch only if
    it is indexable (no robots-noindex) and has extractable main content
    — the version-selection + policy filter a training-data pipeline
    runs between "crawled" and "corpus".  Policy applies to the WINNER:
    a stale indexable fetch never resurrects a URL whose latest fetch
    says noindex (the site's current directive governs — unit-tested).

    Composition of the shared pieces (one definition each): singleton
    full summaries → :func:`merge_keep_latest_full` (the same ONE hash
    aggregation as :func:`crawl_keep_latest`, payload riding the winner
    struct) → :func:`corpus_gate`.  No join back to the pages."""
    return corpus_gate(
        merge_keep_latest_full(keep_latest_full_summaries(report_df))
    )


def recrawl_change_stats(report_df: DataFrame) -> DataFrame:
    """Per-canonical content-CHANGE statistics across recrawls — the
    recrawl-scheduling signal (a URL whose content changes every fetch is
    re-crawled sooner than one that never changes; CDX revisit analysis).
    For each canonical URL: fetch count, distinct content versions
    (boilerplate-independent: the main-content hash), whether the LATEST
    fetch changed vs the previous one (under the keep-latest total order —
    :func:`_winner_struct`'s (ts, doc_id) — so "latest" here is exactly
    the fetch :func:`crawl_keep_latest` keeps), and a fixed-point change
    ratio ``(n_versions-1)*10^6 div (n_crawls-1)`` (0 for single-fetch
    URLs).

    Plan: ONE canonical-keyed exchange; row_number/lead and the per-URL
    totals share the same window partition (count + collect_set over the
    unbounded frame — per-URL fetch counts are small by construction, so
    the set state is bounded), output is scalar-only."""
    from pyspark.sql import Window

    base = report_df.where(F.col("canonical") != "").select(
        "canonical",
        F.col("doc_id").cast("string").alias("doc_id"),
        "content_hash",
        F.coalesce(F.col("fetched_at_ts").cast("long"), F.lit(TS_UNKNOWN)).alias(
            "ts"
        ),
    )
    w_ord = Window.partitionBy("canonical").orderBy(
        F.col("ts").desc(), F.col("doc_id").desc()
    )
    w_all = Window.partitionBy("canonical")
    r = base.select(
        "canonical",
        "content_hash",
        F.row_number().over(w_ord).alias("rn"),
        F.lead("content_hash").over(w_ord).alias("prev_hash"),
        F.count("*").over(w_all).cast("long").alias("n_crawls"),
        F.size(F.collect_set("content_hash").over(w_all))
        .cast("long")
        .alias("n_versions"),
    )
    return r.where(F.col("rn") == 1).select(
        "canonical",
        "n_crawls",
        "n_versions",
        (
            F.col("prev_hash").isNotNull()
            & (F.col("prev_hash") != F.col("content_hash"))
        ).alias("latest_changed"),
        F.expr(
            "((n_versions - 1) * 1000000) div greatest(n_crawls - 1, 1)"
        )
        .cast("long")
        .alias("change_ratio_e6"),
    )


def link_in_degree(html_df: DataFrame) -> DataFrame:
    """Site link-graph in-degree: the outbound-link stream grouped by
    target href — total inbound count and inbound-from-MAIN-content count
    (the signal a crawl frontier ranks by: a link cited from article text
    is worth more than one repeated in every page's chrome). One row per
    distinct href.

    Plan: the narrow link-extraction Arrow pass, then ONE hash aggregation
    on href (map-side partial; the exchange carries (href, counts) pairs —
    at 10^12 pages the reduce side is bounded by the number of DISTINCT
    targets, and hot hrefs combine map-side so skewed targets like '/home'
    never concentrate raw rows)."""
    return (
        html_links(html_df)
        .groupBy("href")
        .agg(
            F.count("*").cast("long").alias("n_inlinks"),
            F.sum(F.col("in_main").cast("long"))
            .cast("long")
            .alias("n_inlinks_main"),
        )
    )


def html_extract_span_corpus(html_df: DataFrame) -> DataFrame:
    """Adapter into the PDF-side pipeline: (doc_id, spans array) in the
    span-corpus schema (``sources/corpus.SPANS_SCHEMA``), built in the SAME
    Arrow pass as the parse — zero shuffle (a groupBy-collect_list over the
    exploded rows would add a full exchange for nothing). HTML-sourced
    documents then flow through the identical downstream plan
    (``plans/extract.extract_spans``: boilerplate flagging, wrapped-line
    fold, chunking, media interleave) as PDF-derived span corpora — one
    pipeline, two source formats, per the north rule."""
    from ..sources.corpus import SPANS_SCHEMA

    def rows(d, p):
        yield d, [
            {
                "kind": kind,
                "text": text,
                "media_ref": ref or None,
                "offset": j,
                "page": None,
                "font_size": None,
                "bold": None,
            }
            for j, (kind, text, ref) in enumerate(p.spans)
        ]

    return _parse_pass(html_df, SPANS_SCHEMA, rows)


def html_extract_report(html_df: DataFrame) -> DataFrame:
    """Per-document extraction report: kept text/figure counts, main-text
    char total, the two drop counters (structural strip vs link density),
    and the head metadata a crawl pipeline keys on (canonical URL,
    robots-noindex). One row per input document, including empty ones.
    Every input column other than ``doc_id`` and ``html`` (a crawl's
    ``fetched_at_ts``, a stream's event time) is carried to the page's row
    unchanged."""

    def rows(d, p):
        text = [s[1] for s in p.spans if s[0] == "text"]
        yield (
            d,
            len(p.spans),
            len(text),
            len(p.spans) - len(text),
            sum(map(len, text)),
            p.n_dropped_structural,
            p.n_dropped_linkdense,
            p.canonical,
            p.noindex,
            main_content_hash(p.spans),
        )

    carry = [c for c in html_df.columns if c not in ("doc_id", "html")]
    return _parse_pass(html_df, _REPORT_SCHEMA, rows, carry)
