"""Query registry: every operator exposed to the driver, paired with its
DuckDB oracle SQL.

Layout per entry: ``QUERIES[name] -> (spark, sf_dir) -> DataFrame`` and
``ORACLE_SQL[name] -> str`` (omitted for non-SQL-expressible span-pipeline
operators — the driver then records a rows-only check; their correctness is
covered by the pytest span-equality suite against the eager Python oracle).

Both sides interpolate the SAME constants from ``..contract`` so the pair
cannot drift. Cross-engine determinism rules (see contract module): integer
fixed-point ranking keys, no order-dependent float sums, explicit casts so
Spark long == DuckDB BIGINT in every output schema.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict

from pyspark.sql import DataFrame, SparkSession

from .. import contract as C
from ..core import boilerplate as bp
from ..operators import bpe as BP
from ..operators import classifier as CL
from ..operators import dedup as D
from ..operators import dsir as DS
from ..operators import eventflow as EV
from ..operators import fulltext as FT
from ..operators import gopher as GO
from ..operators import graphrank as GR
from ..operators import htmlextract as HX
from ..operators import kmeans as KM
from ..operators import multimodal as MM
from ..operators import repetition as RP
from ..operators import packing as PK
from ..operators import pq as PQ
from ..operators import bq as BQ
from ..operators import search as S
from ..operators import sq as SQ
from ..operators import sketches as SK
from ..operators import stats as ST
from ..operators import textstats as TX
from ..operators import winnow as WN


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _span_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.corpus import spans_table_from_documents

    return spans_table_from_documents(spark, sf_dir)


def _html_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.htmlcorpus import html_table_from_documents

    return html_table_from_documents(spark, sf_dir)


def _crawl_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl keep-latest over the HTML corpus: canonical comes from the
    PARSE (head metadata — the meet-in-the-middle check, like
    html_canonical_dups), the fetch timestamp is synthesized with the SAME
    doc_id arithmetic as ``doc_listing_full``'s created_at_ts (testdata
    carries no fetch time; in production it is a real crawl column)."""
    from pyspark.sql import functions as F

    rep = HX.html_extract_report(_html_corpus(spark, sf_dir))
    ts = _synth_ts_expr(F.col("doc_id").cast("long"))
    return HX.crawl_keep_latest(rep.withColumn("fetched_at_ts", ts))


def _crawl_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crawl → indexable-corpus gate over the HTML corpus: keep-latest
    recrawl resolution + robots-noindex + non-empty-content policy on the
    winning fetch (same synthesized fetch time as _crawl_keep_latest)."""
    from pyspark.sql import functions as F

    rep = HX.html_extract_report(_html_corpus(spark, sf_dir))
    ts = _synth_ts_expr(F.col("doc_id").cast("long"))
    return HX.crawl_corpus(rep.withColumn("fetched_at_ts", ts))


def _recrawl_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-change statistics across recrawls of each canonical URL
    (same synthesized fetch time as _crawl_keep_latest)."""
    from pyspark.sql import functions as F

    rep = HX.html_extract_report(_html_corpus(spark, sf_dir))
    ts = _synth_ts_expr(F.col("doc_id").cast("long"))
    return HX.recrawl_change_stats(rep.withColumn("fetched_at_ts", ts))


def _site_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted doc→doc edge list over the HTML corpus: in-main content
    links only (chrome is navigation, not citation), each ``/ref/{i}``
    href resolved to the canonical URL of the article it targets — the
    fixture's URL-resolution rule, ``i % HTML_CANONICAL_MOD`` under the
    canonical prefix (in production this is the crawl index's
    href→canonical join; here it is pure column arithmetic so the oracle
    can replay it). Source node = the page's OWN canonical, straight from
    the parse (one Arrow pass, no second parse / no doc-keyed join)."""
    from pyspark.sql import functions as F

    lm = HX.html_links_with_meta(_html_corpus(spark, sf_dir))
    pairs = lm.where(
        F.col("in_main") & F.col("href").startswith("/ref/")
    ).select(
        F.col("canonical").alias("src"),
        F.concat(
            F.lit(C.HTML_CANONICAL_PREFIX),
            (
                F.expr("cast(substring(href, 6) as bigint)")
                % C.HTML_CANONICAL_MOD
            ).cast("string"),
        ).alias("dst"),
    )
    return GR.link_edges(pairs)


def _link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GR.pagerank(_site_link_graph(spark, sf_dir))


def _link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GR.link_hits(_site_link_graph(spark, sf_dir))


def _crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recrawl priority queue: admissible keep-latest winners joined
    with change ratio and pagerank (all three signals recomputed inline
    here so the oracle can replay the composition; production reads the
    incrementally maintained index tables instead)."""
    from pyspark.sql import functions as F

    # ONE report parse shared by the two report-derived signals: the two
    # aggregates are planned independently (ReuseExchange rarely fires —
    # CLAUDE.md sharp edge), so without the localCheckpoint the corpus
    # would be python-parsed twice.  The checkpointed frame is per-page
    # SUMMARIES (one row/page, no text) — the pagerank/CC precedent.
    rep = (
        HX.html_extract_report(_html_corpus(spark, sf_dir))
        .withColumn(
            "fetched_at_ts", _synth_ts_expr(F.col("doc_id").cast("long"))
        )
        .localCheckpoint()
    )
    return GR.crawl_frontier(
        HX.crawl_corpus(rep),
        HX.recrawl_change_stats(rep),
        _link_pagerank(spark, sf_dir),
    )


def _corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl -> training-corpus attrition report, one row of stage
    counts: pages fetched -> distinct URLs -> indexable keep-latest
    winners (corpus gate) -> distinct main-content versions among those
    winners -> near-dup pairs still inside the corpus. Every stage is a
    COUNT over an already-oracle-verified derivation, composed; the
    funnel is what a pipeline owner actually reads before training."""
    from pyspark.sql import functions as F

    pages = _html_corpus(spark, sf_dir)
    # the report subtree is referenced FOUR times below (n_urls, corpus,
    # and both sides of n_unique) and each reference is planned
    # independently — checkpoint the per-page summaries so the corpus is
    # python-parsed once, not four times
    rep = (
        HX.html_extract_report(pages)
        .withColumn(
            "fetched_at_ts", _synth_ts_expr(F.col("doc_id").cast("long"))
        )
        .localCheckpoint()
    )
    corpus = HX.crawl_corpus(rep)
    n_pages = _docs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_pages")
    )
    n_urls = rep.agg(
        F.countDistinct("canonical").cast("long").alias("n_urls")
    )
    n_index = corpus.agg(F.count("*").cast("long").alias("n_indexable"))
    # distinct content among the WINNERS (join back to the parse payload
    # would re-parse; winners carry doc_id, so count distinct hash via the
    # report keyed on the winning doc_ids — broadcast the winner id list
    # is wrong at scale, so key the join on doc_id: both sides summary/row)
    n_unique = (
        rep.join(corpus.select(F.col("doc_id")), "doc_id")
        .agg(
            F.countDistinct("content_hash").cast("long").alias(
                "n_unique_main"
            )
        )
    )
    n_pairs = (
        D.minhash_band_pairs(HX.html_main_text(pages))
        .agg(F.count("*").cast("long").alias("n_near_dup_pairs"))
    )
    return (
        n_pages.crossJoin(n_urls)
        .crossJoin(n_index)
        .crossJoin(n_unique)
        .crossJoin(n_pairs)
    )


def _crawl_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone EMISSION (corpus_funnel reports the attrition; this
    emits the survivors): crawl -> keep-latest indexable winners
    (crawl_corpus) -> boilerplate-independent content dedup among winners
    (keeper = min canonical per main-content hash) -> token-budget shard
    manifest (shard_pack's banded prefix scan).  One manifest row per page
    that actually enters training: (doc_id, canonical, n_tokens, shard_id).

    Every stage is an individually-oracle-verified operator; the glue is
    summary-keyed joins (doc_id / canonical / content_hash) and one keeper
    hash-agg — no stage shuffles page text except the final doc_id-ordered
    prefix scan over the KEPT docs only."""
    from pyspark.sql import functions as F

    pages = _html_corpus(spark, sf_dir)
    # every re-reference below is planned independently (the ReuseExchange
    # sharp edge), and shard_pack's banded scan references ITS input twice
    # — without checkpoints this composition re-parses the corpus up to
    # ~8x.  Checkpoint the summary frames (rep/win/keep: one skinny row
    # per page, no text) so the report kernel runs ONCE; checkpoint
    # kept_docs (the extracted main text of the survivors) so the
    # main-text kernel also runs once — the "materialize the curated
    # corpus before packing" step a production pipeline writes to a table
    # anyway.
    rep = (
        HX.html_extract_report(pages)
        .withColumn(
            "fetched_at_ts", _synth_ts_expr(F.col("doc_id").cast("long"))
        )
        .localCheckpoint()
    )
    corpus = HX.crawl_corpus(rep)
    win = corpus.join(
        rep.select("doc_id", "content_hash"), "doc_id"
    ).localCheckpoint()
    keep = (
        win.groupBy("content_hash")
        .agg(F.min("canonical").alias("canonical"))
        .join(win.select("canonical", "doc_id"), "canonical")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "canonical")
        .localCheckpoint()
    )
    mt = HX.html_main_text(pages)
    kept_docs = keep.select("doc_id").join(
        mt.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        "doc_id",
    ).localCheckpoint()
    manifest = PK.shard_pack(kept_docs.select("doc_id", "text"))
    return manifest.join(keep, "doc_id").select(
        "doc_id", "canonical", "n_tokens", "shard_id"
    )


def _html_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.htmlextract import html_extract_span_corpus
    from .extract import extract_spans

    # fused, not hybrid: the hybrid whale probe (max span count) would
    # EXECUTE the whole DOM parse once just to plan, then parse again for
    # real — and HTML pages are paragraph-granular (a 200k-span whale is a
    # >=100 MB page), so the fused single-reference single-parse plan is
    # the right shape (review finding; equality across all three modes is
    # pinned in tests/test_html_pipeline.py)
    return extract_spans(
        html_extract_span_corpus(_html_corpus(spark, sf_dir)), mode="fused"
    )


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------

def _extract(mode: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .extract import extract_spans

        return extract_spans(_span_corpus(spark, sf_dir), mode=mode)

    return run


def _media_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-interleave integrity gate (north rule: media spans preserved
    in order through extraction): every media span in the REAL extraction
    output, ranked per doc, with its caption, media_ref, and a parsed
    self-consistency flag (scheme == kind prefix, ref doc == doc_id, ref
    ordinal == rank).  The oracle recomputes the EXPECTED media table from
    word-index arithmetic (meet-in-the-middle, the boilerplate_flags
    pattern) — if extraction ever drops, reorders, or mangles a media
    span, the hash goes red."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..core.docpipe import MEDIA_KINDS
    from .extract import extract_spans

    out = extract_spans(_span_corpus(spark, sf_dir))
    w = Window.partitionBy("doc_id").orderBy("order")
    m = (
        out.where(F.col("kind").isin(*MEDIA_KINDS))
        .select(
            "doc_id",
            F.row_number().over(w).cast("long").alias("media_idx"),
            "kind",
            F.col("text").alias("caption"),
            "media_ref",
        )
    )
    ref_re = r"^([a-z]+)://([^/]+)/([0-9]+)$"
    return m.select(
        "doc_id",
        "media_idx",
        "kind",
        "caption",
        "media_ref",
        (
            (F.regexp_extract("media_ref", ref_re, 1) == F.substring("kind", 1, 3))
            & (F.regexp_extract("media_ref", ref_re, 2) == F.col("doc_id"))
            & (
                F.regexp_extract("media_ref", ref_re, 3).cast("long")
                == F.col("media_idx")
            )
        )
        .cast("long")
        .alias("ref_ok"),
    )


def _media_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved image-text pair mining over the derived span corpus
    (operators/multimodal.media_pairs).  The oracle reproduces caption =
    line i, context = line i-1 from pure word-index arithmetic — valid
    because figures precede line i (never line 0), the only span that can
    intervene before a figure's preceding prose is a footer, and footers
    are boilerplate exactly when that branch occurs (page-start figures
    need i ≡ 24 (mod 28) ⇒ ≥ 7 pages ≥ DEFAULT_MIN_PAGES; the
    only-footers-recur certification is tests/test_corpus_contract.py::
    test_only_footers_recur_across_pages_at_gate_scale)."""
    from ..operators.multimodal import media_pairs

    return media_pairs(_span_corpus(spark, sf_dir))


def _process_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extract import process_documents

    return process_documents(_span_corpus(spark, sf_dir))


def _chunk_table(spark: SparkSession, sf_dir: str, section_aware: bool = True) -> DataFrame:
    from ..core.docpipe import ExtractConfig
    from ..operators.extraction import (
        chunk_blocks,
        explode_spans,
        flag_boilerplate,
        reconstruct_blocks,
    )

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lines = flag_boilerplate(explode_spans(_span_corpus(spark, sf_dir)))
    cfg = ExtractConfig(use_section_awareness=section_aware)
    chunks = chunk_blocks(reconstruct_blocks(lines), cfg)
    # doc-global chunk_index (reference chunks table: ORDER BY chunk_index
    # per document, src/vector_store/schema.py:64, pgvector_client.py:273)
    w = Window.partitionBy("doc_id").orderBy("seg", "chunk_seq")
    return chunks.withColumn("chunk_index", (F.row_number().over(w) - 1).cast("long"))


def _chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunks-per-doc corpus stats (the reference's README headline numbers,
    evaluation/CHUNKING_COMPARISON_RESULTS.md:44-45)."""
    from pyspark.sql import functions as F

    per_doc = _chunk_table(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("n"), F.avg(F.length("text")).alias("avg_len")
    )
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("n_chunks"),
        F.round(F.sum("n") / F.count("*"), 4).alias("avg_chunks_per_doc"),
    )


def _boilerplate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule repeated-line boilerplate strip over the derived span
    corpus. Oracle-paired: the corpus derivation is word-index arithmetic
    (contract CORPUS_* constants), so the exact flagged (doc_id, page, text)
    set — the per-page footers of every >=min_pages-page document — is
    reproducible in SQL."""
    from pyspark.sql import functions as F

    from ..operators.extraction import explode_spans, flag_boilerplate

    lines = flag_boilerplate(explode_spans(_span_corpus(spark, sf_dir)))
    return lines.where(F.col("is_boiler")).select(
        "doc_id", F.col("page").cast("long").alias("page"), "text"
    )


def _doc_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document metadata surface (reference documents table:
    src/vector_store/schema.py:19-37 page_count et al., kept current by
    pgvector_client.py:157-171) computed from the span corpus: page count,
    span counts, media count."""
    from pyspark.sql import functions as F

    from ..core.docpipe import MEDIA_KINDS
    from ..operators.extraction import explode_spans

    corpus = _span_corpus(spark, sf_dir)
    sizes = corpus.select("doc_id", F.size("spans").cast("long").alias("n_spans"))
    agg = (
        explode_spans(corpus)
        .groupBy("doc_id")
        .agg(
            F.max("page").cast("long").alias("page_count"),
            F.sum((F.col("kind") == "text").cast("long")).alias("n_text_spans"),
            F.sum(F.col("kind").isin(*MEDIA_KINDS).cast("long")).alias("n_media"),
        )
    )
    return sizes.join(agg, "doc_id")


def _doc_meta_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's documents-table listing row: per-doc metadata plus
    chunk_count (pgvector_client.py:157-171 keeps chunk_count current after
    every ingest). chunk_count is fold-derived, so this query is rows-only;
    its SQL-reachable projection is the oracle-paired ``doc_meta``, and the
    chunker itself is gated by ``chunk_invariants``."""
    from pyspark.sql import functions as F

    chunks = (
        _chunk_table(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("chunk_count"))
    )
    return (
        _doc_listing(spark, sf_dir)
        .join(chunks, "doc_id", "left")
        .fillna(0, subset=["chunk_count"])
    )


def _doc_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's documents-table LISTING row, oracle-paired: span-derived
    counts (page_count, span/media counts) joined with the source metadata
    that exists in testdata — ``source`` and ``lang`` are the analogs of the
    reference's filename / doc_metadata listing fields
    (src/vector_store/schema.py:22-31; upload_date has no testdata analog).
    Broadcast-friendly: both sides agg/scan to one row per doc before the
    equi-join on doc_id."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return _doc_meta(spark, sf_dir).join(docs, "doc_id")


def _synth_ts_expr(did):
    """The ONE synthesized-timestamp model (contract SYNTH_TS_*): used by
    ``doc_listing_full``'s created_at AND ``crawl_keep_latest``'s fetch
    time; the SQL twin is :func:`_synth_ts_sql` — four call sites, one
    definition."""
    from pyspark.sql import functions as F

    return (
        F.lit(C.SYNTH_TS_BASE).cast("long")
        + (did % C.SYNTH_TS_DAYS) * 86400
        + (did * C.SYNTH_TS_MIX) % 86400
    )


def _synth_ts_sql(col: str) -> str:
    return (
        f"cast({C.SYNTH_TS_BASE} + ({col} % {C.SYNTH_TS_DAYS}) * 86400"
        f" + ({col} * {C.SYNTH_TS_MIX}) % 86400 as bigint)"
    )


def _doc_listing_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE reference documents-listing row (schema.py:19-37 —
    filename, upload_date, created_at/updated_at, doc_metadata JSONB):
    ``doc_listing``'s span-derived counts plus the temporal/metadata fields
    the testdata does not carry, synthesized as pure doc_id arithmetic
    anchored at epoch 2024-01-01 (round-3 verdict missing #3).  Determinism
    rules: upload_date emitted as a 'yyyy-MM-dd' STRING and the
    created/updated pair as epoch-second LONGS (integer arithmetic — no
    cross-engine timestamp semantics in the hash), doc_metadata as a
    canonical one-line JSON string; all reproducible in ANSI SQL, stable
    under re-ingest."""
    from pyspark.sql import functions as F

    did = F.col("did")
    created = _synth_ts_expr(did)
    meta = (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long").alias("did"),
            F.col("doc_id").cast("string").alias("doc_id"),
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "doc_id",
            F.concat(
                F.col("source"), F.lit("/doc_"), F.col("doc_id"), F.lit(".pdf")
            ).alias("filename"),
            F.date_format(
                F.date_add(
                    F.to_date(F.lit("2024-01-01")),
                    (did % C.SYNTH_TS_DAYS).cast("int"),
                ),
                "yyyy-MM-dd",
            ).alias("upload_date"),
            created.cast("long").alias("created_at_ts"),
            (created + did % 3600).cast("long").alias("updated_at_ts"),
            F.concat(
                F.lit('{"lang":"'),
                F.col("lang"),
                F.lit('","source":"'),
                F.col("source"),
                F.lit('","n_chars":'),
                F.col("n_chars").cast("string"),
                F.lit("}"),
            ).alias("doc_metadata"),
        )
    )
    return _doc_listing(spark, sf_dir).join(meta, "doc_id")


def _processing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible projection of ``process_documents`` (input-side
    span/line counts, media passthrough count, success flag) — the oracle
    gate for the report surface; the fold-derived columns (n_chunks,
    loss_pct, warnings) stay on the rows-only ``process_documents`` row."""
    from .extract import process_documents

    rep = process_documents(_span_corpus(spark, sf_dir))
    return rep.select("doc_id", "n_spans_in", "n_text_lines_in", "n_media", "success")


def _chunk_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side gate for the chunker (the highest-parity-risk operator,
    reference contract tests/unit/test_chunking.py:17-94): corpus-wide
    invariant counters with oracle-pinned expected values — no oversize
    chunks, chunk_size == length(text), no empty chunks, dense per-doc
    chunk_index, and every non-empty input document represented."""
    from pyspark.sql import functions as F

    from ..core.docpipe import ExtractConfig

    max_size = ExtractConfig().max_chunk_size
    ct = _chunk_table(spark, sf_dir)
    # ONE pass over the chunk pipeline: per-doc rollup carries both the
    # per-chunk violation counters and the density inputs, then a single
    # global fold — two independent aggregates would execute the whole
    # extract+chunk DAG twice
    per_doc = ct.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.max("chunk_index").alias("mx"),
        F.count_distinct("chunk_index").alias("nd"),
        F.sum((F.col("chunk_size") > max_size).cast("long")).alias("d_oversize"),
        F.sum((F.col("chunk_size") != F.length("text")).cast("long")).alias("d_mismatch"),
        F.sum((F.length(F.trim(F.col("text"))) == 0).cast("long")).alias("d_empty"),
    )
    # independent arithmetic side: every non-whitespace char of the source
    # text survives extraction into some chunk and chunks are <= max_size
    # chars, so ceil(nonspace / max_size) is a TRUE per-doc lower bound on
    # chunk count, computable from documents alone.  The docs_* columns
    # below therefore hash-match the oracle's arithmetic doc count ONLY if
    # every document's fold output meets its bound — non-constant,
    # fold-sensitive teeth (round-2 verdict: the previous oracle pinned 4
    # of 5 columns as constants).
    arith = (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.length(F.regexp_replace("text", r"\s", "")).alias("nonspace"),
        )
        .where(F.col("nonspace") > 0)
        .withColumn("lb", F.ceil(F.col("nonspace") / max_size).cast("long"))
    )
    j = arith.join(per_doc, "doc_id", "left")
    has = F.col("n").isNotNull()
    return j.agg(
        F.sum(F.coalesce(F.col("d_oversize"), F.lit(0))).alias("oversize"),
        F.sum(F.coalesce(F.col("d_mismatch"), F.lit(0))).alias("size_mismatch"),
        F.sum(F.coalesce(F.col("d_empty"), F.lit(0))).alias("empty_chunks"),
        F.sum(has.cast("long")).alias("docs_with_chunks"),
        F.sum(
            F.coalesce(
                ((F.col("mx") + 1 != F.col("n")) | (F.col("nd") != F.col("n"))).cast("long"),
                F.lit(0),
            )
        ).alias("index_holes"),
        F.sum((has & (F.col("n") >= F.col("lb"))).cast("long")).alias("docs_meeting_chunk_lb"),
        F.sum((has & (F.col("d_empty") == 0)).cast("long")).alias("docs_all_chunks_nonempty"),
        F.sum((has & (F.col("d_oversize") == 0)).cast("long")).alias("docs_within_max"),
        F.sum((has & (F.col("d_mismatch") == 0)).cast("long")).alias("docs_size_consistent"),
    )


def _page_text_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, page) char-offset map — the analog of the reference's
    ``page_text_map`` metadata ({page: (start, end)} offsets into the
    assembled text, src/extraction/pymupdf_extractor.py:62-84): each text
    span contributes ``length(text) + 1`` chars (newline-joined), pages
    cumulate in order.  The per-doc running sum is a window over the
    ALREADY-AGGREGATED page rows (one row per page, not per span), so the
    doc-serial window touches ~page-count rows — fine at any corpus scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.extraction import explode_spans

    lines = explode_spans(_span_corpus(spark, sf_dir)).where(F.col("kind") == "text")
    per_page = lines.groupBy("doc_id", "page").agg(
        F.sum(F.length("text") + 1).cast("long").alias("page_chars")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("page")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("page_chars").over(w), F.lit(0)).cast("long")
    return per_page.select(
        "doc_id",
        F.col("page").cast("long").alias("page"),
        "page_chars",
        start.alias("char_start"),
        (start + F.col("page_chars")).cast("long").alias("char_end"),
    )


def _chunks_of_document(spark: SparkSession, sf_dir: str, doc_id: str = "42") -> DataFrame:
    """Point lookup: all chunks of one document in reading order (reference
    pgvector_client.py:273-275, ORDER BY chunk_index)."""
    from pyspark.sql import functions as F

    return (
        _chunk_table(spark, sf_dir)
        .where(F.col("doc_id") == doc_id)
        .select("doc_id", "chunk_index", "chunk_size", "section_hierarchy", "chunk_part")
        .orderBy("chunk_index")
    )


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- text analysis (SQL-verified) ---
    "clean_text": lambda s, d: TX.clean_text(_docs(s, d)),
    "content_loss": lambda s, d: TX.content_loss(_docs(s, d)),
    "token_counts": lambda s, d: TX.token_counts(_docs(s, d)),
    "text_quality": lambda s, d: TX.text_quality(_docs(s, d)),
    # language-ID confusion matrix vs the corpus label
    "langid_confusion": lambda s, d: TX.langid_confusion(_docs(s, d)),
    "lang_id": lambda s, d: TX.lang_id(_docs(s, d)),
    "fingerprint": lambda s, d: TX.fingerprint(_docs(s, d)),
    "vocab_topk": lambda s, d: TX.vocab_topk(_docs(s, d)),
    # Heaps-law cumulative vocabulary curve (first-occurrence agg)
    "vocab_growth": lambda s, d: TX.vocab_growth(_docs(s, d)),
    "bpe_merges": lambda s, d: BP.bpe_merges(_docs(s, d)),
    "bpe_token_counts": lambda s, d: BP.bpe_token_counts(_docs(s, d)),
    "token_fertility": lambda s, d: BP.token_fertility(_docs(s, d)),
    "bpe_vocab": lambda s, d: BP.bpe_vocab(_docs(s, d)),
    "redact_pii": lambda s, d: TX.redact_pii(_docs(s, d)),
    "length_histogram": lambda s, d: TX.length_histogram(_docs(s, d)),
    # --- dedup (SQL-verified) ---
    "exact_dedup": lambda s, d: D.exact_dup_groups(_docs(s, d)),
    "ngram_jaccard": lambda s, d: D.ngram_jaccard_pairs(_docs(s, d)),
    "ngram_jaccard_pruned": lambda s, d: D.ngram_jaccard_pruned(_docs(s, d)),
    "minhash_lsh_pairs": lambda s, d: D.minhash_band_pairs(_docs(s, d)),
    # MinHash estimator calibration: signature estimate vs exact Jaccard
    "minhash_est_audit": lambda s, d: D.minhash_est_audit(_docs(s, d)),
    "dedup_clusters": lambda s, d: D.dedup_clusters(_docs(s, d)),
    # same contract through the O(log^2 n)-round large-star/small-star
    # path — the oracle below is shared verbatim with dedup_clusters, so
    # the driver gate pins BOTH algorithms to the same partition
    "dedup_clusters_star": lambda s, d: D.dedup_clusters(_docs(s, d), algorithm="star"),
    "simhash": lambda s, d: D.simhash(_docs(s, d)),
    "simhash_near_pairs": lambda s, d: D.simhash_near_pairs(_docs(s, d)),
    "contamination_check": lambda s, d: D.contamination_check(_docs(s, d)),
    "embedding_near_pairs": lambda s, d: D.embedding_near_pairs(_emb(s, d)),
    "embedding_near_pairs_lsh": lambda s, d: D.embedding_near_pairs_lsh(_emb(s, d)),
    "semdedup": lambda s, d: D.semdedup(_emb(s, d)),
    "semdedup_stats": lambda s, d: D.semdedup_stats(_emb(s, d)),
    # --- training-shard packing (SQL-verified) ---
    "shard_pack": lambda s, d: PK.shard_pack(_docs(s, d)),
    # deterministic epoch-wise training shuffle (banded-scan positions)
    "epoch_shuffle": lambda s, d: PK.epoch_shuffle(_docs(s, d)),
    "shard_stats": lambda s, d: PK.shard_stats(_docs(s, d)),
    "stratified_sample": lambda s, d: PK.stratified_sample(_docs(s, d)),
    "dataset_split": lambda s, d: PK.dataset_split(_docs(s, d)),
    "dataset_split_stats": lambda s, d: PK.dataset_split_stats(_docs(s, d)),
    # exact-count bottom-k-by-hash sampling (budget-exact complement to
    # the rate-based stratified sampler)
    "exact_sample": lambda s, d: PK.exact_sample(_docs(s, d)),
    # deterministic easy-to-hard curriculum (banded rank over flesch_e3)
    "curriculum_order": lambda s, d: PK.curriculum_order(_docs(s, d)),
    # UniMax waterfill language-budget allocation (Chung et al. 2023)
    "unimax_alloc": lambda s, d: PK.unimax_alloc(_docs(s, d)),
    # length-bucketed batching padding-waste report
    "pad_efficiency": lambda s, d: PK.pad_efficiency(_docs(s, d)),
    # cross-split near-dup leakage audit (MinHash-LSH x dataset_split)
    "split_leakage": lambda s, d: PK.split_leakage(_docs(s, d)),
    "split_leakage_stats": lambda s, d: PK.split_leakage_stats(_docs(s, d)),
    # C4 line-level cleaning family (Raffel et al. 2020) over the lined
    # fixture page (textstats.c4_pages meet-in-the-middle generator)
    "c4_line_stats": lambda s, d: TX.c4_line_stats(TX.c4_pages(_docs(s, d))),
    "c4_clean": lambda s, d: TX.c4_clean(TX.c4_pages(_docs(s, d))),
    "dsir_weights": lambda s, d: DS.dsir_weights(_docs(s, d)),
    "dsir_sample": lambda s, d: DS.dsir_sample(_docs(s, d)),
    "source_mix": lambda s, d: PK.source_mix(_docs(s, d)),
    "source_mix_sample": lambda s, d: PK.source_mix_sample(_docs(s, d)),
    "curate_corpus": lambda s, d: PK.curate_corpus(_docs(s, d)),
    "curation_funnel": lambda s, d: PK.curation_funnel(_docs(s, d)),
    "curate_corpus_full": lambda s, d: PK.curate_corpus_full(_docs(s, d)),
    "curate_corpus_v2": lambda s, d: PK.curate_corpus_v2(_docs(s, d)),
    "pack_sequences": lambda s, d: PK.pack_sequences(_docs(s, d)),
    "sequence_stats": lambda s, d: PK.sequence_stats(_docs(s, d)),
    "lm_fluency": lambda s, d: TX.lm_fluency(_docs(s, d)),
    # Kneser-Ney continuation statistics (top-K versatility report)
    "kn_continuation": lambda s, d: TX.kn_continuation(_docs(s, d)),
    # Flesch / Flesch-Kincaid readability (vowel-group syllable proxy)
    "readability": lambda s, d: TX.readability(_docs(s, d)),
    "ccnet_buckets": lambda s, d: TX.ccnet_buckets(_docs(s, d)),
    "ccnet_bucket_stats": lambda s, d: TX.ccnet_bucket_stats(_docs(s, d)),
    "quality_classify": lambda s, d: CL.quality_classify(_docs(s, d), spec="stub"),
    "quality_classify_stats": lambda s, d: CL.quality_classify_stats(
        _docs(s, d), spec="stub"
    ),
    # --- winnowing fingerprints (SQL-verified) ---
    "winnow_fingerprints": lambda s, d: WN.winnow_fingerprints(_docs(s, d)),
    "winnow_matches": lambda s, d: WN.winnow_matches(_docs(s, d)),
    # cross-source syndication matrix (winnow pair graph by source)
    "winnow_source_matrix": lambda s, d: WN.winnow_source_matrix(_docs(s, d)),
    # --- full Gopher quality-rule verdict (SQL-verified) ---
    "gopher_rules": lambda s, d: GO.gopher_rules(_docs(s, d)),
    "gopher_verdict": lambda s, d: GO.gopher_verdict(_docs(s, d)),
    # --- repetition / duplicated-passage curation (SQL-verified) ---
    "repetition_metrics": lambda s, d: RP.repetition_metrics(_docs(s, d)),
    "dup_passages": lambda s, d: RP.dup_passages(_docs(s, d)),
    "dup_passage_stats": lambda s, d: RP.dup_passage_stats(_docs(s, d)),
    "dup_excise": lambda s, d: RP.dup_excise(_docs(s, d)),
    # --- full-text + hybrid retrieval (SQL-verified) ---
    "bm25_topk_multi": lambda s, d: FT.bm25_topk_multi(_docs(s, d)),
    "fts_term_stats": lambda s, d: FT.term_stats(_docs(s, d)),
    "fts_phrase_topk": lambda s, d: FT.fts_phrase_topk(_docs(s, d)),
    "tfidf_topk_terms": lambda s, d: FT.tfidf_topk_terms(_docs(s, d)),
    "hybrid_rrf": lambda s, d: FT.hybrid_rrf(_emb(s, d), _docs(s, d)),
    # --- embedding + search (SQL-verified) ---
    "stub_embed": lambda s, d: S.stub_embed_components(_docs(s, d)),
    "vector_topk": lambda s, d: S.vector_topk(_emb(s, d)),
    "ivf_topk": lambda s, d: S.ivf_topk(_emb(s, d)),
    "kmeans_centroids": lambda s, d: KM.kmeans_centroids(_emb(s, d)),
    # greedy k-center coreset (Gonzalez farthest-point; unrolled oracle)
    "kcenter_coreset": lambda s, d: KM.kcenter_coreset(_emb(s, d)),
    "ivf_topk_trained": lambda s, d: KM.ivf_topk_trained(_emb(s, d)),
    "cluster_topics": lambda s, d: KM.cluster_topics(_emb(s, d), _docs(s, d)),
    "cluster_summary": lambda s, d: KM.cluster_summary(_emb(s, d), _docs(s, d)),
    "sq_codes": lambda s, d: SQ.sq_codes(_emb(s, d)),
    "sq_topk": lambda s, d: SQ.sq_topk(_emb(s, d)),
    "sq_recall": lambda s, d: SQ.sq_recall(_emb(s, d)),
    # binary quantization: Hamming shortlist over the SRP sketch + exact
    # re-rank (the fourth quantization-family member)
    "bq_topk": lambda s, d: BQ.bq_topk(_emb(s, d)),
    "bq_recall": lambda s, d: BQ.bq_recall(_emb(s, d)),
    "ivfbq_topk": lambda s, d: BQ.ivfbq_topk(_emb(s, d)),
    "ivf_topk_multi": lambda s, d: S.ivf_topk_multi(_emb(s, d)),
    "ivf_recall": lambda s, d: S.ivf_recall(_emb(s, d)),
    # Matryoshka truncation-recall report (prefix-dim brute top-k overlap)
    "mrl_recall": lambda s, d: S.mrl_recall(_emb(s, d)),
    "vector_topk_multi": lambda s, d: S.vector_topk_multi(_emb(s, d)),
    # hard-negative mining for contrastive retrieval training
    "hard_negatives": lambda s, d: S.hard_negatives(_emb(s, d)),
    "triplet_mining": lambda s, d: S.triplet_mining(_emb(s, d)),
    "retrieval_eval": lambda s, d: S.retrieval_eval(_emb(s, d)),
    "retrieval_eval_by_label": lambda s, d: S.retrieval_eval_by_label(_emb(s, d)),
    "retrieval_ndcg": lambda s, d: S.retrieval_ndcg(_emb(s, d)),
    # embedding-space class-separation report (pairwise label centroids)
    "label_separation": lambda s, d: S.label_separation(_emb(s, d)),
    # embedding-anisotropy scalar report (Ethayarajh 2019)
    "isotropy_report": lambda s, d: S.isotropy_report(_emb(s, d)),
    "knn_join": lambda s, d: S.knn_join(_emb(s, d)),
    "mmr_topk": lambda s, d: S.mmr_topk(_emb(s, d)),
    "mmr_topk_multi": lambda s, d: S.mmr_topk_multi(_emb(s, d)),
    "knn_classify": lambda s, d: S.knn_classify(_emb(s, d)),
    "knn_classify_accuracy": lambda s, d: S.knn_classify_accuracy(_emb(s, d)),
    "mutual_knn_pairs": lambda s, d: S.mutual_knn_pairs(_emb(s, d)),
    # margin-based bitext mining (CCMatrix/LASER distance-margin criterion)
    "bitext_margin_pairs": lambda s, d: S.bitext_margin_pairs(_emb(s, d)),
    "knn_dedup_clusters": lambda s, d: D.knn_dedup_clusters(_emb(s, d)),
    "ivf_stats": lambda s, d: S.ivf_stats(_emb(s, d)),
    "knn_recall": lambda s, d: S.knn_recall(_emb(s, d)),
    "vector_topk_filtered": lambda s, d: S.vector_topk_filtered(_emb(s, d), _docs(s, d)),
    # --- product quantization (IVFADC building block, SQL-verified) ---
    "pq_codes": lambda s, d: PQ.pq_codes(_emb(s, d)),
    "pq_topk": lambda s, d: PQ.pq_topk(_emb(s, d)),
    "pq_topk_multi": lambda s, d: PQ.pq_topk_multi(_emb(s, d)),
    "pq_recall": lambda s, d: PQ.pq_recall(_emb(s, d)),
    "ivfpq_topk": lambda s, d: PQ.ivfpq_topk(_emb(s, d)),
    "ivfpq_topk_multi": lambda s, d: PQ.ivfpq_topk_multi(_emb(s, d)),
    "delete_documents": lambda s, d: ST.delete_documents(_docs(s, d), s),
    "cascade_delete": lambda s, d: ST.cascade_delete(_docs(s, d), _span_corpus(s, d)),
    "topk_enriched": lambda s, d: S.topk_enriched(_emb(s, d), _docs(s, d)),
    "search_response": lambda s, d: S.search_response(_emb(s, d), _docs(s, d)),
    "eval_by_category": lambda s, d: S.eval_by_category(_emb(s, d), _docs(s, d)),
    "similarity_buckets": lambda s, d: S.similarity_buckets(_emb(s, d)),
    "paginate": lambda s, d: S.paginate_documents(_docs(s, d)),
    # point lookup (reference: pgvector_client.py get_document / the N+1
    # enrichment target) — predicate pushed to the parquet scan
    "get_document": lambda s, d: _docs(s, d).where("doc_id = 42").select(
        "doc_id", "lang", "source", "n_chars"
    ),
    # --- stats (SQL-verified) ---
    # one-row corpus data card (Datasheets-for-Datasets summary)
    "corpus_datacard": lambda s, d: ST.corpus_datacard(_docs(s, d)),
    "doc_stats": lambda s, d: ST.doc_stats(_docs(s, d)),
    "source_quality_report": lambda s, d: ST.source_quality_report(_docs(s, d)),
    "cms_heavy_hitters": lambda s, d: SK.cms_heavy_hitters(_docs(s, d)),
    "hll_vocab": lambda s, d: SK.hll_vocab(_docs(s, d)),
    # theta-sketch cross-source vocabulary overlap (KMV family)
    "theta_source_overlap": lambda s, d: SK.theta_source_overlap(_docs(s, d)),
    "bloom_contamination": lambda s, d: SK.bloom_contamination(_docs(s, d)),
    "short_outliers": lambda s, d: ST.short_outliers(_docs(s, d)),
    "dedup_stats": lambda s, d: ST.dedup_stats(_docs(s, d)),
    # partition-key skew pre-flight (per-source load/share/salt report)
    "shuffle_skew_report": lambda s, d: ST.shuffle_skew_report(_docs(s, d)),
    # inter-signal agreement / Cohen's kappa matrix for the curation stack
    "quality_agreement": lambda s, d: ST.quality_agreement(_docs(s, d)),
    "events_rollup": lambda s, d: ST.events_rollup(_events(s, d)),
    "sessionize": lambda s, d: ST.sessionize(_events(s, d)),
    # --- span-corpus surface (oracle-paired via the word-index-arithmetic
    #     corpus derivation — contract CORPUS_* constants) ---
    "boilerplate_flags": _boilerplate_flags,
    "page_text_map": _page_text_map,
    "doc_meta": _doc_meta,
    "doc_listing": _doc_listing,
    "doc_listing_full": _doc_listing_full,
    "processing_report": _processing_report,
    "chunk_invariants": _chunk_invariants,
    # --- span extraction pipeline (rows-only: fold semantics not
    #     SQL-expressible; parity enforced by tests/ vs the Python oracle) ---
    "extract_staged": _extract("staged"),
    "process_documents": lambda s, d: _process_documents(s, d),
    "extract_fused": _extract("fused"),
    "chunk_table": _chunk_table,
    "chunk_table_simple": lambda s, d: _chunk_table(s, d, section_aware=False),
    "chunk_stats": lambda s, d: _chunk_stats(s, d),
    "chunks_of_document": lambda s, d: _chunks_of_document(s, d),
    "doc_meta_full": _doc_meta_full,
    # --- HTML main-content extraction (north rule: "HTML boilerplate strip
    #     ... DOM heuristics"; oracle-paired via the word-index-arithmetic
    #     HTML derivation — contract HTML_* constants) ---
    "html_extract": lambda s, d: HX.html_extract(_html_corpus(s, d)),
    "html_extract_report": lambda s, d: HX.html_extract_report(_html_corpus(s, d)),
    "html_links": lambda s, d: HX.html_links(_html_corpus(s, d)),
    "html_links_text": lambda s, d: HX.html_links_text(_html_corpus(s, d)),
    "anchor_text_agg": lambda s, d: HX.anchor_text_agg(_html_corpus(s, d)),
    "anchor_bm25_topk": lambda s, d: FT.anchor_bm25_topk(
        HX.anchor_text_partials(_html_corpus(s, d))
    ),
    "html_canonical_dups": lambda s, d: HX.html_canonical_dups(_html_corpus(s, d)),
    "html_content_dups": lambda s, d: HX.html_content_dups(_html_corpus(s, d)),
    "html_block_dedup": lambda s, d: HX.corpus_block_dedup(_html_corpus(s, d)),
    "html_near_dups": lambda s, d: D.minhash_band_pairs(
        HX.html_main_text(_html_corpus(s, d))
    ),
    "crawl_keep_latest": lambda s, d: _crawl_keep_latest(s, d),
    "crawl_corpus": lambda s, d: _crawl_corpus(s, d),
    "recrawl_change_rate": _recrawl_change_rate,
    "corpus_funnel": _corpus_funnel,
    "crawl_to_shards": _crawl_to_shards,
    "link_in_degree": lambda s, d: HX.link_in_degree(_html_corpus(s, d)),
    "site_link_graph": _site_link_graph,
    "link_pagerank": _link_pagerank,
    "link_hits": _link_hits,
    "crawl_frontier": _crawl_frontier,
    "frontier_schedule": lambda s, d: GR.frontier_schedule(_crawl_frontier(s, d)),
    # event-stream analytics (operators/eventflow.py): as-of join,
    # ordered funnel, retention cohorts — plus the HDR quantile sketch
    "media_refs": _media_refs,
    # interleaved image-text pair mining (operators/multimodal.py)
    "media_pairs": _media_pairs,
    "media_pair_stats": lambda s, d: MM.media_pair_stats(_media_pairs(s, d)),
    "session_attribution": lambda s, d: EV.session_attribution(_events(s, d)),
    "rollup_cascade": lambda s, d: EV.rollup_cascade(_events(s, d)),
    "rollup_anomalies": lambda s, d: EV.rollup_anomalies(_events(s, d)),
    "events_asof": lambda s, d: EV.asof_join_events(_events(s, d)),
    "event_funnel": lambda s, d: EV.event_funnel(_events(s, d)),
    "funnel_report": lambda s, d: EV.funnel_report(_events(s, d)),
    "retention_cohorts": lambda s, d: EV.retention_cohorts(_events(s, d)),
    "value_quantiles": lambda s, d: SK.hdr_quantiles(_events(s, d)),
    # per-type inter-arrival distribution (HDR µs buckets + exact stats)
    "event_interarrival": lambda s, d: EV.event_interarrival(_events(s, d)),
    # HTML source -> the SAME downstream chunking pipeline as PDF-derived
    # span corpora (rows-only: chunk fold not SQL-expressible; pipeline
    # equality vs the eager kernel in tests/test_html_pipeline.py)
    "html_chunks": _html_chunks,
}


# --------------------------------------------------------------------------
# DuckDB oracle side — same constants, DuckDB dialect
# --------------------------------------------------------------------------

_NL = "chr(10)"

# deterministic marker-laden raw text (twin of textstats.marked_raw)
_RAW = (
    "'--- Page ' || cast(doc_id % 90 + 1 as varchar) || ' ---' || chr(10) || '  ' || "
    "replace(text, ' table ', '  table' || chr(10) || chr(10) || chr(10) || chr(10) || ' ') || "
    "chr(10) || chr(10) || chr(10) || chr(10) || '----  page 7  ----' || chr(10) || '  tail  text  '"
)


def _clean(expr: str) -> str:
    """Twin of textstats.clean_expr."""
    c = f"regexp_replace({expr}, '{C.PAGE_MARKER_RE}', '', 'g')"
    c = f"regexp_replace({c}, '{C.SPACE_RUN_RE}', ' ', 'g')"
    c = f"regexp_replace({c}, '{C.BLANK_RUN_RE}', chr(10)||chr(10), 'g')"
    return (
        f"array_to_string(list_transform(string_split({c}, chr(10)), "
        f"x -> trim(x)), chr(10))"
    )


def _poly(expr: str) -> str:
    """Twin of textstats.poly_hash ('#' sentinel + codepoint fold)."""
    return (
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform(string_split('#' || {expr}, ''), "
        f"c -> cast(ascii(c) as bigint))), "
        f"(a, x) -> (a * {C.HASH_BASE} + x) % {C.HASH_MOD})"
    )


_NORM = f"trim(regexp_replace(lower(text), '{C.WS_SPLIT_RE}', ' ', 'g'))"

# shingle CTEs shared by ngram_jaccard / minhash (twin of dedup.doc_shingles);
# parameterized over the (doc_id, text) source so the same arithmetic runs
# over raw documents AND derived corpora (HTML main text)
def _sh_cte_src(src: str) -> str:
    return f"""
  toks AS (
    SELECT doc_id,
           regexp_split_to_array({_NORM}, '{C.WS_SPLIT_RE}') AS t
    FROM {src}),
  sh0 AS (
    SELECT doc_id,
           CASE WHEN len(t) >= {C.SHINGLE_N}
                THEN list_transform(generate_series(1, len(t) - {C.SHINGLE_N - 1}),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END AS shs
    FROM toks),
  sh AS (
    SELECT doc_id, unnest(list_distinct(shs)) AS sh FROM sh0)
"""


_SH_CTE = _sh_cte_src("documents")

_FP_VEC = (
    f"list_transform(generate_series(1, {C.EMBED_DIM}), "
    f"i -> cast(round(cast(embedding[i] as double) * {C.FIXED_POINT}) as bigint))"
)

_DOT = (
    f"cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}), "
    f"i -> ev[i] * qv[i])) as bigint)"
)

_SQNORM_EV = "cast(list_sum(list_transform(ev, x -> x * x)) as double)"
_SQNORM_QV = "cast(list_sum(list_transform(qv, x -> x * x)) as double)"

# product-quantization twin (operators/pq.py): codebook = subvector m of the
# first PQ_K vectors; codes = per-(vec, subspace) argmin of exact int64 L2^2
# with ties to the smallest code (mirrors np.argmin first-occurrence)
_PQ_CTES = f"""c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
kv AS (SELECT vec_id AS code, {_FP_VEC} AS ev FROM embeddings
       WHERE vec_id < {C.PQ_K}),
cb AS (
  SELECT ms.m, kv.code,
         list_transform(generate_series(1, {C.PQ_SUB}),
                        j -> kv.ev[ms.m * {C.PQ_SUB} + j]) AS cw
  FROM kv, range(0, {C.PQ_M}) ms(m)),
dist AS (
  SELECT c.vec_id, cb.m, cb.code,
         cast(list_sum(list_transform(generate_series(1, {C.PQ_SUB}),
              j -> (c.ev[cb.m * {C.PQ_SUB} + j] - cb.cw[j])
                 * (c.ev[cb.m * {C.PQ_SUB} + j] - cb.cw[j]))) as bigint) AS d
  FROM c, cb),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM dist) WHERE rn = 1)"""


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"min(({C.MINHASH_A[i]} * x + {C.MINHASH_B[i]}) % {C.HASH_MOD}) AS m{i}"
        for i in range(C.MINHASH_K)
    )
    return f"""
  hx AS (SELECT doc_id, {_poly('sh')} AS x FROM sh),
  sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id)"""


def _band_union_sql() -> str:
    parts = []
    for j in range(C.LSH_BANDS):
        val = " || ',' || ".join(
            f"cast(m{j * C.LSH_ROWS + r} as varchar)" for r in range(C.LSH_ROWS)
        )
        parts.append(f"SELECT doc_id, {j} AS band, {val} AS val FROM sig")
    return " UNION ALL ".join(parts)


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(C.SIMHASH_BITS)
    )
    word = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(C.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array({_NORM}, '{C.WS_SPLIT_RE}')) AS tok
  FROM documents),
hx AS (SELECT doc_id, {_poly('tok')} AS x FROM toks),
v AS (SELECT doc_id, {votes} FROM hx GROUP BY doc_id)
SELECT doc_id, cast({word} as bigint) AS simhash FROM v"""


_LANG_HITS = ", ".join(
    f"cast(len(regexp_extract_all(text, '{rx}')) as bigint) AS hits_{lang}"
    for lang, rx in C.LANG_STOPWORD_RE.items()
)
_LANG_CASE = " ".join(
    f"WHEN hits_{lang} = best THEN '{lang}'" for lang in C.LANG_ORDER
)

_BUCKET_CASE = (
    f"CASE WHEN cos > {C.SIM_BUCKETS[0][0]} THEN '{C.SIM_BUCKETS[0][1]}' "
    f"WHEN cos > {C.SIM_BUCKETS[1][0]} THEN '{C.SIM_BUCKETS[1][1]}' "
    f"WHEN cos > {C.SIM_BUCKETS[2][0]} THEN '{C.SIM_BUCKETS[2][1]}' "
    f"ELSE 'minimal' END"
)

_STUB_COMPS = (
    f"list_transform(generate_series(0, {C.EMBED_DIM - 1}), "
    f"i -> cast((fp * {C.HASH_BASE} + i) % 1009 - 504 as double))"
)

# structural twin of sources/corpus.spans_from_text — every count is pure
# integer arithmetic on the document's word count (contract CORPUS_*)
_WPL, _LPP = C.CORPUS_WORDS_PER_LINE, C.CORPUS_LINES_PER_PAGE
_CORPUS_META = f"""
  wd AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '{C.WS_SPLIT_RE}'),
                           x -> x <> '')) AS n_words
    FROM documents),
  ln AS (
    SELECT doc_id, n_words,
           cast(ceil(n_words / {_WPL}.0) as bigint) AS n_lines
    FROM wd),
  cm AS (
    SELECT doc_id, n_words, n_lines,
           cast(ceil(n_lines / {_LPP}.0) as bigint) AS n_pages,
           cast(len(list_filter(generate_series(0, n_lines - 1),
                i -> i % {C.CORPUS_FIG_EVERY} = {C.CORPUS_FIG_PHASE})) as bigint) AS n_figs
    FROM ln)
"""

_FOOTER_SQL = (
    f"'{C.CORPUS_FOOTER_PREFIX}' || cast(doc_id as varchar) || "
    f"' - page ' || cast(p as varchar)"
)

# pairwise fixed-point cosine, rounded to 6dp (twin of dedup._pair_cos_r6)
_PAIR_COS = (
    f"round(cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}), "
    f"i -> ea[i] * eb[i])) as bigint) / "
    f"(sqrt(cast(list_sum(list_transform(ea, x -> x * x)) as double)) * "
    f"sqrt(cast(list_sum(list_transform(eb, x -> x * x)) as double))), 6)"
)


def _kmeans_ctes() -> str:
    """Twin of operators/kmeans.kmeans_np: KM_ITERS unrolled Lloyd rounds
    (the PageRank unrolled-oracle precedent).  Per round: exact int64 L2^2
    assignment (the ||x||^2 term dropped — constant per row, order- and
    tie-preserving), floor(sum/count) update in float64 (exact at gate
    scale, see kmeans.py), empty clusters carry the previous centroid."""
    k, iters, dim = C.KM_K, C.KM_ITERS, C.EMBED_DIM
    parts = [
        f"""c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
cents0 AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
           WHERE vec_id < {k})"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""s{t} AS (
  SELECT c.vec_id, c.ev, t.cent_id,
         cast(list_sum(list_transform(t.cv, x -> x * x)) as bigint)
         - 2 * cast(list_sum(list_transform(generate_series(1, {dim}),
               i -> c.ev[i] * t.cv[i])) as bigint) AS d
  FROM c, cents{t - 1} t),
a{t} AS (
  SELECT vec_id, ev, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, cent_id) AS rn
    FROM s{t}) WHERE rn = 1),
g{t} AS (
  SELECT cent_id, i.i AS dim,
         cast(floor(cast(sum(ev[i.i]) as double) / count(*)) as bigint) AS v
  FROM a{t}, generate_series(1, {dim}) i(i)
  GROUP BY cent_id, i.i),
cents{t} AS (
  SELECT cent_id, list(v ORDER BY dim) AS cv FROM g{t} GROUP BY cent_id
  UNION ALL
  SELECT cent_id, cv FROM cents{t - 1}
  WHERE cent_id NOT IN (SELECT DISTINCT cent_id FROM a{t}))"""
        )
    return ",\n".join(parts)


_KM_FINAL = f"cents{C.KM_ITERS}"


def _bpe_ctes() -> str:
    """Twin of operators/bpe.bpe_train: BPE_ROUNDS unrolled merge rounds
    over the distinct-word aggregate (the kmeans unrolled-oracle
    precedent).  Per round: weighted adjacent-pair counts (scalar
    generate_series list — empty for 1-symbol words), top pair by
    (freq DESC, pair ASC — binary UTF-8 order in both engines), merge
    applied as plain replace (every symbol is one codepoint, see
    operators/bpe.py).  The chain's CTEs are MATERIALIZED (so are the
    HITS, MMR, kNN, k-center and dedup_clusters chains): DuckDB re-plans an
    unmaterialized CTE at each reference, and each round references the
    previous one more than once, so planning would grow exponentially in
    the rounds."""
    parts = [
        f"""wc0 AS MATERIALIZED (
  SELECT token AS sym, cast(count(*) as bigint) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
    FROM documents)
  WHERE token <> '' AND NOT regexp_matches(token, '{BP._MARKER_CLASS}')
  GROUP BY token)"""
    ]
    for t in range(C.BPE_ROUNDS):
        mk = chr(C.BPE_MARKER_BASE + t)
        parts.append(
            f"""p{t} AS MATERIALIZED (
  SELECT unnest(list_transform(generate_series(1, length(sym) - 1),
                               i -> substring(sym, i, 2))) AS pair, cnt
  FROM wc{t}),
m{t} AS MATERIALIZED (
  SELECT pair, cast(sum(cnt) as bigint) AS freq FROM p{t}
  GROUP BY pair ORDER BY freq DESC, pair ASC LIMIT 1),
wc{t + 1} AS MATERIALIZED (
  SELECT replace(sym, (SELECT pair FROM m{t}), '{mk}') AS sym, cnt FROM wc{t})"""
        )
    return ",\n".join(parts)


def _bpe_expand_sql(col: str, upto: int) -> str:
    """Marker -> readable expansion: reverse replaces in DESCENDING round
    order (twin of bpe._expand_chain)."""
    e = col
    for s in range(upto - 1, -1, -1):
        e = (
            f"replace({e}, '{chr(C.BPE_MARKER_BASE + s)}', "
            f"(SELECT pair FROM m{s}))"
        )
    return e


def _bpe_apply_sql(col: str) -> str:
    """The trained merge chain in round order (twin of bpe._merge_chain)."""
    e = col
    for t in range(C.BPE_ROUNDS):
        e = (
            f"replace({e}, (SELECT pair FROM m{t}), "
            f"'{chr(C.BPE_MARKER_BASE + t)}')"
        )
    return e


def _srp_word_sql() -> str:
    """Twin of dedup.srp_words: SRP_BITS sign bits packed into a bigint.
    Each plane literal is zipped with ``ev`` once per row; indexing the
    literal inside a per-element lambda rebuilds it for every element."""
    terms = []
    for j, hp in enumerate(C.srp_hyperplanes(C.EMBED_DIM, C.SRP_BITS)):
        arr = "[" + ", ".join(str(v) for v in hp) + "]::bigint[]"
        dot = (
            f"list_sum(list_transform(list_zip(ev, {arr}), "
            f"p -> p[1] * p[2]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    return "cast(" + " + ".join(terms) + " as bigint)"


def _srp_band_eq_sql() -> str:
    width = C.SRP_BITS // C.SRP_BANDS
    mask = (1 << width) - 1
    return " OR ".join(
        f"((wa >> {j * width}) & {mask}) = ((wb >> {j * width}) & {mask})"
        for j in range(C.SRP_BANDS)
    )


def _bm25_cte(queries: dict[int, tuple[str, ...]]) -> str:
    """Twin of fulltext.bm25_topk_multi's DAG up to the ranked `bm` CTE —
    identical integer arithmetic (log-free capped idf, capped tf, `//` ==
    Spark `div` on the all-positive operands)."""
    qt_vals = ", ".join(
        f"({q}, '{t}')" for q, ts in sorted(queries.items()) for t in ts
    )
    return f"""
tok AS (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
        FROM documents),
post AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (1000 * coalesce(sum(dl), 0)) // (SELECT count(*) FROM documents) AS avgdl_e3
          FROM dl),
qt(q_id, token) AS (VALUES {qt_vals}),
tdf AS (SELECT token, count(*) AS df FROM post
        WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
fts_scored AS (
  SELECT qt.q_id, p.doc_id,
         (least((1000000 * (2*s.n_docs - 2*t.df + 1)) // (2*t.df + 1),
                {C.FTS_IDF_CAP_E6})
          * ((1000000 * 22 * least(p.tf, {C.FTS_TF_CAP}) * s.avgdl_e3) //
             (10 * least(p.tf, {C.FTS_TF_CAP}) * s.avgdl_e3 + 3 * s.avgdl_e3
              + 9000 * d.dl))
         ) // 1000 AS term_score_e9
  FROM post p JOIN qt USING (token) JOIN tdf t USING (token)
       JOIN dl d USING (doc_id), stats s),
bm AS (
  SELECT q_id, doc_id, sum(term_score_e9) AS score_e9,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sum(term_score_e9) DESC, doc_id) AS rank
  FROM fts_scored GROUP BY q_id, doc_id)"""

def _pack_sequences_cte(seq_len: int) -> str:
    """Twin of packing.pack_sequences: exclusive prefix sum over doc_id
    order, explode to the sequences each doc overlaps, integer interval
    intersection.  Ends in the `seqs` CTE."""
    return f"""
pt AS (SELECT doc_id,
              cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
                   as bigint) AS n
       FROM documents),
pp AS (SELECT doc_id, n,
              cast(coalesce(sum(n) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   as bigint) AS pre
       FROM pt),
pe AS (SELECT doc_id, n, pre,
              unnest(range(pre // {seq_len}, (pre + n - 1) // {seq_len} + 1)) AS seq_id
       FROM pp),
seqs AS (
  SELECT cast(seq_id as bigint) AS seq_id, cast(doc_id as bigint) AS doc_id,
         cast(greatest(pre, seq_id*{seq_len}) - seq_id*{seq_len} as bigint) AS seq_tok_start,
         cast(greatest(pre, seq_id*{seq_len}) - pre as bigint) AS doc_tok_start,
         cast(least(pre + n, (seq_id+1)*{seq_len})
              - greatest(pre, seq_id*{seq_len}) as bigint) AS n_tokens
  FROM pe)"""


def _dup_passage_cte(k: int) -> str:
    """Twin of repetition._passages: duplicated k-word shingle occurrences
    merged into maximal per-doc passages (gaps-and-islands), ending in the
    `p` CTE with (doc_id, nw, start_word, end_word, n_shingles)."""
    return f"""
w AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                         x -> x <> '') AS words
      FROM documents),
d2 AS (SELECT doc_id, words, len(words) AS nw FROM w WHERE len(words) >= {k}),
i2 AS (SELECT doc_id, nw, words,
              unnest(range(1, nw - {k} + 2)) AS start_w FROM d2),
sh AS (SELECT doc_id, nw, start_w,
              array_to_string(words[start_w:start_w + {k} - 1], ' ') AS gram FROM i2),
dup AS (SELECT gram FROM sh GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
occ AS (SELECT doc_id, nw, start_w FROM sh JOIN dup USING (gram)),
m AS (SELECT doc_id, nw, start_w,
             CASE WHEN lag(start_w) OVER (PARTITION BY doc_id ORDER BY start_w) IS NULL
                       OR start_w - lag(start_w) OVER (PARTITION BY doc_id ORDER BY start_w) > {k}
                  THEN 1 ELSE 0 END AS brk
      FROM occ),
isl AS (SELECT doc_id, nw, start_w,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start_w
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM m),
p AS (SELECT doc_id, nw, island, min(start_w) AS start_word,
             max(start_w) + {k} - 1 AS end_word, count(*) AS n_shingles
      FROM isl GROUP BY 1, 2, 3)"""


# shared CTE chain for the CCNet bucketing pair: per-language bigram-MLE
# fluency (the lm_fluency arithmetic keyed by lang), then per-language
# thirds by counting — `{p}b` is the bucketed per-doc frame the oracles
# read.  ``p`` prefixes every CTE name so the chain composes into larger
# WITH blocks (curate_corpus_v2) without colliding
def _ccnet_cte(p: str = "") -> str:
    return f"""
{p}w AS (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                         x -> x <> '') AS words
      FROM documents),
{p}bi AS (SELECT doc_id, lang, words[i] AS w1, words[i + 1] AS w2
       FROM (SELECT doc_id, lang, words,
                    unnest(range(1, greatest(len(words), 1))) AS i
             FROM {p}w)),
{p}c2 AS (SELECT lang, w1, w2, cast(count(*) as bigint) AS c2 FROM {p}bi GROUP BY 1, 2, 3),
{p}c1 AS (SELECT lang, w1, cast(sum(c2) as bigint) AS c1 FROM {p}c2 GROUP BY 1, 2),
{p}fl AS (SELECT doc_id, lang, cast(sum(p_e6) // count(*) as bigint) AS fluency_e6
       FROM (SELECT {p}bi.doc_id, {p}bi.lang, (1000000 * {p}c2.c2) // {p}c1.c1 AS p_e6
             FROM {p}bi JOIN {p}c2 USING (lang, w1, w2) JOIN {p}c1 USING (lang, w1))
       GROUP BY 1, 2),
{p}v AS (SELECT lang, fluency_e6, cast(count(*) as bigint) AS cnt FROM {p}fl GROUP BY 1, 2),
{p}cm AS (SELECT lang, fluency_e6,
              cast(sum(cnt) OVER (PARTITION BY lang ORDER BY fluency_e6 DESC) as bigint) AS cum,
              cast(sum(cnt) OVER (PARTITION BY lang) as bigint) AS total
       FROM {p}v),
{p}cuts AS (SELECT lang,
                max(CASE WHEN cum >= (total + 2) // 3 THEN fluency_e6 END) AS cut1,
                max(CASE WHEN cum >= (2 * total + 2) // 3 THEN fluency_e6 END) AS cut2
         FROM {p}cm GROUP BY 1),
{p}b AS (SELECT cast({p}fl.doc_id as bigint) AS doc_id, {p}fl.lang, {p}fl.fluency_e6,
             CASE WHEN {p}fl.fluency_e6 >= {p}cuts.cut1 THEN 'head'
                  WHEN {p}fl.fluency_e6 >= {p}cuts.cut2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM {p}fl JOIN {p}cuts USING (lang))"""


_CCNET_CTE = _ccnet_cte()

# shared CTE chain for the quality-classifier pair: the hashed-linear stub
# model (contract CLS_* arithmetic) — `{p}qb` is the labeled per-doc frame
# the oracles read.  Weights stay non-negative through the mean (Spark
# `div` == DuckDB `//` only for non-negative operands); the shift by
# -CLS_W happens after the division, exactly as in operators/classifier.py.
# ``p`` prefixes every CTE name so the chain composes (curate_corpus_v2)
def _cls_cte(p: str = "") -> str:
    return f"""
{p}w AS (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                         x -> x <> '') AS words
      FROM documents),
{p}t AS (SELECT doc_id, lang, unnest(words) AS token FROM {p}w),
{p}s AS (SELECT doc_id, lang,
             ('0x' || substr(md5('{C.CLS_SALT}' || token), 1, 12))::BIGINT
               % {2 * C.CLS_W + 1} AS w_raw
      FROM {p}t),
{p}qb AS (SELECT cast(doc_id as bigint) AS doc_id, lang,
              cast(count(*) as bigint) AS n_tokens,
              cast(sum(w_raw) // count(*) - {C.CLS_W} as bigint) AS score_e6,
              CASE WHEN sum(w_raw) // count(*) - {C.CLS_W} >= {C.CLS_THRESH_E6}
                   THEN 'keep' ELSE 'drop' END AS label
       FROM {p}s GROUP BY 1, 2)"""


_CLS_CTE = _cls_cte()


def _gopher_rules_cte() -> str:
    """Twin of gopher.gopher_rules, ending in the `gm` CTE with every
    metric + flag column.  Mirrors the Spark shape: per-(doc, line) group,
    per-DISTINCT-line regexp features, bit_or-folded stopword mask.  All
    sums cast to bigint (DuckDB sum() widens to HUGEINT)."""
    mask = " + ".join(
        f"(CASE WHEN len(regexp_extract_all(line, '(?i)\\b{w}\\b')) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, w in enumerate(C.GOPHER_REQ_STOPWORDS)
    )
    return f"""
gl AS (SELECT doc_id, line FROM
         (SELECT doc_id, unnest(regexp_split_to_array(text, '\\n')) AS line
          FROM documents)
       WHERE trim(line) <> ''),
gg AS (SELECT doc_id, line, cast(count(*) as bigint) AS cnt
       FROM gl GROUP BY 1, 2),
gf AS (SELECT doc_id, cnt,
         cast(length(line) as bigint) AS chars,
         cast(length(regexp_replace(line, '\\s', '', 'g')) as bigint) AS nonspace,
         cast(len(regexp_split_to_array(trim(line), '{C.WS_SPLIT_RE}')) as bigint) AS words,
         cast(len(regexp_extract_all(line, '{C.GOPHER_ALPHA_WORD_RE}')) as bigint) AS alpha_words,
         cast(len(regexp_extract_all(line, '{C.GOPHER_SYMBOL_RE}')) as bigint) AS symbols,
         CASE WHEN len(regexp_extract_all(line, '{C.GOPHER_BULLET_RE}')) > 0 THEN 1 ELSE 0 END AS bullet,
         CASE WHEN len(regexp_extract_all(line, '{C.GOPHER_ELLIPSIS_LINE_RE}')) > 0 THEN 1 ELSE 0 END AS ell,
         ({mask}) AS stop_mask
       FROM gg),
gp AS (SELECT doc_id,
         cast(sum(cnt) as bigint) AS n_lines,
         cast(sum(cnt * words) as bigint) AS n_words,
         cast(sum(cnt * nonspace) as bigint) AS nonspace_chars,
         cast(sum(cnt * chars) as bigint) AS line_chars,
         cast(sum(cnt * alpha_words) as bigint) AS n_alpha_words,
         cast(sum(cnt * symbols) as bigint) AS n_symbols,
         cast(sum(cnt * bullet) as bigint) AS bullet_lines,
         cast(sum(cnt * ell) as bigint) AS ellipsis_lines,
         cast(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) as bigint) AS dup_lines,
         cast(sum(CASE WHEN cnt >= 2 THEN cnt * chars ELSE 0 END) as bigint) AS dup_line_chars,
         cast(bit_count(cast(bit_or(stop_mask) as bigint)) as bigint) AS n_req_stopwords
       FROM gf GROUP BY doc_id),
gq AS (SELECT *,
         (100 * nonspace_chars) // greatest(n_words, 1) AS mean_word_len_e2,
         (1000000 * n_symbols) // greatest(n_words, 1) AS symbol_frac_e6,
         (1000000 * bullet_lines) // greatest(n_lines, 1) AS bullet_frac_e6,
         (1000000 * ellipsis_lines) // greatest(n_lines, 1) AS ellipsis_frac_e6,
         (1000000 * n_alpha_words) // greatest(n_words, 1) AS alpha_frac_e6,
         (1000000 * dup_lines) // greatest(n_lines, 1) AS dup_line_frac_e6,
         (1000000 * dup_line_chars) // greatest(line_chars, 1) AS dup_line_char_frac_e6
       FROM gp),
gm AS (SELECT doc_id, n_lines, n_words, mean_word_len_e2, symbol_frac_e6,
         bullet_frac_e6, ellipsis_frac_e6, alpha_frac_e6, n_req_stopwords,
         dup_line_frac_e6, dup_line_char_frac_e6,
         (n_words >= {C.GOPHER_MIN_WORDS} AND n_words <= {C.GOPHER_MAX_WORDS}) AS wordcount_ok,
         (mean_word_len_e2 >= {C.GOPHER_MIN_WORD_LEN_E2} AND mean_word_len_e2 <= {C.GOPHER_MAX_WORD_LEN_E2}) AS wordlen_ok,
         (symbol_frac_e6 <= {C.GOPHER_SYMBOL_MAX_E6}) AS symbol_ok,
         (bullet_frac_e6 <= {C.GOPHER_BULLET_MAX_E6}) AS bullet_ok,
         (ellipsis_frac_e6 <= {C.GOPHER_ELLIPSIS_MAX_E6}) AS ellipsis_ok,
         (alpha_frac_e6 >= {C.GOPHER_ALPHA_MIN_E6}) AS alpha_ok,
         (n_req_stopwords >= {C.GOPHER_MIN_REQ_STOPWORDS}) AS stops_ok,
         (dup_line_frac_e6 <= {C.GOPHER_DUP_LINE_MAX_E6}) AS dup_line_ok,
         (dup_line_char_frac_e6 <= {C.GOPHER_DUP_LINE_CHAR_MAX_E6}) AS dup_line_char_ok
       FROM gq)"""


def _gopher_rep_ok_cte() -> str:
    """Per-doc repetition verdict columns from the repetition_metrics
    arithmetic (same CTE shape as its standalone oracle), ending in
    `rep_ok` with one coalesced boolean per published threshold."""
    tops = ", ".join(
        f"coalesce(min(CASE WHEN n = {n} THEN top_frac_e6 <= {thr} END), true) AS top{n}_ok"
        for n, thr in sorted(C.GOPHER_TOP_NGRAM_MAX_E6.items())
    )
    dups = ", ".join(
        f"coalesce(min(CASE WHEN n = {n} THEN dup_frac_e6 <= {thr} END), true) AS dup{n}_ok"
        for n, thr in sorted(C.GOPHER_DUP_NGRAM_MAX_E6.items())
    )
    return f"""
rw AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                          x -> x <> '') AS words
       FROM documents),
rd AS (SELECT doc_id, words,
              greatest(length(array_to_string(words, ' ')), 1) AS denom FROM rw),
rns(n) AS (VALUES {", ".join(f"({n})" for n in C.REP_NS)}),
ri AS (SELECT doc_id, denom, n, words,
              unnest(range(1, greatest(len(words) - n + 2, 1))) AS start_w
       FROM rd, rns),
rg AS (SELECT doc_id, denom, n,
              array_to_string(words[start_w:start_w + n - 1], ' ') AS gram FROM ri),
rcnt AS (SELECT doc_id, denom, n, gram, count(*) AS cnt FROM rg GROUP BY 1, 2, 3, 4),
rr AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                    ORDER BY cnt DESC, gram) AS rn FROM rcnt),
rper AS (SELECT doc_id, n, denom,
                max(CASE WHEN rn = 1 THEN cnt END) AS top_cnt,
                max(CASE WHEN rn = 1 THEN length(gram) END) AS top_chars,
                sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
         FROM rr GROUP BY 1, 2, 3),
rfrac AS (SELECT doc_id, n,
                 least((1000000 * top_cnt * top_chars) // denom, 1000000) AS top_frac_e6,
                 least((1000000 * dup_chars) // denom, 1000000) AS dup_frac_e6
          FROM rper),
rep_ok AS (SELECT doc_id, {tops}, {dups} FROM rfrac GROUP BY doc_id)"""


def _winnow_cte() -> str:
    """Twin of winnow.winnow_fingerprints, ending in the `wfp` CTE with
    (doc_id, fp_pos, fp).  Same contract arithmetic: per-distinct-word
    poly hash, lead()-fold gram hash, rightmost-min window selection via
    min([h, -pos])."""
    leads = ", ".join(
        f"lead(wh, {j}) OVER wd AS l{j}" for j in range(1, C.WINNOW_K)
    )
    gexpr = "wh"
    for j in range(1, C.WINNOW_K):
        gexpr = f"(({gexpr}) * {C.HASH_BASE} + l{j}) % {C.HASH_MOD}"
    return f"""
ww AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                          x -> x <> '') AS words
       FROM documents),
wt AS (SELECT doc_id, pos, words[pos] AS word FROM
         (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS pos FROM ww)),
wv AS (SELECT word, {_poly('word')} AS wh
       FROM (SELECT DISTINCT word FROM wt)),
wth AS (SELECT doc_id, pos, wh FROM wt JOIN wv USING (word)),
wl AS (SELECT doc_id, pos, wh, {leads}
       FROM wth WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
wg AS (SELECT doc_id, pos, cast({gexpr} as bigint) AS h
       FROM wl WHERE l{C.WINNOW_K - 1} IS NOT NULL),
wsel AS (SELECT doc_id, pos,
           min([h, -pos]) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {C.WINNOW_W - 1} FOLLOWING) AS sel,
           max(pos) OVER (PARTITION BY doc_id) AS m
         FROM wg),
wfp AS (SELECT DISTINCT doc_id, cast(-sel[2] as bigint) AS fp_pos,
                        cast(sel[1] as bigint) AS fp
        FROM wsel WHERE pos <= greatest(m - {C.WINNOW_W} + 1, 1))"""


_WINNOW_CTE = _winnow_cte()


_GOPHER_RULES_CTE = _gopher_rules_cte()
_GOPHER_REP_OK_CTE = _gopher_rep_ok_cte()
_GOPHER_FLAGS = [f"top{n}_ok" for n in sorted(C.GOPHER_TOP_NGRAM_MAX_E6)] + [
    f"dup{n}_ok" for n in sorted(C.GOPHER_DUP_NGRAM_MAX_E6)
]

ORACLE_SQL: Dict[str, str] = {
    "quality_classify": f"""
WITH {_CLS_CTE}
SELECT doc_id, lang, n_tokens, score_e6, label FROM qb""",
    "quality_classify_stats": f"""
WITH {_CLS_CTE}
SELECT lang, label, cast(count(*) as bigint) AS n_docs,
       min(score_e6) AS min_score_e6, max(score_e6) AS max_score_e6
FROM qb GROUP BY 1, 2""",
    "ccnet_buckets": f"""
WITH {_CCNET_CTE}
SELECT doc_id, lang, fluency_e6, bucket FROM b""",
    "ccnet_bucket_stats": f"""
WITH {_CCNET_CTE}
SELECT lang, bucket, cast(count(*) as bigint) AS n_docs,
       min(fluency_e6) AS min_fluency_e6, max(fluency_e6) AS max_fluency_e6
FROM b GROUP BY 1, 2""",
    "clean_text": f"""
WITH r AS (SELECT doc_id, {_RAW} AS raw FROM documents)
SELECT doc_id, {_clean('raw')} AS cleaned FROM r""",
    "content_loss": f"""
WITH r AS (SELECT doc_id, {_RAW} AS raw FROM documents),
c AS (SELECT doc_id,
             length(regexp_replace(raw, '\\s', '', 'g')) AS orig_nonspace,
             length(regexp_replace({_clean('raw')}, '\\s', '', 'g')) AS clean_nonspace
      FROM r)
SELECT doc_id,
       cast(orig_nonspace as bigint) AS orig_nonspace,
       cast(clean_nonspace as bigint) AS clean_nonspace,
       round((1.0 - clean_nonspace / orig_nonspace) * 100, 4) AS loss_pct,
       round((1.0 - clean_nonspace / orig_nonspace) * 100, 4) > 10.0 AS loss_warning
FROM c""",
    "token_counts": f"""
SELECT doc_id,
       cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) as bigint) AS ws_tokens,
       cast(len(regexp_extract_all(text, '{C.TOKEN_RE}')) as bigint) AS re_tokens,
       cast(len(regexp_extract_all(text, '{C.SENT_END_RE}')) as bigint) AS sentences,
       cast(length(text) as bigint) AS n_chars_calc
FROM documents""",
    "text_quality": f"""
WITH b AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) AS words,
         len(regexp_extract_all(text, '{C.QUALITY_STOPWORD_RE}')) AS stops,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
  FROM documents)
SELECT doc_id,
       cast(words as bigint) AS n_words,
       cast(stops as bigint) AS n_stopwords,
       round(stops / words, 6) AS stopword_ratio,
       round(punct / n_chars, 6) AS punct_ratio,
       round(alpha / words, 4) AS mean_word_len,
       (words >= 10 AND stops / words <= 0.5) AS passes_filter
FROM b""",
    "lang_id": f"""
WITH h AS (
  SELECT doc_id, text, {_LANG_HITS},
         len(regexp_extract_all(text, '{C.CJK_RE}')) AS cjk
  FROM documents),
g AS (SELECT *, greatest({', '.join('hits_' + l for l in C.LANG_ORDER)}) AS best FROM h)
SELECT doc_id, {', '.join('hits_' + l for l in C.LANG_ORDER)},
       CASE WHEN cjk > 0 THEN 'zh' {_LANG_CASE} ELSE 'und' END AS pred_lang
FROM g""",
    "fingerprint": f"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents)
SELECT doc_id, md5(norm) AS fp_md5, {_poly('norm')} AS fp_poly FROM n""",
    "vocab_topk": f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
  FROM documents)
SELECT token, cast(count(*) as bigint) AS n_tokens,
       cast(count(DISTINCT doc_id) as bigint) AS n_docs
FROM tok WHERE token <> ''
GROUP BY token
ORDER BY n_tokens DESC, token ASC
LIMIT {C.VOCAB_TOPK}""",
    "bpe_merges": f"""
WITH {_bpe_ctes()}
SELECT * FROM ({" UNION ALL ".join(
    f"SELECT cast({t} as bigint) AS round, pair, "
    f"{_bpe_expand_sql('pair', t)} AS expansion, freq FROM m{t}"
    for t in range(C.BPE_ROUNDS)
)})""",
    "bpe_token_counts": f"""
WITH {_bpe_ctes()},
d AS (SELECT doc_id, lower(text) AS lt FROM documents),
e AS (
  SELECT doc_id,
         cast(len(list_filter(regexp_split_to_array(trim(lt), '{C.WS_SPLIT_RE}'),
                              x -> x <> '')) as bigint) AS n_words,
         cast(length(regexp_replace(lt, '\\s', '', 'g')) as bigint) AS n_chars,
         cast(length(regexp_replace({_bpe_apply_sql('lt')}, '\\s', '', 'g')) as bigint)
           AS n_bpe_tokens
  FROM d)
SELECT doc_id, n_words, n_chars, n_bpe_tokens,
       CASE WHEN n_chars > 0
            THEN cast(n_bpe_tokens * 1000000 // n_chars as bigint)
            ELSE 0 END AS compression_micro
FROM e""",
    # per-language tokenizer fertility (operators/bpe.py token_fertility):
    # same encode expressions as bpe_token_counts, grouped by lang
    "token_fertility": f"""
WITH {_bpe_ctes()},
d AS (SELECT lang, lower(text) AS lt FROM documents),
e AS (
  SELECT lang,
         cast(len(list_filter(regexp_split_to_array(trim(lt), '{C.WS_SPLIT_RE}'),
                              x -> x <> '')) as bigint) AS w,
         cast(length(regexp_replace(lt, '\\s', '', 'g')) as bigint) AS ch,
         cast(length(regexp_replace({_bpe_apply_sql('lt')}, '\\s', '', 'g')) as bigint)
           AS tok
  FROM d)
SELECT lang, cast(count(*) as bigint) AS n_docs,
       cast(sum(w) as bigint) AS n_words,
       cast(sum(tok) as bigint) AS n_bpe_tokens,
       cast((1000 * sum(tok)) // greatest(sum(w), 1) as bigint) AS fertility_e3,
       cast((1000 * sum(ch)) // greatest(sum(tok), 1) as bigint) AS chars_per_token_e3
FROM e GROUP BY lang""",
    "bpe_vocab": f"""
WITH {_bpe_ctes()},
chars AS (
  SELECT unnest(list_transform(generate_series(1, length(sym)),
                               i -> substring(sym, i, 1))) AS sym1, cnt
  FROM wc{C.BPE_ROUNDS}),
v AS (SELECT sym1, cast(sum(cnt) as bigint) AS n_occurrences
      FROM chars GROUP BY sym1)
SELECT sym1 AS token, {_bpe_expand_sql('sym1', C.BPE_ROUNDS)} AS expansion,
       n_occurrences
FROM v""",
    "redact_pii": f"""
WITH raw AS (
  SELECT doc_id,
         text || ' contact user' || cast(doc_id as varchar)
              || '@example.com or see https://docs.example.com/d/'
              || cast(doc_id as varchar) || ' for details' AS r
  FROM documents),
u AS (
  SELECT doc_id,
         len(regexp_extract_all(r, '{C.PII_URL_RE}')) AS n_urls,
         regexp_replace(r, '{C.PII_URL_RE}', '{C.PII_URL_TOKEN}', 'g') AS r1
  FROM raw)
SELECT doc_id,
       cast(len(regexp_extract_all(r1, '{C.PII_EMAIL_RE}')) as bigint) AS n_emails,
       cast(n_urls as bigint) AS n_urls,
       regexp_replace(r1, '{C.PII_EMAIL_RE}', '{C.PII_EMAIL_TOKEN}', 'g') AS redacted
FROM u""",
    "length_histogram": f"""
WITH b AS (SELECT cast(floor(length(text) / {C.HIST_BIN_CHARS}) as bigint) AS bin_id
           FROM documents)
SELECT bin_id,
       cast(bin_id * {C.HIST_BIN_CHARS} as bigint) AS lo_chars,
       cast((bin_id + 1) * {C.HIST_BIN_CHARS} - 1 as bigint) AS hi_chars,
       cast(count(*) as bigint) AS n_docs
FROM b GROUP BY bin_id""",
    "contamination_check": f"""
WITH {_SH_CTE},
eval_sh AS (SELECT DISTINCT s.sh AS sh FROM sh s
            WHERE s.doc_id % {C.EVAL_MOD} = {C.EVAL_RESIDUE}),
hits AS (
  SELECT t.doc_id, count(*) AS n_shingles,
         count(e.sh) AS n_overlap
  FROM sh t LEFT JOIN eval_sh e USING (sh)
  WHERE t.doc_id % {C.EVAL_MOD} <> {C.EVAL_RESIDUE}
  GROUP BY t.doc_id),
base AS (
  SELECT doc_id FROM documents WHERE doc_id % {C.EVAL_MOD} <> {C.EVAL_RESIDUE}),
j AS (
  SELECT base.doc_id,
         coalesce(n_shingles, 0) AS n_shingles,
         coalesce(n_overlap, 0) AS n_overlap
  FROM base LEFT JOIN hits USING (doc_id))
SELECT cast(doc_id as bigint) AS doc_id,
       cast(n_shingles as bigint) AS n_shingles,
       cast(n_overlap as bigint) AS n_overlap,
       cast(CASE WHEN n_shingles > 0
                 THEN floor(n_overlap * 1000000 / n_shingles)
                 ELSE 0 END as bigint) AS overlap_micro,
       (CASE WHEN n_shingles > 0
             THEN floor(n_overlap * 1000000 / n_shingles)
             ELSE 0 END) >= {C.CONTAM_MICRO} AS contaminated
FROM j""",
    "exact_dedup": f"""
SELECT md5({_NORM}) AS grp_hash,
       cast(count(*) as bigint) AS n_docs,
       min(doc_id) AS keeper
FROM documents GROUP BY 1""",
    "ngram_jaccard": f"""
WITH {_SH_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, cast(inter as bigint) AS inter,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= {C.JACCARD_THRESHOLD}""",
    "ngram_jaccard_pruned": f"""
WITH {_SH_CTE},
kept AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh)
  WHERE df <= {C.STOP_SHINGLE_MAX_DOCS}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM kept a JOIN kept b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, cast(inter as bigint) AS inter,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= {C.JACCARD_THRESHOLD}""",
    "minhash_lsh_pairs": f"""
WITH {_SH_CTE},{_minhash_sig_sql()},
bands AS ({_band_union_sql()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band, val)
WHERE a.doc_id < b.doc_id""",
    # MinHash calibration audit (operators/dedup.py minhash_est_audit):
    # per LSH candidate pair, signature-agreement estimate vs exact
    # shingle Jaccard, signed error — all-positive integer DIV
    "minhash_est_audit": f"""
WITH {_SH_CTE},{_minhash_sig_sql()},
bands AS ({_band_union_sql()}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b USING (band, val)
         WHERE a.doc_id < b.doc_id),
agree AS (
  SELECT c.doc_a, c.doc_b,
         cast({" + ".join(
             f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
             for i in range(C.MINHASH_K)
         )} as bigint) AS n_agree
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b),
sizes AS (SELECT doc_id, cast(count(*) as bigint) AS n_sh
          FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, cast(count(*) as bigint) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2)
SELECT cast(g.doc_a as bigint) AS doc_a, cast(g.doc_b as bigint) AS doc_b,
       g.n_agree,
       cast(g.n_agree * 1000000 // {C.MINHASH_K} as bigint) AS est_e6,
       cast(coalesce(i.inter, 0) as bigint) AS inter,
       cast(coalesce(i.inter, 0) * 1000000
            // (na.n_sh + nb.n_sh - coalesce(i.inter, 0)) as bigint)
         AS exact_e6,
       cast(g.n_agree * 1000000 // {C.MINHASH_K}
            - coalesce(i.inter, 0) * 1000000
              // (na.n_sh + nb.n_sh - coalesce(i.inter, 0)) as bigint)
         AS err_e6
FROM agree g
LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
JOIN sizes na ON na.doc_id = g.doc_a
JOIN sizes nb ON nb.doc_id = g.doc_b""",
    # train/val/test assignment (operators/packing.dataset_split): salted
    # md5 coordinate, contract band edges — the curation->training handoff
    "dataset_split": f"""
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('{C.SPLIT_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
           % {C.SAMPLE_MOD} AS split_bucket
  FROM documents)
SELECT cast(doc_id as bigint) AS doc_id, lang,
       cast(split_bucket as bigint) AS split_bucket,
       CASE WHEN split_bucket < {C.SPLIT_VAL_MICRO} THEN 'val'
            WHEN split_bucket < {C.SPLIT_VAL_MICRO + C.SPLIT_TEST_MICRO} THEN 'test'
            ELSE 'train' END AS split
FROM b""",
    "dataset_split_stats": f"""
WITH b AS (
  SELECT lang,
         cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
              as bigint) AS n_tokens,
         ('0x' || substr(md5('{C.SPLIT_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
           % {C.SAMPLE_MOD} AS split_bucket
  FROM documents),
s AS (SELECT *, CASE WHEN split_bucket < {C.SPLIT_VAL_MICRO} THEN 'val'
                     WHEN split_bucket < {C.SPLIT_VAL_MICRO + C.SPLIT_TEST_MICRO} THEN 'test'
                     ELSE 'train' END AS split
      FROM b)
SELECT lang, split,
       cast(count(*) as bigint) AS n_docs,
       cast(sum(n_tokens) as bigint) AS n_tokens,
       cast(min(split_bucket) as bigint) AS min_bucket,
       cast(max(split_bucket) as bigint) AS max_bucket
FROM s GROUP BY 1, 2""",
    "shard_pack": f"""
WITH t AS (SELECT doc_id,
                  cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
                       as bigint) AS n_tokens
           FROM documents)
SELECT cast(doc_id as bigint) AS doc_id, n_tokens,
       cast(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {C.PACK_TOKEN_BUDGET}) as bigint) AS shard_id
FROM t""",
    # deterministic epoch shuffle (operators/packing.py epoch_shuffle):
    # the oracle ranks each (epoch, shard) with the PLAIN global window —
    # an independent algorithm pinning the engine's banded prefix scan
    "epoch_shuffle": f"""
WITH e AS (SELECT doc_id, cast(r.epoch as bigint) AS epoch
           FROM documents, range(0, {C.EPOCH_N}) r(epoch)),
h AS (SELECT doc_id, epoch,
             ('0x' || substr(md5('{C.EPOCH_SALT}' || epoch || ':' || doc_id),
                             1, 12))::BIGINT AS h
      FROM e)
SELECT cast(doc_id as bigint) AS doc_id, epoch,
       cast(h % {C.EPOCH_SHARDS} as bigint) AS shard,
       cast(row_number() OVER (PARTITION BY epoch, h % {C.EPOCH_SHARDS}
                               ORDER BY h, doc_id) as bigint) AS pos
FROM h""",
    "pack_sequences": f"""
WITH {_pack_sequences_cte(C.SEQ_LEN)}
SELECT seq_id, doc_id, seq_tok_start, doc_tok_start, n_tokens FROM seqs""",
    "sequence_stats": f"""
WITH {_pack_sequences_cte(C.SEQ_LEN)}
SELECT seq_id, cast(count(*) as bigint) AS n_docs,
       cast(sum(n_tokens) as bigint) AS n_tokens,
       cast(min(doc_id) as bigint) AS first_doc,
       cast(max(doc_id) as bigint) AS last_doc
FROM seqs GROUP BY seq_id""",
    "shard_stats": f"""
WITH t AS (SELECT doc_id,
                  cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
                       as bigint) AS n_tokens
           FROM documents),
p AS (SELECT doc_id, n_tokens,
             cast(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / {C.PACK_TOKEN_BUDGET}) as bigint) AS shard_id
      FROM t)
SELECT shard_id, cast(count(*) as bigint) AS n_docs,
       cast(sum(n_tokens) as bigint) AS n_tokens,
       cast(min(doc_id) as bigint) AS first_doc,
       cast(max(doc_id) as bigint) AS last_doc
FROM p GROUP BY shard_id""",
    "stratified_sample": f"""
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('{C.SAMPLE_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
           % {C.SAMPLE_MOD} AS sample_bucket
  FROM documents)
SELECT cast(doc_id as bigint) AS doc_id, lang,
       cast(sample_bucket as bigint) AS sample_bucket
FROM b
WHERE sample_bucket < CASE {' '.join(f"WHEN lang = '{lang}' THEN {micro}" for lang, micro in sorted(C.SAMPLE_RATES_MICRO.items()))} ELSE {C.SAMPLE_DEFAULT_MICRO} END""",
    # DSIR importance resampling — the hashed-bucket model, the smoothed
    # integer ratio and the mean-of-ratios weight replayed bucket-for-
    # bucket (contract.DSIR_* note: logs banned, totals' factor dropped)
    "dsir_weights": f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'))
           AS word
  FROM documents),
tb AS (
  SELECT doc_id, {_poly('word')} % {C.DSIR_BUCKETS} AS b
  FROM toks WHERE word <> ''),
db AS (SELECT doc_id, b, cast(count(*) as bigint) AS c
       FROM tb GROUP BY doc_id, b),
rt AS (SELECT b, sum(c) AS cnt_r FROM db GROUP BY b),
tt AS (SELECT b, sum(c) AS cnt_t
       FROM db JOIN documents USING (doc_id)
       WHERE lang IN {tuple(C.DSIR_TARGET_LANGS)} GROUP BY b),
model AS (
  SELECT rt.b,
         (1000000 * (coalesce(cnt_t, 0) + 1)) // (cnt_r + 1) AS ratio_e6
  FROM rt LEFT JOIN tt ON rt.b = tt.b),
w AS (
  SELECT doc_id, sum(c) AS n_tokens,
         sum(c * ratio_e6) // sum(c) AS weight_e6
  FROM db JOIN model USING (b) GROUP BY doc_id)
SELECT cast(w.doc_id as bigint) AS doc_id, d.lang,
       cast(n_tokens as bigint) AS n_tokens,
       cast(weight_e6 as bigint) AS weight_e6
FROM w JOIN documents d ON w.doc_id = d.doc_id""",
    # dsir_sample: the paper's deterministic top-k selection — highest
    # weights win, doc_id tie-break
    "dsir_sample": f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'))
           AS word
  FROM documents),
tb AS (
  SELECT doc_id, {_poly('word')} % {C.DSIR_BUCKETS} AS b
  FROM toks WHERE word <> ''),
db AS (SELECT doc_id, b, cast(count(*) as bigint) AS c
       FROM tb GROUP BY doc_id, b),
rt AS (SELECT b, sum(c) AS cnt_r FROM db GROUP BY b),
tt AS (SELECT b, sum(c) AS cnt_t
       FROM db JOIN documents USING (doc_id)
       WHERE lang IN {tuple(C.DSIR_TARGET_LANGS)} GROUP BY b),
model AS (
  SELECT rt.b,
         (1000000 * (coalesce(cnt_t, 0) + 1)) // (cnt_r + 1) AS ratio_e6
  FROM rt LEFT JOIN tt ON rt.b = tt.b),
w AS (
  SELECT doc_id, sum(c) AS n_tokens,
         sum(c * ratio_e6) // sum(c) AS weight_e6
  FROM db JOIN model USING (b) GROUP BY doc_id)
SELECT cast(w.doc_id as bigint) AS doc_id, d.lang,
       cast(n_tokens as bigint) AS n_tokens,
       cast(weight_e6 as bigint) AS weight_e6
FROM w JOIN documents d ON w.doc_id = d.doc_id
ORDER BY weight_e6 DESC, cast(w.doc_id as bigint) LIMIT {C.DSIR_SAMPLE_K}""",
    # source_mix: floor(sqrt(n)*1000) is bit-identical across engines
    # (IEEE requires sqrt correctly rounded — contract.MIX_SALT note);
    # everything downstream is integer div on bigints.
    "source_mix": """
WITH per AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
w AS (SELECT source, cast(n as bigint) AS n_docs,
             cast(floor(sqrt(n) * 1000) as bigint) AS weight_e3 FROM per),
t AS (SELECT cast(sum(n_docs) as bigint) AS tn,
             cast(sum(weight_e3) as bigint) AS tw FROM w),
sh AS (SELECT source, n_docs, weight_e3,
              cast((1000000 * n_docs) // tn as bigint) AS natural_share_e6,
              cast((1000000 * weight_e3) // tw as bigint) AS target_share_e6
       FROM w, t)
SELECT source, n_docs, weight_e3, natural_share_e6, target_share_e6,
       cast(least(1000000, (1000000 * target_share_e6)
                           // greatest(natural_share_e6, 1)) as bigint)
         AS keep_rate_e6
FROM sh""",
    "source_mix_sample": f"""
WITH per AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
w AS (SELECT source, cast(n as bigint) AS n_docs,
             cast(floor(sqrt(n) * 1000) as bigint) AS weight_e3 FROM per),
t AS (SELECT cast(sum(n_docs) as bigint) AS tn,
             cast(sum(weight_e3) as bigint) AS tw FROM w),
r AS (SELECT source,
             least(1000000, (1000000 * ((1000000 * weight_e3) // tw))
                            // greatest((1000000 * n_docs) // tn, 1))
               AS keep_rate_e6
      FROM w, t),
b AS (SELECT doc_id, documents.source,
             ('0x' || substr(md5('{C.MIX_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
               % {C.SAMPLE_MOD} AS sample_bucket,
             keep_rate_e6
      FROM documents JOIN r ON documents.source = r.source)
SELECT cast(doc_id as bigint) AS doc_id, source,
       cast(sample_bucket as bigint) AS sample_bucket
FROM b WHERE sample_bucket < keep_rate_e6""",
    "curate_corpus": f"""
WITH b AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) AS n_words,
         len(regexp_extract_all(text, '{C.QUALITY_STOPWORD_RE}')) AS stops,
         ('0x' || substr(md5('{C.SAMPLE_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
           % {C.SAMPLE_MOD} AS sample_bucket,
         md5({_NORM}) AS h
  FROM documents),
f AS (
  SELECT * FROM b
  WHERE n_words >= 10 AND stops / n_words <= 0.5
    AND sample_bucket < CASE {' '.join(f"WHEN lang = '{lang}' THEN {micro}" for lang, micro in sorted(C.SAMPLE_RATES_MICRO.items()))} ELSE {C.SAMPLE_DEFAULT_MICRO} END)
SELECT cast(doc_id as bigint) AS doc_id, lang,
       cast(n_words as bigint) AS n_words,
       cast(sample_bucket as bigint) AS sample_bucket
FROM f
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)""",
    "curation_funnel": f"""
WITH cfb AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) AS n_words,
         (len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) >= 10
          AND len(regexp_extract_all(text, '{C.QUALITY_STOPWORD_RE}'))
              / len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) <= 0.5)
           AS q,
         (('0x' || substr(md5('{C.SAMPLE_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
            % {C.SAMPLE_MOD}
          < CASE {' '.join(f"WHEN lang = '{lang}' THEN {micro}" for lang, micro in sorted(C.SAMPLE_RATES_MICRO.items()))} ELSE {C.SAMPLE_DEFAULT_MICRO} END)
           AS s,
         md5({_NORM}) AS h,
         ('0x' || substr(md5('{C.SPLIT_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
            % {C.SAMPLE_MOD} AS sb
  FROM documents),
cfs AS (SELECT cast(count(*) as bigint) AS n_docs,
               cast(sum(CASE WHEN q THEN 1 ELSE 0 END) as bigint) AS n_quality,
               cast(sum(CASE WHEN q AND s THEN 1 ELSE 0 END) as bigint) AS n_sampled
        FROM cfb),
cfk AS (SELECT n_words,
               CASE WHEN sb < {C.SPLIT_VAL_MICRO} THEN 'val'
                    WHEN sb < {C.SPLIT_VAL_MICRO + C.SPLIT_TEST_MICRO} THEN 'test'
                    ELSE 'train' END AS split
        FROM cfb WHERE q AND s
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)),
cfa AS (SELECT cast(count(*) as bigint) AS n_kept,
               cast(coalesce(sum(n_words), 0) as bigint) AS n_tokens_kept,
               cast(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) as bigint) AS n_train,
               cast(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) as bigint) AS n_val,
               cast(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) as bigint) AS n_test
        FROM cfk)
SELECT n_docs, n_quality, n_sampled, n_kept, n_tokens_kept, n_train, n_val, n_test
FROM cfs, cfa""",
    "curate_corpus_full": f"""
WITH {_dup_passage_cte(C.DUP_PASSAGE_K)},
cov AS (SELECT doc_id,
               cast((1000000 * sum(end_word - start_word + 1)) // any_value(nw)
                    as bigint) AS coverage_e6
        FROM p GROUP BY doc_id),
fw AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                          x -> x <> '') AS fwords
       FROM documents),
fbi AS (SELECT doc_id, fwords[i] AS w1, fwords[i + 1] AS w2
        FROM (SELECT doc_id, fwords,
                     unnest(range(1, greatest(len(fwords), 1))) AS i
              FROM fw)),
fc2 AS (SELECT w1, w2, cast(count(*) as bigint) AS c2 FROM fbi GROUP BY 1, 2),
fc1 AS (SELECT w1, cast(sum(c2) as bigint) AS c1 FROM fc2 GROUP BY 1),
fs AS (SELECT fbi.doc_id, (1000000 * fc2.c2) // fc1.c1 AS p_e6
       FROM fbi JOIN fc2 USING (w1, w2) JOIN fc1 USING (w1)),
flu AS (SELECT doc_id, cast(sum(p_e6) // count(*) as bigint) AS fluency_e6
        FROM fs GROUP BY doc_id),
cb AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) AS n_words,
         len(regexp_extract_all(text, '{C.QUALITY_STOPWORD_RE}')) AS stops,
         ('0x' || substr(md5('{C.SAMPLE_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
           % {C.SAMPLE_MOD} AS sample_bucket,
         md5({_NORM}) AS h
  FROM documents),
cf AS (
  SELECT cb.doc_id, cb.lang, cb.n_words, cb.h,
         coalesce(cov.coverage_e6, 0) AS dup_coverage_e6, flu.fluency_e6
  FROM cb LEFT JOIN cov USING (doc_id) JOIN flu USING (doc_id)
  WHERE n_words >= 10 AND stops / n_words <= 0.5
    AND sample_bucket < CASE {' '.join(f"WHEN lang = '{lang}' THEN {micro}" for lang, micro in sorted(C.SAMPLE_RATES_MICRO.items()))} ELSE {C.SAMPLE_DEFAULT_MICRO} END
    AND coalesce(cov.coverage_e6, 0) <= {C.CURATE_MAX_DUP_COVERAGE_E6}
    AND flu.fluency_e6 >= {C.CURATE_MIN_FLUENCY_E6})
SELECT cast(doc_id as bigint) AS doc_id, lang,
       cast(n_words as bigint) AS n_words,
       cast(dup_coverage_e6 as bigint) AS dup_coverage_e6, fluency_e6
FROM cf
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)""",
    # seven-signal curation: the five-signal chain above composed with the
    # classifier (prefix q) and CCNet-bucket (prefix n) CTE chains — every
    # signal re-derived from raw text in ONE WITH, independently of the
    # Spark plan's operator composition
    "curate_corpus_v2": f"""
WITH {_dup_passage_cte(C.DUP_PASSAGE_K)},
cov AS (SELECT doc_id,
               cast((1000000 * sum(end_word - start_word + 1)) // any_value(nw)
                    as bigint) AS coverage_e6
        FROM p GROUP BY doc_id),
fw AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                          x -> x <> '') AS fwords
       FROM documents),
fbi AS (SELECT doc_id, fwords[i] AS w1, fwords[i + 1] AS w2
        FROM (SELECT doc_id, fwords,
                     unnest(range(1, greatest(len(fwords), 1))) AS i
              FROM fw)),
fc2 AS (SELECT w1, w2, cast(count(*) as bigint) AS c2 FROM fbi GROUP BY 1, 2),
fc1 AS (SELECT w1, cast(sum(c2) as bigint) AS c1 FROM fc2 GROUP BY 1),
fs AS (SELECT fbi.doc_id, (1000000 * fc2.c2) // fc1.c1 AS p_e6
       FROM fbi JOIN fc2 USING (w1, w2) JOIN fc1 USING (w1)),
flu AS (SELECT doc_id, cast(sum(p_e6) // count(*) as bigint) AS fluency_e6
        FROM fs GROUP BY doc_id),
{_cls_cte('q')},
{_ccnet_cte('n')},
cb AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) AS n_words,
         len(regexp_extract_all(text, '{C.QUALITY_STOPWORD_RE}')) AS stops,
         ('0x' || substr(md5('{C.SAMPLE_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
           % {C.SAMPLE_MOD} AS sample_bucket,
         md5({_NORM}) AS h
  FROM documents),
cf AS (
  SELECT cb.doc_id, cb.lang, cb.n_words, cb.h,
         coalesce(cov.coverage_e6, 0) AS dup_coverage_e6, flu.fluency_e6,
         qqb.score_e6 AS cls_score_e6, nb.bucket
  FROM cb LEFT JOIN cov USING (doc_id) JOIN flu USING (doc_id)
       JOIN qqb ON qqb.doc_id = cb.doc_id
       JOIN nb ON nb.doc_id = cb.doc_id
  WHERE n_words >= 10 AND stops / n_words <= 0.5
    AND sample_bucket < CASE {' '.join(f"WHEN cb.lang = '{lang}' THEN {micro}" for lang, micro in sorted(C.SAMPLE_RATES_MICRO.items()))} ELSE {C.SAMPLE_DEFAULT_MICRO} END
    AND coalesce(cov.coverage_e6, 0) <= {C.CURATE_MAX_DUP_COVERAGE_E6}
    AND flu.fluency_e6 >= {C.CURATE_MIN_FLUENCY_E6}
    AND qqb.label = 'keep' AND nb.bucket <> 'tail')
SELECT cast(doc_id as bigint) AS doc_id, lang,
       cast(n_words as bigint) AS n_words,
       cast(dup_coverage_e6 as bigint) AS dup_coverage_e6, fluency_e6,
       cls_score_e6, bucket
FROM cf
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY h)""",
    "dedup_clusters": f"""
WITH RECURSIVE {_SH_CTE},{_minhash_sig_sql()},
bands AS MATERIALIZED ({_band_union_sql()}),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, val)
  WHERE a.doc_id < b.doc_id),
edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                       UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM edges) t
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT cast(src as bigint) AS doc_id,
       cast(min(dst) as bigint) AS cluster_rep,
       (src = min(dst)) AS is_keeper
FROM reach GROUP BY src""",
    "simhash": _simhash_sql(),
    "embedding_near_pairs": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.ev AS ea, b.ev AS eb
      FROM c a JOIN c b ON a.vec_id < b.vec_id),
s AS (SELECT vec_a, vec_b, {_PAIR_COS} AS cos_r6 FROM p)
SELECT vec_a, vec_b, cos_r6 FROM s
WHERE cos_r6 >= cast({C.EMB_NEAR_THRESHOLD} as double)""",
    "embedding_near_pairs_lsh": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
w AS (SELECT vec_id, ev, {_srp_word_sql()} AS srp FROM c),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.ev AS ea, b.ev AS eb, a.srp AS wa, b.srp AS wb
      FROM w a JOIN w b ON a.vec_id < b.vec_id),
cand AS (SELECT vec_a, vec_b, ea, eb FROM p WHERE {_srp_band_eq_sql()}),
s AS (SELECT vec_a, vec_b, {_PAIR_COS} AS cos_r6 FROM cand)
SELECT vec_a, vec_b, cos_r6 FROM s
WHERE cos_r6 >= cast({C.EMB_NEAR_THRESHOLD} as double)""",
    # SemDeDup (Abbas et al. 2023): centroid assignment replayed with the
    # ivf_topk CTEs, then max cosine to a BETTER cluster-mate (closer to
    # centroid, tie -> smaller vec_id).  The oracle rounds per-pair and
    # maxes; the engine maxes raw and rounds — equal because rounding is
    # monotone (max . round == round . max).
    "semdedup": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.SEM_CLUSTERS}),
scored AS (
  SELECT c.vec_id, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, ev, cent_id, cdot FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn = 1),
p AS (
  SELECT a.vec_id,
         round(cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                i -> a.ev[i] * b.ev[i])) as bigint) /
               (sqrt(cast(list_sum(list_transform(a.ev, x -> x * x)) as double)) *
                sqrt(cast(list_sum(list_transform(b.ev, x -> x * x)) as double))),
               6) AS cos_r6
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id
   AND (b.cdot > a.cdot OR (b.cdot = a.cdot AND b.vec_id < a.vec_id))),
m AS (SELECT vec_id, max(cos_r6) AS mx FROM p GROUP BY vec_id)
SELECT a.vec_id, a.cent_id, a.cdot AS cent_dot_e12,
       coalesce(m.mx, -1.0) AS max_better_cos_r6,
       coalesce(m.mx, -1.0) < cast({C.SEM_EPS} as double) AS kept
FROM assigned a LEFT JOIN m USING (vec_id)""",
    "semdedup_stats": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.SEM_CLUSTERS}),
scored AS (
  SELECT c.vec_id, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, ev, cent_id, cdot FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn = 1),
p AS (
  SELECT a.vec_id,
         round(cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                i -> a.ev[i] * b.ev[i])) as bigint) /
               (sqrt(cast(list_sum(list_transform(a.ev, x -> x * x)) as double)) *
                sqrt(cast(list_sum(list_transform(b.ev, x -> x * x)) as double))),
               6) AS cos_r6
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id
   AND (b.cdot > a.cdot OR (b.cdot = a.cdot AND b.vec_id < a.vec_id))),
m AS (SELECT vec_id, max(cos_r6) AS mx FROM p GROUP BY vec_id),
v AS (
  SELECT a.cent_id, coalesce(m.mx, -1.0) < cast({C.SEM_EPS} as double) AS kept
  FROM assigned a LEFT JOIN m USING (vec_id))
SELECT cent_id,
       cast(count(*) as bigint) AS n_vecs,
       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as bigint) AS n_kept,
       cast(sum(CASE WHEN kept THEN 0 ELSE 1 END) as bigint) AS n_dropped
FROM v GROUP BY cent_id""",
    "simhash_near_pairs": f"""
WITH s AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as bigint) AS hamming
FROM s a, s b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {C.SIMHASH_MAX_HAMMING}""",
    "stub_embed": f"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
f AS (SELECT doc_id, norm, {_poly('norm')} AS fp FROM n),
c AS (SELECT doc_id, norm, {_STUB_COMPS} AS comps FROM f),
e AS (SELECT doc_id,
       CASE WHEN norm = ''
            THEN list_transform(generate_series(1, {C.EMBED_DIM}), i -> 0.0)
            ELSE list_transform(comps,
              x -> round(x / sqrt(cast(list_sum(list_transform(comps, y -> y * y)) as double)), 6))
       END AS emb
      FROM c)
SELECT doc_id, cast(i - 1 as bigint) AS dim_i,
       cast(round(emb[i] * {C.FIXED_POINT}) as bigint) AS comp_e6
FROM e, generate_series(1, {C.EMBED_DIM}) AS g(i)""",
    "get_document": """
SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42""",
    "lm_fluency": f"""
WITH w AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                              x -> x <> '') AS words
           FROM documents),
bi AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
       FROM (SELECT doc_id, words,
                    unnest(range(1, greatest(len(words), 1))) AS i
             FROM w)),
c2 AS (SELECT w1, w2, cast(count(*) as bigint) AS c2 FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, cast(sum(c2) as bigint) AS c1 FROM c2 GROUP BY 1),
s AS (SELECT bi.doc_id, (1000000 * c2.c2) // c1.c1 AS p_e6
      FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
SELECT cast(doc_id as bigint) AS doc_id,
       cast(count(*) as bigint) AS n_bigrams,
       cast(sum(p_e6) // count(*) as bigint) AS fluency_e6
FROM s GROUP BY doc_id""",
    # Kneser-Ney continuation stats (operators/textstats.py
    # kn_continuation): distinct left/right contexts per token over the
    # bigram-type table, continuation probability vs total bigram types,
    # top-K by (cont_cnt desc, token) — the vocab_topk convention
    "kn_continuation": f"""
WITH w AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                              x -> x <> '') AS words
           FROM documents),
bi AS (SELECT words[i] AS w1, words[i + 1] AS w2
       FROM (SELECT doc_id, words,
                    unnest(range(1, greatest(len(words), 1))) AS i
             FROM w)),
ty AS (SELECT w1, w2 FROM bi GROUP BY 1, 2),
uni AS (SELECT unnest(words) AS token FROM w),
uc AS (SELECT token, cast(count(*) as bigint) AS unigram_cnt
       FROM uni GROUP BY 1),
co AS (SELECT w2 AS token, cast(count(*) as bigint) AS cont_cnt
       FROM ty GROUP BY 1),
rt AS (SELECT w1 AS token, cast(count(*) as bigint) AS right_types
       FROM ty GROUP BY 1),
tt AS (SELECT cast(count(*) as bigint) AS total_types FROM ty)
SELECT uc.token, uc.unigram_cnt,
       cast(coalesce(co.cont_cnt, 0) as bigint) AS cont_cnt,
       cast(coalesce(rt.right_types, 0) as bigint) AS right_types,
       cast(coalesce(co.cont_cnt, 0) * 1000000 // tt.total_types
            as bigint) AS p_cont_e6
FROM uc LEFT JOIN co USING (token) LEFT JOIN rt USING (token)
CROSS JOIN tt
ORDER BY cont_cnt DESC, uc.token ASC LIMIT {C.VOCAB_TOPK}""",
    # inter-signal agreement matrix (operators/stats.py
    # quality_agreement): classifier keep / LM fluency / Flesch
    # readability / CCNet bucket as binary signals, 2x2 counts, raw
    # agreement, Cohen's kappa (positive-dividend shift for the
    # possibly-negative kappa division)
    "quality_agreement": f"""
WITH {_cls_cte('q')},
{_ccnet_cte('n')},
afw AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                           x -> x <> '') AS fwords
        FROM documents),
afbi AS (SELECT doc_id, fwords[i] AS w1, fwords[i + 1] AS w2
         FROM (SELECT doc_id, fwords,
                      unnest(range(1, greatest(len(fwords), 1))) AS i
               FROM afw)),
afc2 AS (SELECT w1, w2, cast(count(*) as bigint) AS c2
         FROM afbi GROUP BY 1, 2),
afc1 AS (SELECT w1, cast(sum(c2) as bigint) AS c1 FROM afc2 GROUP BY 1),
aflu AS (SELECT doc_id, cast(sum(p_e6) // count(*) as bigint) AS fluency_e6
         FROM (SELECT afbi.doc_id, (1000000 * afc2.c2) // afc1.c1 AS p_e6
               FROM afbi JOIN afc2 USING (w1, w2) JOIN afc1 USING (w1))
         GROUP BY doc_id),
ard AS (SELECT doc_id,
               cast(206835
                    - 1015 * len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
                      // greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    - 84600 * len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      // len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
                    as bigint) AS flesch_e3
        FROM documents
        WHERE len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) > 0),
abase AS (
  SELECT qqb.doc_id,
         CASE WHEN qqb.label = 'keep' THEN 1 ELSE 0 END AS cls,
         CASE WHEN aflu.fluency_e6 >= {C.CURATE_MIN_FLUENCY_E6}
              THEN 1 ELSE 0 END AS flu,
         CASE WHEN ard.flesch_e3 >= {C.READABILITY_MIN_E3}
              THEN 1 ELSE 0 END AS rd,
         CASE WHEN nb.bucket <> 'tail' THEN 1 ELSE 0 END AS cc
  FROM qqb
  JOIN aflu USING (doc_id)
  JOIN ard USING (doc_id)
  JOIN nb ON nb.doc_id = qqb.doc_id),
acnt AS (
SELECT 'cls' AS sig_a, 'flu' AS sig_b,
       cast(count(*) as bigint) AS n,
       cast(sum(cls * flu) as bigint) AS n11,
       cast(sum((1 - cls) * (1 - flu)) as bigint) AS n00,
       cast(sum(cls * (1 - flu)) as bigint) AS n10,
       cast(sum((1 - cls) * flu) as bigint) AS n01
FROM abase
UNION ALL
SELECT 'cls' AS sig_a, 'rd' AS sig_b,
       cast(count(*) as bigint) AS n,
       cast(sum(cls * rd) as bigint) AS n11,
       cast(sum((1 - cls) * (1 - rd)) as bigint) AS n00,
       cast(sum(cls * (1 - rd)) as bigint) AS n10,
       cast(sum((1 - cls) * rd) as bigint) AS n01
FROM abase
UNION ALL
SELECT 'cls' AS sig_a, 'cc' AS sig_b,
       cast(count(*) as bigint) AS n,
       cast(sum(cls * cc) as bigint) AS n11,
       cast(sum((1 - cls) * (1 - cc)) as bigint) AS n00,
       cast(sum(cls * (1 - cc)) as bigint) AS n10,
       cast(sum((1 - cls) * cc) as bigint) AS n01
FROM abase
UNION ALL
SELECT 'flu' AS sig_a, 'rd' AS sig_b,
       cast(count(*) as bigint) AS n,
       cast(sum(flu * rd) as bigint) AS n11,
       cast(sum((1 - flu) * (1 - rd)) as bigint) AS n00,
       cast(sum(flu * (1 - rd)) as bigint) AS n10,
       cast(sum((1 - flu) * rd) as bigint) AS n01
FROM abase
UNION ALL
SELECT 'flu' AS sig_a, 'cc' AS sig_b,
       cast(count(*) as bigint) AS n,
       cast(sum(flu * cc) as bigint) AS n11,
       cast(sum((1 - flu) * (1 - cc)) as bigint) AS n00,
       cast(sum(flu * (1 - cc)) as bigint) AS n10,
       cast(sum((1 - flu) * cc) as bigint) AS n01
FROM abase
UNION ALL
SELECT 'rd' AS sig_a, 'cc' AS sig_b,
       cast(count(*) as bigint) AS n,
       cast(sum(rd * cc) as bigint) AS n11,
       cast(sum((1 - rd) * (1 - cc)) as bigint) AS n00,
       cast(sum(rd * (1 - cc)) as bigint) AS n10,
       cast(sum((1 - rd) * cc) as bigint) AS n01
FROM abase),
ap AS (SELECT *, (n11 + n00) * 1000000 // n AS po,
              (n11 + n10) * 1000000 // n AS pa,
              (n11 + n01) * 1000000 // n AS pb
       FROM acnt),
ae AS (SELECT *, (pa * pb) // 1000000
                 + ((1000000 - pa) * (1000000 - pb)) // 1000000 AS pe
       FROM ap)
SELECT sig_a, sig_b, n, n11, n00, n10, n01,
       cast(po as bigint) AS agree_e6,
       cast(CASE WHEN pe = 1000000 THEN 0
                 ELSE ((po - pe) * 1000000
                       + 1000000000000 * (1000000 - pe))
                      // (1000000 - pe) - 1000000000000 END
            as bigint) AS kappa_e6
FROM ae""",
    # readability (operators/textstats.py readability): Flesch + FK
    # grade in e3 fixed point, vowel-group syllable proxy; all-positive
    # DIV operands so // == Spark DIV
    "readability": f"""
WITH r AS (
  SELECT doc_id,
         greatest(cast(len(regexp_extract_all(text, '[.!?]+')) as bigint),
                  1) AS n_sentences,
         cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
              as bigint) AS n_words,
         cast(len(regexp_extract_all(lower(text), '[aeiouy]+')) as bigint)
           AS n_syllables
  FROM documents)
SELECT cast(doc_id as bigint) AS doc_id, n_sentences, n_words, n_syllables,
       cast(206835 - 1015 * n_words // n_sentences
            - 84600 * n_syllables // n_words as bigint) AS flesch_e3,
       cast(390 * n_words // n_sentences
            + 11800 * n_syllables // n_words - 15590 as bigint)
         AS fk_grade_e3
FROM r WHERE n_words > 0""",
    "winnow_fingerprints": f"""
WITH {_WINNOW_CTE}
SELECT cast(doc_id as bigint) AS doc_id, fp_pos, fp FROM wfp""",
    "winnow_matches": f"""
WITH {_WINNOW_CTE},
wdistinct AS (SELECT DISTINCT doc_id, fp FROM wfp),
wsizes AS (SELECT doc_id, cast(count(*) as bigint) AS n_fp
           FROM wdistinct GROUP BY doc_id),
wkept AS (SELECT doc_id, fp FROM wdistinct
          WHERE fp IN (SELECT fp FROM wdistinct GROUP BY fp
                       HAVING count(*) <= {C.WINNOW_MAX_DF})),
wpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  cast(count(*) as bigint) AS n_shared
           FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2
           HAVING count(*) >= {C.WINNOW_MIN_SHARED})
SELECT cast(doc_a as bigint) AS doc_a, cast(doc_b as bigint) AS doc_b,
       n_shared,
       cast((1000000 * n_shared) // least(na.n_fp, nb.n_fp) as bigint) AS overlap_e6
FROM wpairs
JOIN wsizes na ON na.doc_id = wpairs.doc_a
JOIN wsizes nb ON nb.doc_id = wpairs.doc_b""",
    # cross-source syndication matrix (operators/winnow.py
    # winnow_source_matrix): the winnow_matches pair graph rolled up to
    # canonical (source, source) cells, diagonal included
    "winnow_source_matrix": f"""
WITH {_WINNOW_CTE},
wdistinct AS (SELECT DISTINCT doc_id, fp FROM wfp),
wsizes AS (SELECT doc_id, cast(count(*) as bigint) AS n_fp
           FROM wdistinct GROUP BY doc_id),
wkept AS (SELECT doc_id, fp FROM wdistinct
          WHERE fp IN (SELECT fp FROM wdistinct GROUP BY fp
                       HAVING count(*) <= {C.WINNOW_MAX_DF})),
wpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  cast(count(*) as bigint) AS n_shared
           FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2
           HAVING count(*) >= {C.WINNOW_MIN_SHARED}),
wm AS (SELECT doc_a, doc_b, n_shared,
              cast((1000000 * n_shared) // least(na.n_fp, nb.n_fp)
                   as bigint) AS overlap_e6
       FROM wpairs
       JOIN wsizes na ON na.doc_id = wpairs.doc_a
       JOIN wsizes nb ON nb.doc_id = wpairs.doc_b)
SELECT least(da.source, db.source) AS src_a,
       greatest(da.source, db.source) AS src_b,
       cast(count(*) as bigint) AS n_pairs,
       cast(sum(n_shared) as bigint) AS n_shared_total,
       cast(max(overlap_e6) as bigint) AS max_overlap_e6
FROM wm
JOIN documents da ON da.doc_id = wm.doc_a
JOIN documents db ON db.doc_id = wm.doc_b
GROUP BY 1, 2""",
    "gopher_rules": f"""
WITH {_GOPHER_RULES_CTE}
SELECT cast(doc_id as bigint) AS doc_id,
       cast(n_lines as bigint) AS n_lines, cast(n_words as bigint) AS n_words,
       cast(mean_word_len_e2 as bigint) AS mean_word_len_e2,
       cast(symbol_frac_e6 as bigint) AS symbol_frac_e6,
       cast(bullet_frac_e6 as bigint) AS bullet_frac_e6,
       cast(ellipsis_frac_e6 as bigint) AS ellipsis_frac_e6,
       cast(alpha_frac_e6 as bigint) AS alpha_frac_e6,
       cast(n_req_stopwords as bigint) AS n_req_stopwords,
       cast(dup_line_frac_e6 as bigint) AS dup_line_frac_e6,
       cast(dup_line_char_frac_e6 as bigint) AS dup_line_char_frac_e6,
       wordcount_ok, wordlen_ok, symbol_ok, bullet_ok, ellipsis_ok, alpha_ok,
       stops_ok, dup_line_ok, dup_line_char_ok,
       (wordcount_ok AND wordlen_ok AND symbol_ok AND bullet_ok AND ellipsis_ok
        AND alpha_ok AND stops_ok AND dup_line_ok AND dup_line_char_ok)
       AS passes_gopher
FROM gm""",
    "source_quality_report": f"""
WITH {_GOPHER_RULES_CTE},
sqp AS (SELECT doc_id,
              (wordcount_ok AND wordlen_ok AND symbol_ok AND bullet_ok
               AND ellipsis_ok AND alpha_ok AND stops_ok AND dup_line_ok
               AND dup_line_char_ok) AS passes_gopher
       FROM gm),
sqb AS (SELECT doc_id, source, lang,
              len(regexp_extract_all(text, '\\S+')) AS n_tokens,
              md5({_NORM}) AS grp_hash
       FROM documents),
sqz AS (SELECT sqb.*, count(*) OVER (PARTITION BY grp_hash) AS gn FROM sqb),
sqj AS (SELECT source, lang, n_tokens,
              CASE WHEN gn >= 2 THEN 1 ELSE 0 END AS is_dup,
              CASE WHEN coalesce(passes_gopher, false) THEN 1 ELSE 0 END AS ok
       FROM sqz LEFT JOIN sqp USING (doc_id)),
sqs AS (SELECT source,
              cast(count(*) as bigint) AS n_docs,
              cast(sum(n_tokens) as bigint) AS n_tokens,
              cast(count(DISTINCT lang) as bigint) AS n_langs,
              cast(sum(ok) as bigint) AS n_gopher_pass,
              cast(sum(is_dup) as bigint) AS n_exact_dups
       FROM sqj GROUP BY source)
SELECT source, n_docs, n_tokens,
       cast(n_tokens // n_docs as bigint) AS mean_tokens,
       n_langs, n_gopher_pass,
       cast((1000000 * n_gopher_pass) // n_docs as bigint)
         AS gopher_pass_rate_e6,
       n_exact_dups,
       cast((1000000 * n_exact_dups) // n_docs as bigint) AS dup_rate_e6
FROM sqs""",
    "gopher_verdict": f"""
WITH {_GOPHER_RULES_CTE},
{_GOPHER_REP_OK_CTE},
gr AS (SELECT doc_id,
              (wordcount_ok AND wordlen_ok AND symbol_ok AND bullet_ok
               AND ellipsis_ok AND alpha_ok AND stops_ok AND dup_line_ok
               AND dup_line_char_ok) AS passes_rules
       FROM gm)
SELECT cast(gr.doc_id as bigint) AS doc_id, gr.passes_rules,
       {", ".join(f"coalesce({f}, true) AS {f}" for f in _GOPHER_FLAGS)},
       ({" AND ".join(f"coalesce({f}, true)" for f in _GOPHER_FLAGS)})
       AS passes_repetition,
       (gr.passes_rules AND {" AND ".join(f"coalesce({f}, true)" for f in _GOPHER_FLAGS)})
       AS passes_gopher
FROM gr LEFT JOIN rep_ok ON gr.doc_id = rep_ok.doc_id""",
    "repetition_metrics": f"""
WITH w AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                              x -> x <> '') AS words
           FROM documents),
d AS (SELECT doc_id, words,
             greatest(length(array_to_string(words, ' ')), 1) AS denom FROM w),
ns(n) AS (VALUES {", ".join(f"({n})" for n in C.REP_NS)}),
i AS (SELECT doc_id, denom, n, words,
             unnest(range(1, greatest(len(words) - n + 2, 1))) AS start_w
      FROM d, ns),
g AS (SELECT doc_id, denom, n,
             array_to_string(words[start_w:start_w + n - 1], ' ') AS gram FROM i),
cnt AS (SELECT doc_id, denom, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3, 4),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                   ORDER BY cnt DESC, gram) AS rn FROM cnt),
per AS (SELECT doc_id, n, denom,
               max(CASE WHEN rn = 1 THEN cnt END) AS top_cnt,
               max(CASE WHEN rn = 1 THEN length(gram) END) AS top_chars,
               sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
        FROM r GROUP BY 1, 2, 3)
SELECT cast(doc_id as bigint) AS doc_id, cast(n as bigint) AS n,
       cast(top_cnt as bigint) AS top_cnt,
       cast(least((1000000 * top_cnt * top_chars) // denom, 1000000) as bigint) AS top_frac_e6,
       cast(least((1000000 * dup_chars) // denom, 1000000) as bigint) AS dup_frac_e6
FROM per""",
    "dup_passages": f"""
WITH {_dup_passage_cte(C.DUP_PASSAGE_K)}
SELECT cast(doc_id as bigint) AS doc_id,
       cast(row_number() OVER (PARTITION BY doc_id ORDER BY start_word) as bigint) AS passage_seq,
       cast(start_word as bigint) AS start_word, cast(end_word as bigint) AS end_word,
       cast(end_word - start_word + 1 as bigint) AS n_words,
       cast(n_shingles as bigint) AS n_shingles
FROM p""",
    "dup_passage_stats": f"""
WITH {_dup_passage_cte(C.DUP_PASSAGE_K)}
SELECT cast(doc_id as bigint) AS doc_id,
       cast(count(*) as bigint) AS n_passages,
       cast(sum(end_word - start_word + 1) as bigint) AS dup_words,
       cast(any_value(nw) as bigint) AS total_words,
       cast((1000000 * sum(end_word - start_word + 1)) // any_value(nw) as bigint) AS coverage_e6
FROM p GROUP BY doc_id""",
    # dup_excise: independent formulation — per-word covered flag via a
    # LEFT JOIN against the exploded interval ranges (p's intervals are
    # disjoint per doc, so the join never multiplies), vs the Spark side's
    # gap-slice concatenation.  string_agg FILTER keeps word order.
    "dup_excise": f"""
WITH {_dup_passage_cte(C.DUP_PASSAGE_K)},
cov AS (SELECT doc_id, unnest(range(start_word, end_word + 1)) AS wi FROM p),
aff AS (SELECT DISTINCT doc_id FROM p),
wd AS (SELECT d2.doc_id, d2.nw, d2.words FROM d2 JOIN aff USING (doc_id)),
wix AS (SELECT doc_id, nw, words, unnest(range(1, nw + 1)) AS wi FROM wd),
k2 AS (SELECT wix.doc_id, wix.nw, wix.wi, wix.words[wix.wi] AS word,
              CASE WHEN cov.wi IS NULL THEN 1 ELSE 0 END AS keep
       FROM wix LEFT JOIN cov
         ON wix.doc_id = cov.doc_id AND wix.wi = cov.wi)
SELECT cast(doc_id as bigint) AS doc_id,
       cast(any_value(nw) as bigint) AS total_words,
       cast(sum(keep) as bigint) AS kept_words,
       cast(any_value(nw) - sum(keep) as bigint) AS removed_words,
       coalesce(string_agg(word, ' ' ORDER BY wi) FILTER (WHERE keep = 1),
                '') AS text_deduped
FROM k2 GROUP BY doc_id""",
    "bm25_topk_multi": f"""
WITH {_bm25_cte(C.FTS_QUERIES)}
SELECT cast(q_id as bigint) AS q_id, cast(doc_id as bigint) AS doc_id,
       cast(score_e9 as bigint) AS score_e9, cast(rank as bigint) AS rank
FROM bm WHERE rank <= {C.FTS_TOPK}""",
    "fts_phrase_topk": f"""
WITH ww AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'),
                          x -> x <> '') AS words
       FROM documents),
wt AS (SELECT doc_id, pos, words[pos] AS token FROM
         (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS pos FROM ww)),
pt(q_id, idx, token) AS (VALUES {", ".join(f"({q}, {i}, '{t}')" for q, ts in sorted(C.FTS_PHRASES.items()) for i, t in enumerate(ts))}),
pl AS (SELECT q_id, count(*) AS m FROM pt GROUP BY 1),
st AS (SELECT doc_id, q_id, pos - idx AS start, count(*) AS nmatch
       FROM wt JOIN pt USING (token) GROUP BY 1, 2, 3),
ptf AS (SELECT q_id, doc_id, count(*) AS tf
        FROM st JOIN pl USING (q_id) WHERE nmatch = m GROUP BY 1, 2),
pdl AS (SELECT doc_id, len(words) AS dl FROM ww),
pstats AS (SELECT count(*) AS n_docs,
                  (1000 * cast(sum(dl) as bigint)) // count(*) AS avgdl_e3
           FROM pdl),
pc AS (SELECT q_id, doc_id, tf, count(*) OVER (PARTITION BY q_id) AS df FROM ptf),
psc AS (SELECT q_id, pc.doc_id, tf,
          (least((1000000 * (2*s.n_docs - 2*pc.df + 1)) // (2*pc.df + 1),
                 {C.FTS_IDF_CAP_E6})
           * ((1000000 * 22 * least(tf, {C.FTS_TF_CAP}) * s.avgdl_e3) //
              (10 * least(tf, {C.FTS_TF_CAP}) * s.avgdl_e3 + 3 * s.avgdl_e3
               + 9000 * d.dl))
          ) // 1000 AS score_e9
        FROM pc JOIN pdl d USING (doc_id), pstats s)
SELECT cast(q_id as bigint) AS q_id, cast(doc_id as bigint) AS doc_id,
       cast(tf as bigint) AS tf, cast(score_e9 as bigint) AS score_e9,
       cast(rank as bigint) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY score_e9 DESC, doc_id) AS rank
      FROM psc)
WHERE rank <= {C.FTS_TOPK}""",
    "tfidf_topk_terms": f"""
WITH tok AS (SELECT doc_id,
                    unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
             FROM documents),
post AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
tdf AS (SELECT token, count(*) AS df FROM post GROUP BY 1),
sc AS (SELECT doc_id, post.token, tf, df,
              least((1000000 * (2*(SELECT count(*) FROM documents) - 2*df + 1))
                    // (2*df + 1), {C.FTS_IDF_CAP_E6})
              * least(tf, {C.FTS_TF_CAP}) AS tfidf_e6
       FROM post JOIN tdf USING (token))
SELECT cast(doc_id as bigint) AS doc_id, token, cast(tf as bigint) AS tf,
       cast(df as bigint) AS df, cast(tfidf_e6 as bigint) AS tfidf_e6,
       cast(rank as bigint) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_e6 DESC, token) AS rank
      FROM sc)
WHERE rank <= {C.TFIDF_TOPK}""",
    "cms_heavy_hitters": f"""
WITH ctok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
              FROM documents),
ctc AS (SELECT token, cast(count(*) as bigint) AS cnt
        FROM ctok WHERE token <> '' GROUP BY 1),
cbk AS (SELECT token, cnt, i,
               {_poly("'cms' || cast(i as varchar) || ':' || token")} % {C.CMS_W}
                 AS bucket
        FROM ctc CROSS JOIN (SELECT unnest(range(0, {C.CMS_D})) AS i)),
csk AS (SELECT i, bucket, cast(sum(cnt) as bigint) AS cell
        FROM cbk GROUP BY 1, 2),
ctop AS (SELECT token, cnt AS exact_cnt FROM ctc
         ORDER BY cnt DESC, token LIMIT {C.CMS_TOPK}),
cest AS (SELECT t.token, t.exact_cnt, cast(min(s.cell) as bigint) AS cms_est
         FROM ctop t JOIN cbk b USING (token)
              JOIN csk s ON b.i = s.i AND b.bucket = s.bucket
         GROUP BY 1, 2)
SELECT token, exact_cnt, cms_est,
       cast(cms_est - exact_cnt as bigint) AS overcount
FROM cest""",
    "bloom_contamination": f"""
WITH {_SH_CTE},
bev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {C.EVAL_MOD} = {C.EVAL_RESIDUE}),
btr AS (SELECT doc_id, sh FROM sh WHERE doc_id % {C.EVAL_MOD} <> {C.EVAL_RESIDUE}),
bep AS (SELECT {_poly("'bf' || cast(i as varchar) || ':' || sh")} % {C.BLOOM_BITS} AS p
        FROM bev CROSS JOIN (SELECT unnest(range(0, {C.BLOOM_K})) AS i)),
bw AS (SELECT p // {C.BLOOM_WORD} AS word_idx,
              cast(bit_or(cast(1 as bigint) << cast(p % {C.BLOOM_WORD} as int))
                   as bigint) AS bits
       FROM bep GROUP BY 1),
btp AS (SELECT sh,
               {_poly("'bf' || cast(i as varchar) || ':' || sh")} % {C.BLOOM_BITS} AS p
        FROM (SELECT DISTINCT sh FROM btr)
             CROSS JOIN (SELECT unnest(range(0, {C.BLOOM_K})) AS i)),
bpr AS (SELECT sh,
               min(CASE WHEN coalesce(bits, 0) & m <> 0 THEN 1 ELSE 0 END) AS maybe
        FROM (SELECT sh, p // {C.BLOOM_WORD} AS word_idx,
                     cast(1 as bigint) << cast(p % {C.BLOOM_WORD} as int) AS m
              FROM btp) t
             LEFT JOIN bw USING (word_idx)
        GROUP BY sh),
bh AS (SELECT doc_id,
              cast(count(*) as bigint) AS n_shingles,
              cast(sum(maybe) as bigint) AS n_bloom_hits,
              cast(sum(CASE WHEN bev.sh IS NOT NULL THEN 1 ELSE 0 END) as bigint)
                AS n_exact_hits
       FROM btr JOIN bpr USING (sh) LEFT JOIN bev USING (sh)
       GROUP BY doc_id)
SELECT cast(d.doc_id as bigint) AS doc_id,
       cast(coalesce(n_shingles, 0) as bigint) AS n_shingles,
       cast(coalesce(n_bloom_hits, 0) as bigint) AS n_bloom_hits,
       cast(coalesce(n_exact_hits, 0) as bigint) AS n_exact_hits,
       cast(coalesce(n_bloom_hits, 0) - coalesce(n_exact_hits, 0) as bigint)
         AS n_false_pos
FROM (SELECT doc_id FROM documents
      WHERE doc_id % {C.EVAL_MOD} <> {C.EVAL_RESIDUE}) d
LEFT JOIN bh USING (doc_id)""",
    "hll_vocab": f"""
WITH htok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
              FROM documents),
htc AS (SELECT DISTINCT token FROM htok WHERE token <> ''),
hh AS (SELECT {_poly("token")} AS h FROM htc),
hjr AS (SELECT h % {C.HLL_M} AS j,
               CASE WHEN (h // {C.HLL_M}) = 0 THEN {C.HLL_VBITS + 1}
                    ELSE {C.HLL_VBITS} - length(bin(h // {C.HLL_M})) + 1 END AS r
        FROM hh),
hreg AS (SELECT j, cast(max(r) as bigint) AS rank FROM hjr GROUP BY 1),
hagg AS (SELECT cast(count(*) as bigint) AS n_registers_hit,
                cast(sum(cast(1 as bigint) << ({C.HLL_SHIFT} - rank)) as bigint)
                  AS s_hit
         FROM hreg),
hex AS (SELECT cast(count(*) as bigint) AS exact_distinct FROM htc),
hs AS (SELECT cast({C.HLL_M} as bigint) AS m, n_registers_hit,
              cast(s_hit + ({C.HLL_M} - n_registers_hit)
                   * (cast(1 as bigint) << {C.HLL_SHIFT}) as bigint) AS s,
              exact_distinct
       FROM hagg, hex),
he AS (SELECT m, n_registers_hit, s,
              cast(({C.HLL_ALPHA_NUM} * {C.HLL_M} * {C.HLL_M}
                    * (cast(1 as bigint) << {C.HLL_SHIFT}))
                   // ({C.HLL_ALPHA_DEN} * s) as bigint) AS est_raw,
              exact_distinct
       FROM hs),
hf AS (SELECT m, n_registers_hit, s, est_raw,
              cast(CASE WHEN est_raw < {C.HLL_SMALL_RANGE_MAX}
                         AND n_registers_hit < {C.HLL_M}
                        THEN ({C.HLL_M} * ([{", ".join(map(str, C.HLL_LN64_E6))}])
                              [({C.HLL_M} - n_registers_hit) + 1]) // 1000000
                        ELSE est_raw END as bigint) AS est,
              exact_distinct
       FROM he)
SELECT m, n_registers_hit, s, est_raw, est, exact_distinct,
       cast((1000000 * (est - exact_distinct))
            // greatest(exact_distinct, 1) as bigint) AS err_e6
FROM hf""",
    # theta-sketch source overlap (operators/sketches.py
    # theta_source_overlap): fixed-threshold distinct-token sample per
    # source (md5_bits48 < 2^48/THETA_RATE — the stratified_sample md5
    # convention), pairwise sampled intersection/Jaccard + rate-scaled
    # true-intersection estimate; all-positive integers so // == DIV
    "theta_source_overlap": f"""
WITH ttok AS (
  SELECT DISTINCT source, token FROM (
    SELECT source,
           unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'))
             AS token
    FROM documents)
  WHERE token <> ''
    AND ('0x' || substr(md5('{C.THETA_SALT}' || token), 1, 12))::BIGINT
        < {C.THETA_BOUND}),
tsz AS (SELECT source, cast(count(*) as bigint) AS n FROM ttok GROUP BY 1),
tint AS (
  SELECT a.source AS src_a, b.source AS src_b,
         cast(count(*) as bigint) AS n_inter
  FROM ttok a JOIN ttok b USING (token)
  WHERE a.source < b.source GROUP BY 1, 2)
SELECT sa.source AS src_a, sb.source AS src_b,
       sa.n AS n_a_sampled, sb.n AS n_b_sampled,
       cast(coalesce(i.n_inter, 0) as bigint) AS n_inter,
       cast(sa.n + sb.n - coalesce(i.n_inter, 0) as bigint) AS n_union,
       cast(coalesce(i.n_inter, 0) * 1000000
            // (sa.n + sb.n - coalesce(i.n_inter, 0)) as bigint)
         AS jaccard_e6,
       cast(coalesce(i.n_inter, 0) * {C.THETA_RATE} as bigint) AS est_inter
FROM tsz sa JOIN tsz sb ON sa.source < sb.source
LEFT JOIN tint i ON i.src_a = sa.source AND i.src_b = sb.source""",
    "fts_term_stats": f"""
WITH tok AS (SELECT doc_id,
                    unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
             FROM documents),
post AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1, 2),
qt(q_id, token) AS (VALUES {", ".join(f"({q}, '{t}')" for q, ts in sorted(C.FTS_QUERIES.items()) for t in ts)}),
qtok AS (SELECT DISTINCT token FROM qt),
tdf AS (SELECT token, count(*) AS df FROM post
        WHERE token IN (SELECT token FROM qtok) GROUP BY 1),
j AS (SELECT qtok.token, coalesce(df, 0) AS df FROM qtok LEFT JOIN tdf USING (token))
SELECT token, cast(df as bigint) AS df,
       cast(least((1000000 * (2*(SELECT count(*) FROM documents) - 2*df + 1))
                  // (2*df + 1), {C.FTS_IDF_CAP_E6}) as bigint) AS idf_e6
FROM j""",
    "hybrid_rrf": f"""
WITH {_bm25_cte({0: C.FTS_QUERIES[0]})},
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT vec_id, {_DOT} AS dot_e12 FROM c, q),
vec AS (SELECT vec_id, row_number() OVER (ORDER BY dot_e12 DESC, vec_id) AS vrank
        FROM s QUALIFY vrank <= {C.HYBRID_POOL}),
kw AS (SELECT doc_id, rank AS krank FROM bm WHERE rank <= {C.HYBRID_POOL}),
ids AS (SELECT vec_id AS id FROM vec UNION SELECT doc_id FROM kw),
f AS (SELECT id, coalesce(vrank, 0) AS vec_rank, coalesce(krank, 0) AS kw_rank,
             (CASE WHEN vrank IS NOT NULL THEN 1000000 // ({C.RRF_K} + vrank) ELSE 0 END)
           + (CASE WHEN krank IS NOT NULL THEN 1000000 // ({C.RRF_K} + krank) ELSE 0 END) AS rrf_e6
      FROM ids LEFT JOIN vec ON id = vec_id LEFT JOIN kw ON id = doc_id)
SELECT cast(id as bigint) AS doc_id, cast(vec_rank as bigint) AS vec_rank,
       cast(kw_rank as bigint) AS kw_rank, cast(rrf_e6 as bigint) AS rrf_e6,
       cast(row_number() OVER (ORDER BY rrf_e6 DESC, id) as bigint) AS rank
FROM f QUALIFY rank <= {C.TOPK}""",
    "vector_topk": f"""
WITH q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT vec_id, {_DOT} AS dot_e12 FROM c, q)
SELECT vec_id, dot_e12,
       cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
FROM s ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "vector_topk_multi": f"""
WITH q AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
           WHERE vec_id < {C.MULTI_QUERY_N}),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT q_id, vec_id, {_DOT} AS dot_e12 FROM c, q),
r AS (SELECT q_id, vec_id, dot_e12,
             cast(row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
      FROM s)
SELECT q_id, vec_id, rank, dot_e12 FROM r WHERE rank <= {C.MULTI_TOPK}""",
    # hard-negative mining (operators/search.py hard_negatives): per query,
    # top-k most-similar CROSS-LABEL candidates (what a contrastive loss
    # trains on); exact fixed-point dot, self-hit excluded by label
    "hard_negatives": f"""
WITH q AS (SELECT vec_id AS q_id, cast(label as bigint) AS q_label,
                  {_FP_VEC} AS qv
           FROM embeddings WHERE vec_id < {C.MULTI_QUERY_N}),
c AS (SELECT vec_id, cast(label as bigint) AS neg_label, {_FP_VEC} AS ev
      FROM embeddings),
s AS (SELECT q_id, q_label, vec_id, neg_label, {_DOT} AS dot_e12
      FROM c, q WHERE neg_label <> q_label),
r AS (SELECT q_id, q_label, vec_id, neg_label, dot_e12,
             cast(row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
      FROM s)
SELECT q_id, q_label, vec_id, neg_label, rank, dot_e12
FROM r WHERE rank <= {C.MULTI_TOPK}""",
    # triplet mining (operators/search.py triplet_mining): hardest positive
    # (same label, self excluded) + hardest negative per anchor, exact
    # fixed-point margin; NULL positive (unique label) -> margin_ok 0
    "triplet_mining": f"""
WITH q AS (SELECT vec_id AS q_id, cast(label as bigint) AS q_label,
                  {_FP_VEC} AS qv
           FROM embeddings WHERE vec_id < {C.MULTI_QUERY_N}),
c AS (SELECT vec_id, cast(label as bigint) AS c_label, {_FP_VEC} AS ev
      FROM embeddings),
s AS (SELECT q_id, q_label, vec_id, (c_label = q_label) AS is_pos,
             {_DOT} AS dot_e12
      FROM c, q WHERE vec_id <> q_id),
r AS (SELECT q_id, q_label, vec_id, is_pos, dot_e12,
             row_number() OVER (PARTITION BY q_id, is_pos
                                ORDER BY dot_e12 DESC, vec_id) AS rn
      FROM s),
g AS (SELECT q_id, q_label,
             cast(max(CASE WHEN is_pos THEN vec_id END) as bigint) AS pos_id,
             cast(max(CASE WHEN is_pos THEN dot_e12 END) as bigint) AS pos_dot_e12,
             cast(max(CASE WHEN NOT is_pos THEN vec_id END) as bigint) AS neg_id,
             cast(max(CASE WHEN NOT is_pos THEN dot_e12 END) as bigint) AS neg_dot_e12
      FROM r WHERE rn = 1 GROUP BY 1, 2)
SELECT q_id, q_label, pos_id, pos_dot_e12, neg_id, neg_dot_e12,
       cast(pos_dot_e12 - neg_dot_e12 as bigint) AS margin_e12,
       cast(CASE WHEN pos_dot_e12 > neg_dot_e12 THEN 1 ELSE 0 END
            as bigint) AS margin_ok
FROM g""",
    # retrieval-quality eval (operators/search.py retrieval_eval): the
    # machine-checkable form of the reference's 40-query evaluation suite
    # (evaluation/ma_test_queries.json + scripts/evaluate_queries.py) —
    # relevance = label equality, self-hit excluded, ranks include self
    "retrieval_eval": f"""
WITH q AS (SELECT vec_id AS q_id, cast(label as bigint) AS q_label,
                  {_FP_VEC} AS qv
           FROM embeddings WHERE vec_id < {C.RETRIEVAL_EVAL_N}),
c AS (SELECT vec_id, cast(label as bigint) AS label, {_FP_VEC} AS ev
      FROM embeddings),
s AS (SELECT q_id, q_label, vec_id, label, {_DOT} AS dot_e12 FROM c, q),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY dot_e12 DESC, vec_id) AS rank
      FROM s),
t AS (SELECT *, CASE WHEN label = q_label AND vec_id <> q_id
                     THEN 1 ELSE 0 END AS rel
      FROM r WHERE rank <= {C.RETRIEVAL_EVAL_K}),
m AS (SELECT q_id, q_label,
             cast(sum(rel) as bigint) AS n_rel,
             min(CASE WHEN rel = 1 THEN rank END) AS fr
      FROM t GROUP BY 1, 2)
SELECT cast(q_id as bigint) AS q_id, q_label AS label, n_rel,
       cast(coalesce(fr, 0) as bigint) AS first_rel_rank,
       cast(CASE WHEN fr IS NOT NULL THEN 1000000 // fr ELSE 0 END
            as bigint) AS mrr_micro,
       cast((n_rel * 1000000) // {C.RETRIEVAL_EVAL_K} as bigint)
           AS precision_micro
FROM m""",
    # nDCG@k (operators/search.py retrieval_ndcg): binary relevance,
    # AUTHORED fixed-point discounts (contract.NDCG_DISC_E6 — the
    # HLL_LN64_E6 precedent), idcg = prefix sum of the same literal list
    "retrieval_ndcg": f"""
WITH q AS (SELECT vec_id AS q_id, cast(label as bigint) AS q_label,
                  {_FP_VEC} AS qv
           FROM embeddings WHERE vec_id < {C.RETRIEVAL_EVAL_N}),
c AS (SELECT vec_id, cast(label as bigint) AS label, {_FP_VEC} AS ev
      FROM embeddings),
s AS (SELECT q_id, q_label, vec_id, label, {_DOT} AS dot_e12 FROM c, q),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY dot_e12 DESC, vec_id) AS rank
      FROM s),
t AS (SELECT *, CASE WHEN label = q_label AND vec_id <> q_id
                     THEN 1 ELSE 0 END AS rel
      FROM r WHERE rank <= {C.RETRIEVAL_EVAL_K}),
m AS (SELECT q_id, q_label,
             cast(sum(rel) as bigint) AS n_rel,
             cast(sum(rel * ({list(C.NDCG_DISC_E6)})[rank]) as bigint)
               AS dcg_e6
      FROM t GROUP BY 1, 2),
i AS (SELECT *, cast(coalesce(list_sum(
             list_slice({list(C.NDCG_DISC_E6)}, 1, n_rel)), 0) as bigint)
               AS idcg_e6
      FROM m)
SELECT cast(q_id as bigint) AS q_id, q_label AS label, n_rel, dcg_e6,
       idcg_e6,
       cast(CASE WHEN n_rel > 0 THEN dcg_e6 * 1000000 // idcg_e6
                 ELSE 0 END as bigint) AS ndcg_e6
FROM i""",
    # class-separation report (operators/search.py label_separation):
    # integer per-dim centroid means (positive-dividend shift so // ==
    # Spark DIV on negative sums), pairwise centroid cosine, round 6
    "label_separation": f"""
WITH c AS (SELECT cast(label as bigint) AS label, {_FP_VEC} AS ev
           FROM embeddings),
comp AS (SELECT label, i.i AS dim, ev[i.i] AS v
         FROM c, generate_series(1, {C.EMBED_DIM}) i(i)),
cent AS (
  SELECT label, dim, cast(count(*) as bigint) AS n,
         cast((cast(sum(v) as bigint) + cast(count(*) as bigint) * 1000000)
              // cast(count(*) as bigint) - 1000000 as bigint) AS cc
  FROM comp GROUP BY 1, 2),
nrm AS (SELECT label, cast(sum(cc * cc) as bigint) AS ss,
               cast(max(n) as bigint) AS n
        FROM cent GROUP BY 1),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         cast(sum(a.cc * b.cc) as bigint) AS dotp
  FROM cent a JOIN cent b USING (dim)
  WHERE a.label < b.label GROUP BY 1, 2)
SELECT d.label_a, d.label_b, na.n AS n_a, nb.n AS n_b,
       CASE WHEN na.ss = 0 OR nb.ss = 0 THEN cast(0.0 as double)
            ELSE round(d.dotp / (sqrt(cast(na.ss as double))
                                 * sqrt(cast(nb.ss as double))), 6)
       END AS cos_r6
FROM dots d
JOIN nrm na ON na.label = d.label_a
JOIN nrm nb ON nb.label = d.label_b""",
    # anisotropy report (operators/search.py isotropy_report): centroid
    # = per-dim integer mean (positive-dividend shift), one scalar row
    "isotropy_report": f"""
WITH c AS (SELECT {_FP_VEC} AS ev FROM embeddings),
comp AS (SELECT i.i AS dim, ev[i.i] AS v
         FROM c, generate_series(1, {C.EMBED_DIM}) i(i)),
pd AS (
  SELECT dim,
         cast((cast(sum(v) as bigint) + cast(count(*) as bigint) * 1000000)
              // cast(count(*) as bigint) - 1000000 as bigint) AS m,
         cast(sum(v * v) as bigint) AS ssq,
         cast(count(*) as bigint) AS n
  FROM comp GROUP BY 1),
t AS (SELECT cast(max(n) as bigint) AS n,
             cast(sum(ssq) as bigint) AS sum_sq_norm_e12,
             cast(sum(m * m) as bigint) AS centroid_sq_norm_e12
      FROM pd)
SELECT n, sum_sq_norm_e12,
       cast(sum_sq_norm_e12 // n as bigint) AS mean_sq_norm_e12,
       centroid_sq_norm_e12,
       cast(centroid_sq_norm_e12 * 1000000 // (sum_sq_norm_e12 // n)
            as bigint) AS iso_e6
FROM t""",
    "retrieval_eval_by_label": f"""
WITH q AS (SELECT vec_id AS q_id, cast(label as bigint) AS q_label,
                  {_FP_VEC} AS qv
           FROM embeddings WHERE vec_id < {C.RETRIEVAL_EVAL_N}),
c AS (SELECT vec_id, cast(label as bigint) AS label, {_FP_VEC} AS ev
      FROM embeddings),
s AS (SELECT q_id, q_label, vec_id, label, {_DOT} AS dot_e12 FROM c, q),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY dot_e12 DESC, vec_id) AS rank
      FROM s),
t AS (SELECT *, CASE WHEN label = q_label AND vec_id <> q_id
                     THEN 1 ELSE 0 END AS rel
      FROM r WHERE rank <= {C.RETRIEVAL_EVAL_K}),
m AS (SELECT q_id, q_label,
             cast(sum(rel) as bigint) AS n_rel,
             min(CASE WHEN rel = 1 THEN rank END) AS fr
      FROM t GROUP BY 1, 2),
e AS (SELECT q_id, q_label, n_rel,
             CASE WHEN fr IS NOT NULL THEN 1000000 // fr ELSE 0 END
                 AS mrr_micro,
             (n_rel * 1000000) // {C.RETRIEVAL_EVAL_K} AS precision_micro,
             CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM m)
SELECT q_label AS label,
       cast(count(*) as bigint) AS n_queries,
       cast(sum(n_rel) as bigint) AS n_rel_total,
       cast(sum(hit) as bigint) AS n_queries_hit,
       cast(cast(sum(mrr_micro) as bigint) // count(*) as bigint)
           AS mean_mrr_micro,
       cast(cast(sum(precision_micro) as bigint) // count(*) as bigint)
           AS mean_precision_micro
FROM e GROUP BY 1""",
    "topk_enriched": f"""
WITH q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT vec_id, {_DOT} AS dot_e12 FROM c, q),
topk AS (
  SELECT vec_id, dot_e12,
         cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
  FROM s ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK})
SELECT rank, vec_id, dot_e12, lang, source, n_chars
FROM documents d JOIN topk t ON d.doc_id = t.vec_id""",
    "ivf_topk": f"""
WITH q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
scored AS (
  SELECT c.vec_id, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, ev, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn = 1),
probes AS (
  SELECT cent_id FROM (
    SELECT cent_id,
           cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                i -> cv[i] * qv[i])) as bigint) AS qdot
    FROM cents, q)
  ORDER BY qdot DESC, cent_id LIMIT {C.IVF_PROBE}),
hits AS (
  SELECT vec_id, {_DOT} AS dot_e12
  FROM assigned JOIN probes USING (cent_id) CROSS JOIN q)
SELECT vec_id, dot_e12,
       cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
FROM hits ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    # SQ8 scalar quantization (operators/sq.py): per-dim affine codes,
    # asymmetric integer scoring (score = SQ_LEVELS * <qv, recon(x)>,
    # exact), SQ_RERANK shortlist + exact re-rank.  Internal dims stay
    # 1-based; only the sq_codes surface shifts to 0-based.
    "sq_codes": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
b AS (SELECT i.i AS dim, min(ev[i.i]) AS mn, max(ev[i.i]) AS mx
      FROM c, generate_series(1, {C.EMBED_DIM}) i(i) GROUP BY i.i)
SELECT c.vec_id, cast(b.dim - 1 as bigint) AS dim,
       cast(CASE WHEN b.mx = b.mn THEN 0
            ELSE (ev[b.dim] - b.mn) * {C.SQ_LEVELS} // (b.mx - b.mn)
       END as bigint) AS code
FROM c, b""",
    "sq_topk": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
b AS (SELECT i.i AS dim, min(ev[i.i]) AS mn, max(ev[i.i]) AS mx
      FROM c, generate_series(1, {C.EMBED_DIM}) i(i) GROUP BY i.i),
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
codes AS (
  SELECT c.vec_id, b.dim, b.mn, b.mx,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE (ev[b.dim] - b.mn) * {C.SQ_LEVELS} // (b.mx - b.mn)
         END AS code
  FROM c, b),
s AS (
  SELECT vec_id,
         cast(sum(qv[dim] * ({C.SQ_LEVELS} * mn + code * (mx - mn))) as bigint)
           AS adot_sq
  FROM codes CROSS JOIN q GROUP BY vec_id),
short AS (SELECT vec_id FROM s ORDER BY adot_sq DESC, vec_id LIMIT {C.SQ_RERANK}),
hits AS (
  SELECT c.vec_id, {_DOT} AS dot_e12
  FROM c JOIN short USING (vec_id) CROSS JOIN q)
SELECT vec_id, dot_e12,
       cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
FROM hits ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "sq_recall": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
b AS (SELECT i.i AS dim, min(ev[i.i]) AS mn, max(ev[i.i]) AS mx
      FROM c, generate_series(1, {C.EMBED_DIM}) i(i) GROUP BY i.i),
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
codes AS (
  SELECT c.vec_id, b.dim, b.mn, b.mx,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE (ev[b.dim] - b.mn) * {C.SQ_LEVELS} // (b.mx - b.mn)
         END AS code
  FROM c, b),
s AS (
  SELECT vec_id,
         cast(sum(qv[dim] * ({C.SQ_LEVELS} * mn + code * (mx - mn))) as bigint)
           AS adot_sq
  FROM codes CROSS JOIN q GROUP BY vec_id),
short AS (SELECT vec_id FROM s ORDER BY adot_sq DESC, vec_id LIMIT {C.SQ_RERANK}),
approx AS (
  SELECT c.vec_id, {_DOT} AS dot_e12
  FROM c JOIN short USING (vec_id) CROSS JOIN q
  ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}),
brute AS (
  SELECT vec_id FROM (SELECT c.vec_id, {_DOT} AS dot_e12 FROM c, q)
  ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}),
h AS (SELECT count(*) AS n FROM approx JOIN brute USING (vec_id))
SELECT cast(0 as bigint) AS q_id, cast(n as bigint) AS n_hits,
       cast({C.TOPK} as bigint) AS k,
       cast(n * {C.FIXED_POINT} // {C.TOPK} as bigint) AS recall_e6
FROM h""",
    # binary quantization (operators/bq.py bq_topk): Hamming shortlist
    # over the shared SRP sketch (identical planes), exact-dot re-rank
    "bq_topk": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
w AS (SELECT vec_id, ev, {_srp_word_sql()} AS srp FROM c),
q AS (SELECT srp AS qsrp, ev AS qv FROM w WHERE vec_id = 0),
short AS (
  SELECT w.vec_id, w.ev, q.qv,
         cast(bit_count(xor(w.srp, q.qsrp)) as bigint) AS hamming
  FROM w, q ORDER BY hamming, w.vec_id LIMIT {C.BQ_RERANK}),
hits AS (SELECT vec_id, hamming, {_DOT} AS dot_e12 FROM short)
SELECT cast(vec_id as bigint) AS vec_id, hamming, dot_e12,
       cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint)
         AS rank
FROM hits ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "bq_recall": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
w AS (SELECT vec_id, ev, {_srp_word_sql()} AS srp FROM c),
q AS (SELECT srp AS qsrp, ev AS qv FROM w WHERE vec_id = 0),
short AS (
  SELECT w.vec_id, w.ev, q.qv,
         cast(bit_count(xor(w.srp, q.qsrp)) as bigint) AS hamming
  FROM w, q ORDER BY hamming, w.vec_id LIMIT {C.BQ_RERANK}),
approx AS (
  SELECT vec_id, {_DOT} AS dot_e12 FROM short
  ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}),
brute AS (
  SELECT vec_id FROM (
    SELECT c.vec_id, {_DOT} AS dot_e12
    FROM c, (SELECT qv FROM q) q)
  ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}),
h AS (SELECT count(*) AS n FROM approx JOIN brute USING (vec_id))
SELECT cast(0 as bigint) AS q_id, cast(n as bigint) AS n_hits,
       cast({C.TOPK} as bigint) AS k,
       cast(n * {C.FIXED_POINT} // {C.TOPK} as bigint) AS recall_e6
FROM h""",
    # IVF + binary quantization (operators/bq.py ivfbq_topk): the
    # ivfpq_topk blocking with the SRP/Hamming quantizer
    "ivfbq_topk": f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
w AS (SELECT vec_id, ev, {_srp_word_sql()} AS srp FROM c),
q AS (SELECT srp AS qsrp, ev AS qv FROM w WHERE vec_id = 0),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
cscored AS (
  SELECT c.vec_id, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cdot DESC, cent_id) AS rn
    FROM cscored) WHERE rn = 1),
probes AS (
  SELECT cent_id FROM (
    SELECT cent_id,
           cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                i -> cv[i] * qv[i])) as bigint) AS qdot
    FROM cents, q)
  ORDER BY qdot DESC, cent_id LIMIT {C.IVF_PROBE}),
short AS (
  SELECT w.vec_id, w.ev, q.qv,
         cast(bit_count(xor(w.srp, q.qsrp)) as bigint) AS hamming
  FROM w
  JOIN assigned USING (vec_id)
  JOIN probes USING (cent_id)
  CROSS JOIN q
  ORDER BY hamming, w.vec_id LIMIT {C.BQ_RERANK}),
hits AS (SELECT vec_id, hamming, {_DOT} AS dot_e12 FROM short)
SELECT cast(vec_id as bigint) AS vec_id, hamming, dot_e12,
       cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint)
         AS rank
FROM hits ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "kmeans_centroids": f"""
WITH {_kmeans_ctes()}
SELECT cent_id, cast(i.i - 1 as bigint) AS dim, cv[i.i] AS value
FROM {_KM_FINAL}, generate_series(1, {C.EMBED_DIM}) i(i)""",
    "ivf_topk_trained": f"""
WITH {_kmeans_ctes()},
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
sF AS (
  SELECT c.vec_id, c.ev, t.cent_id,
         cast(list_sum(list_transform(t.cv, x -> x * x)) as bigint)
         - 2 * cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
               i -> c.ev[i] * t.cv[i])) as bigint) AS d
  FROM c, {_KM_FINAL} t),
aF AS (
  SELECT vec_id, ev, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, cent_id) AS rn
    FROM sF) WHERE rn = 1),
probes AS (
  SELECT cent_id FROM (
    SELECT t.cent_id,
           cast(list_sum(list_transform(t.cv, x -> x * x)) as bigint)
           - 2 * cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                 i -> t.cv[i] * q.qv[i])) as bigint) AS d
    FROM {_KM_FINAL} t, q)
  ORDER BY d, cent_id LIMIT {C.IVF_PROBE}),
hits AS (
  SELECT vec_id, {_DOT} AS dot_e12
  FROM aF JOIN probes USING (cent_id) CROSS JOIN q)
SELECT vec_id, dot_e12,
       cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
FROM hits ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "ivf_topk_multi": f"""
WITH q AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
           WHERE vec_id < {C.MULTI_QUERY_N}),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
scored AS (
  SELECT c.vec_id, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, ev, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn = 1),
probes AS (
  SELECT q_id, cent_id FROM (
    SELECT q.q_id, cents.cent_id,
           cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                i -> cv[i] * qv[i])) as bigint) AS qdot,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                                    i -> cv[i] * qv[i])) as bigint) DESC, cents.cent_id) AS prank
    FROM cents, q) WHERE prank <= {C.IVF_PROBE}),
hits AS (
  SELECT p.q_id, a.vec_id, {_DOT} AS dot_e12
  FROM assigned a JOIN probes p USING (cent_id) JOIN q ON q.q_id = p.q_id),
r AS (
  SELECT q_id, vec_id, dot_e12,
         cast(row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
  FROM hits)
SELECT q_id, vec_id, rank, dot_e12 FROM r WHERE rank <= {C.MULTI_TOPK}""",
    "ivf_recall": f"""
WITH q AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
           WHERE vec_id < {C.MULTI_QUERY_N}),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT q_id, vec_id, {_DOT} AS dot_e12 FROM c, q),
brute AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) AS rank
    FROM s) WHERE rank <= {C.MULTI_TOPK}),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
scored AS (
  SELECT c.vec_id, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, ev, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn = 1),
probes AS (
  SELECT q_id, cent_id FROM (
    SELECT q.q_id, cents.cent_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                                    i -> cv[i] * qv[i])) as bigint) DESC, cents.cent_id) AS prank
    FROM cents, q) WHERE prank <= {C.IVF_PROBE}),
ihits AS (
  SELECT p.q_id, a.vec_id, {_DOT} AS dot_e12
  FROM assigned a JOIN probes p USING (cent_id) JOIN q ON q.q_id = p.q_id),
approx AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) AS rank
    FROM ihits) WHERE rank <= {C.MULTI_TOPK}),
agg AS (
  SELECT b.q_id, count(*) AS n_truth,
         count(a.vec_id) AS n_hits
  FROM brute b LEFT JOIN approx a USING (q_id, vec_id)
  GROUP BY b.q_id)
SELECT cast(q_id as bigint) AS q_id,
       cast(n_hits as bigint) AS n_hits,
       cast(floor(n_hits * 1000000 / n_truth) as bigint) AS recall_micro
FROM agg""",
    "pq_codes": f"""
WITH {_PQ_CTES}
SELECT cast(vec_id as bigint) AS vec_id, cast(m as bigint) AS m,
       cast(code as bigint) AS code
FROM codes""",
    "pq_topk": f"""
WITH {_PQ_CTES},
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
lut AS (
  SELECT m, code,
         cast(list_sum(list_transform(generate_series(1, {C.PQ_SUB}),
              j -> cw[j] * qv[m * {C.PQ_SUB} + j])) as bigint) AS part
  FROM cb, q),
adot AS (
  SELECT vec_id, cast(sum(part) as bigint) AS adot_e12
  FROM codes JOIN lut USING (m, code) GROUP BY vec_id),
short AS (
  SELECT vec_id, adot_e12 FROM adot
  ORDER BY adot_e12 DESC, vec_id LIMIT {C.PQ_RERANK}),
hits AS (
  SELECT s.vec_id, s.adot_e12, {_DOT} AS dot_e12
  FROM short s JOIN c ON c.vec_id = s.vec_id, q)
SELECT cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank,
       vec_id, adot_e12, dot_e12
FROM hits ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "pq_topk_multi": f"""
WITH {_PQ_CTES},
qm AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
       WHERE vec_id < {C.MULTI_QUERY_N}),
lutm AS (
  SELECT q_id, m, code,
         cast(list_sum(list_transform(generate_series(1, {C.PQ_SUB}),
              j -> cw[j] * qv[m * {C.PQ_SUB} + j])) as bigint) AS part
  FROM cb, qm),
adot AS (
  SELECT q_id, vec_id, cast(sum(part) as bigint) AS adot_e12
  FROM codes JOIN lutm USING (m, code) GROUP BY q_id, vec_id),
short AS (
  SELECT q_id, vec_id, adot_e12 FROM (
    SELECT q_id, vec_id, adot_e12,
           row_number() OVER (PARTITION BY q_id ORDER BY adot_e12 DESC, vec_id) AS srn
    FROM adot) WHERE srn <= {C.PQ_RERANK}),
hits AS (
  SELECT sh.q_id, sh.vec_id, sh.adot_e12,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * qv[i])) as bigint) AS dot_e12
  FROM short sh JOIN c ON c.vec_id = sh.vec_id JOIN qm ON qm.q_id = sh.q_id),
r AS (
  SELECT q_id, vec_id, adot_e12, dot_e12,
         cast(row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
  FROM hits)
SELECT q_id, vec_id, rank, adot_e12, dot_e12 FROM r WHERE rank <= {C.MULTI_TOPK}""",
    "ivfpq_topk": f"""
WITH {_PQ_CTES},
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
cscored AS (
  SELECT c.vec_id, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cent_id) AS rn
    FROM cscored) WHERE rn = 1),
probes AS (
  SELECT cent_id FROM (
    SELECT cent_id,
           cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                i -> cv[i] * qv[i])) as bigint) AS qdot
    FROM cents, q)
  ORDER BY qdot DESC, cent_id LIMIT {C.IVF_PROBE}),
pruned AS (SELECT a.vec_id FROM assigned a JOIN probes USING (cent_id)),
lut AS (
  SELECT m, code,
         cast(list_sum(list_transform(generate_series(1, {C.PQ_SUB}),
              j -> cw[j] * qv[m * {C.PQ_SUB} + j])) as bigint) AS part
  FROM cb, q),
adot AS (
  SELECT codes.vec_id, cast(sum(part) as bigint) AS adot_e12
  FROM codes JOIN pruned USING (vec_id) JOIN lut USING (m, code)
  GROUP BY codes.vec_id),
short AS (
  SELECT vec_id, adot_e12 FROM adot
  ORDER BY adot_e12 DESC, vec_id LIMIT {C.PQ_RERANK}),
hits AS (
  SELECT s.vec_id, s.adot_e12, {_DOT} AS dot_e12
  FROM short s JOIN c ON c.vec_id = s.vec_id, q)
SELECT cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank,
       vec_id, adot_e12, dot_e12
FROM hits ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "ivfpq_topk_multi": f"""
WITH {_PQ_CTES},
qm AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
       WHERE vec_id < {C.MULTI_QUERY_N}),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
cscored AS (
  SELECT c.vec_id, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cent_id) AS rn
    FROM cscored) WHERE rn = 1),
probes AS (
  SELECT q_id, cent_id FROM (
    SELECT q_id, cent_id,
           row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, cent_id) AS prn
    FROM (SELECT qm.q_id, cents.cent_id,
                 cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                      i -> cv[i] * qv[i])) as bigint) AS qdot
          FROM cents, qm))
  WHERE prn <= {C.IVF_PROBE}),
pruned AS (SELECT p.q_id, a.vec_id FROM assigned a JOIN probes p USING (cent_id)),
lutm AS (
  SELECT q_id, m, code,
         cast(list_sum(list_transform(generate_series(1, {C.PQ_SUB}),
              j -> cw[j] * qv[m * {C.PQ_SUB} + j])) as bigint) AS part
  FROM cb, qm),
adot AS (
  SELECT pruned.q_id, codes.vec_id, cast(sum(part) as bigint) AS adot_e12
  FROM codes JOIN pruned USING (vec_id)
  JOIN lutm ON lutm.q_id = pruned.q_id AND lutm.m = codes.m
           AND lutm.code = codes.code
  GROUP BY pruned.q_id, codes.vec_id),
short AS (
  SELECT q_id, vec_id, adot_e12 FROM (
    SELECT q_id, vec_id, adot_e12,
           row_number() OVER (PARTITION BY q_id ORDER BY adot_e12 DESC, vec_id) AS srn
    FROM adot) WHERE srn <= {C.PQ_RERANK}),
hits AS (
  SELECT sh.q_id, sh.vec_id, sh.adot_e12,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * qv[i])) as bigint) AS dot_e12
  FROM short sh JOIN c ON c.vec_id = sh.vec_id JOIN qm ON qm.q_id = sh.q_id),
r AS (
  SELECT q_id, vec_id, adot_e12, dot_e12,
         cast(row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
  FROM hits)
SELECT q_id, vec_id, rank, adot_e12, dot_e12 FROM r WHERE rank <= {C.MULTI_TOPK}""",
    "pq_recall": f"""
WITH {_PQ_CTES},
qm AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
       WHERE vec_id < {C.MULTI_QUERY_N}),
s AS (SELECT q_id, c.vec_id,
             cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                  i -> ev[i] * qv[i])) as bigint) AS dot_e12
      FROM c, qm),
brute AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) AS rank
    FROM s) WHERE rank <= {C.MULTI_TOPK}),
lutm AS (
  SELECT q_id, m, code,
         cast(list_sum(list_transform(generate_series(1, {C.PQ_SUB}),
              j -> cw[j] * qv[m * {C.PQ_SUB} + j])) as bigint) AS part
  FROM cb, qm),
adot AS (
  SELECT q_id, vec_id, cast(sum(part) as bigint) AS adot_e12
  FROM codes JOIN lutm USING (m, code) GROUP BY q_id, vec_id),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY adot_e12 DESC, vec_id) AS srn
    FROM adot) WHERE srn <= {C.PQ_RERANK}),
phits AS (
  SELECT sh.q_id, sh.vec_id, s.dot_e12
  FROM short sh JOIN s ON s.q_id = sh.q_id AND s.vec_id = sh.vec_id),
approx AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) AS rank
    FROM phits) WHERE rank <= {C.MULTI_TOPK}),
agg AS (
  SELECT b.q_id, count(*) AS n_truth, count(a.vec_id) AS n_hits
  FROM brute b LEFT JOIN approx a USING (q_id, vec_id)
  GROUP BY b.q_id)
SELECT cast(q_id as bigint) AS q_id,
       cast(n_hits as bigint) AS n_hits,
       cast(floor(n_hits * 1000000 / n_truth) as bigint) AS recall_micro
FROM agg""",
    "sessionize": """
WITH x AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
y AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM x),
z AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM y)
SELECT user_id, cast(session_id as bigint) AS session_id,
       cast(count(*) as bigint) AS n_events,
       cast(floor(epoch(min(ts))) as bigint) AS start_epoch,
       cast(floor(epoch(max(ts))) as bigint) AS end_epoch
FROM z GROUP BY 1, 2""",
    "vector_topk_filtered": f"""
WITH allowed AS (SELECT doc_id AS vec_id FROM documents WHERE source = 'src1'),
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings
      WHERE vec_id IN (SELECT vec_id FROM allowed)),
s AS (SELECT vec_id, {_DOT} AS dot_e12 FROM c, q)
SELECT vec_id, dot_e12,
       cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
FROM s ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK}""",
    "delete_documents": f"""
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT unnest(generate_series(0, {C.DELETE_BOUND - 1}, {C.DELETE_EVERY})))""",
    "similarity_buckets": f"""
WITH q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT vec_id,
             cast({_DOT} as double) / (sqrt({_SQNORM_EV}) * sqrt({_SQNORM_QV})) AS cos
      FROM c, q)
SELECT {_BUCKET_CASE} AS bucket, cast(count(*) as bigint) AS n_vecs
FROM s GROUP BY 1""",
    "paginate": f"""
WITH r AS (
  SELECT doc_id, n_chars,
         cast(row_number() OVER (ORDER BY n_chars DESC, doc_id) as bigint) AS rn
  FROM documents)
SELECT doc_id, n_chars, rn FROM r
WHERE rn > {C.PAGE_OFFSET} AND rn <= {C.PAGE_OFFSET + C.PAGE_LIMIT}""",
    "doc_stats": """
SELECT lang, source,
       cast(count(*) as bigint) AS n_docs,
       cast(sum(n_chars) as bigint) AS sum_chars,
       round(sum(n_chars) / count(*), 4) AS avg_chars
FROM documents GROUP BY 1, 2""",
    "short_outliers": """
WITH by_len AS (
  SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY 1, 2),
cum AS (
  SELECT lang, n_chars, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS total
  FROM by_len),
cutoffs AS (
  SELECT lang, min(n_chars) AS cutoff_chars
  FROM cum WHERE cum >= ceil(total * 100000 / 1000000)
  GROUP BY lang)
SELECT cast(d.doc_id as bigint) AS doc_id, d.lang,
       cast(d.n_chars as bigint) AS n_chars,
       cast(c.cutoff_chars as bigint) AS cutoff_chars,
       d.n_chars < c.cutoff_chars AS is_short_outlier
FROM documents d JOIN cutoffs c USING (lang)""",
    # partition-key skew pre-flight (operators/stats.py
    # shuffle_skew_report): per-source shuffle load, share, load factor
    # (1e6 = balanced), CEIL salt-to-mean factor, >=2x-mean flag.
    # Positive integers throughout so DuckDB // == Spark DIV; sum() is
    # HUGEINT — cast (CLAUDE.md sharp edge).
    "shuffle_skew_report": """
WITH k AS (
  SELECT source, cast(count(*) as bigint) AS n_docs,
         cast(sum(n_chars) as bigint) AS total_chars
  FROM documents GROUP BY 1),
t AS (SELECT cast(sum(total_chars) as bigint) AS grand_total,
             cast(count(*) as bigint) AS n_keys FROM k)
SELECT source, n_docs, total_chars,
       cast(total_chars * 1000000 // grand_total as bigint) AS share_micro,
       cast(total_chars * n_keys * 1000000 // grand_total as bigint)
         AS load_micro,
       cast((total_chars * n_keys + grand_total - 1) // grand_total
            as bigint) AS salt_factor,
       total_chars * n_keys * 1000000 // grand_total >= 2000000
         AS is_skewed
FROM k, t""",
    "dedup_stats": f"""
WITH g AS (
  SELECT md5({_NORM}) AS grp_hash, count(*) AS n
  FROM documents GROUP BY 1)
SELECT cast(count(*) as bigint) AS n_groups,
       cast(sum(n) as bigint) AS n_docs,
       cast(sum(n) - count(*) as bigint) AS n_dup_docs,
       cast(floor((sum(n) - count(*)) * 1000000 / sum(n)) as bigint) AS dup_rate_micro
FROM g""",
    "events_rollup": """
SELECT event_type,
       cast(floor(floor(epoch(ts)) / 3600) * 3600 as bigint) AS hour_epoch,
       cast(count(*) as bigint) AS n_events,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       cast(count(DISTINCT user_id) as bigint) AS n_users
FROM events GROUP BY 1, 2""",
    "cascade_delete": f"""
WITH {_CORPUS_META}
SELECT d.doc_id, d.n_chars, cm.n_figs AS n_media
FROM documents d JOIN cm ON d.doc_id = cm.doc_id
WHERE NOT (d.doc_id % {C.DELETE_EVERY} = 0 AND d.doc_id < {C.DELETE_BOUND})""",
    "search_response": f"""
WITH q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT vec_id, {_DOT} AS dot_e12,
             round(cast({_DOT} as double) /
                   (sqrt({_SQNORM_EV}) * sqrt({_SQNORM_QV})), 6) AS similarity
      FROM c, q),
topk AS (
  SELECT vec_id, similarity,
         cast(row_number() OVER (ORDER BY dot_e12 DESC, vec_id) as bigint) AS rank
  FROM s ORDER BY dot_e12 DESC, vec_id LIMIT {C.TOPK})
SELECT rank, vec_id, similarity,
       substr(text, 1, {C.PREVIEW_CHARS}) AS preview
FROM documents d JOIN topk t ON d.doc_id = t.vec_id""",
    "eval_by_category": f"""
WITH q AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
           WHERE vec_id < {C.MULTI_QUERY_N}),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
s AS (SELECT q_id, vec_id, {_DOT} AS dot_e12 FROM c, q),
r AS (SELECT q_id, vec_id, dot_e12,
             row_number() OVER (PARTITION BY q_id ORDER BY dot_e12 DESC, vec_id) AS rank
      FROM s),
hits AS (SELECT q_id, vec_id, dot_e12 FROM r WHERE rank <= {C.MULTI_TOPK})
SELECT source, cast(count(*) as bigint) AS n_hits,
       cast(count(DISTINCT q_id) as bigint) AS n_queries,
       round(sum(dot_e12) / count(*), 4) AS avg_dot_e12,
       cast(max(dot_e12) as bigint) AS max_dot_e12
FROM documents d JOIN hits h ON d.doc_id = h.vec_id
GROUP BY 1""",
    "boilerplate_flags": f"""
WITH {_CORPUS_META},
pages AS (SELECT doc_id, n_pages, unnest(generate_series(1, n_pages)) AS p FROM cm)
SELECT cast(doc_id as varchar) AS doc_id, cast(p as bigint) AS page,
       {_FOOTER_SQL} AS text
FROM pages WHERE n_pages >= {bp.DEFAULT_MIN_PAGES}""",
    "page_text_map": f"""
WITH {_CORPUS_META},
wlist AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{C.WS_SPLIT_RE}'),
                     x -> x <> '') AS w
  FROM documents),
pg AS (
  SELECT cm.doc_id, cm.n_words, cm.n_lines, wlist.w,
         unnest(generate_series(1, cm.n_pages)) AS p
  FROM cm JOIN wlist ON cm.doc_id = wlist.doc_id),
pc AS (
  SELECT doc_id, p,
         cast(list_sum(list_transform(
                generate_series((p-1)*{_LPP}, least(p*{_LPP}, n_lines) - 1),
                i -> length(array_to_string(
                       w[(i*{_WPL}+1):least((i+1)*{_WPL}, n_words)], ' ')) + 1))
              + length({_FOOTER_SQL}) + 1
              as bigint) AS page_chars
  FROM pg)
SELECT cast(doc_id as varchar) AS doc_id,
       cast(p as bigint) AS page,
       page_chars,
       cast(coalesce(sum(page_chars) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint)
         AS char_start,
       cast(coalesce(sum(page_chars) OVER (PARTITION BY doc_id ORDER BY p
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + page_chars as bigint) AS char_end
FROM pc""",
    "doc_meta": f"""
WITH {_CORPUS_META}
SELECT cast(doc_id as varchar) AS doc_id,
       2 * n_pages + n_lines + n_figs AS n_spans,
       n_pages AS page_count,
       n_lines + n_pages AS n_text_spans,
       n_figs AS n_media
FROM cm WHERE n_words > 0""",
    "doc_listing": f"""
WITH {_CORPUS_META}
SELECT cast(d.doc_id as varchar) AS doc_id,
       2 * n_pages + n_lines + n_figs AS n_spans,
       n_pages AS page_count,
       n_lines + n_pages AS n_text_spans,
       n_figs AS n_media,
       d.lang AS lang,
       d.source AS source,
       cast(d.n_chars as bigint) AS n_chars
FROM cm JOIN documents d ON cm.doc_id = d.doc_id
WHERE n_words > 0""",
    "doc_listing_full": f"""
WITH {_CORPUS_META}
SELECT cast(d.doc_id as varchar) AS doc_id,
       2 * n_pages + n_lines + n_figs AS n_spans,
       n_pages AS page_count,
       n_lines + n_pages AS n_text_spans,
       n_figs AS n_media,
       d.lang AS lang,
       d.source AS source,
       cast(d.n_chars as bigint) AS n_chars,
       d.source || '/doc_' || cast(d.doc_id as varchar) || '.pdf' AS filename,
       strftime(DATE '2024-01-01' + CAST(d.doc_id % {C.SYNTH_TS_DAYS} AS INTEGER),
                '%Y-%m-%d') AS upload_date,
       {_synth_ts_sql('d.doc_id')} AS created_at_ts,
       cast({_synth_ts_sql('d.doc_id')} + d.doc_id % 3600 as bigint)
         AS updated_at_ts,
       '{{"lang":"' || d.lang || '","source":"' || d.source
            || '","n_chars":' || cast(d.n_chars as varchar) || '}}' AS doc_metadata
FROM cm JOIN documents d ON cm.doc_id = d.doc_id
WHERE n_words > 0""",
    "processing_report": f"""
WITH {_CORPUS_META}
SELECT cast(doc_id as varchar) AS doc_id,
       2 * n_pages + n_lines + n_figs AS n_spans_in,
       n_lines + n_pages AS n_text_lines_in,
       n_figs AS n_media,
       true AS success
FROM cm WHERE n_words > 0""",
    "chunk_invariants": f"""
WITH nz AS (SELECT cast(count(*) as bigint) AS c FROM documents
            WHERE length(regexp_replace(text, '\\s', '', 'g')) > 0)
SELECT cast(0 as bigint) AS oversize,
       cast(0 as bigint) AS size_mismatch,
       cast(0 as bigint) AS empty_chunks,
       c AS docs_with_chunks,
       cast(0 as bigint) AS index_holes,
       c AS docs_meeting_chunk_lb,
       c AS docs_all_chunks_nonempty,
       c AS docs_within_max,
       c AS docs_size_consistent
FROM nz""",
}

# the star-rounds connected components must land on the SAME partition as
# min-label propagation — one oracle, two algorithms under the gate
ORACLE_SQL["dedup_clusters_star"] = ORACLE_SQL["dedup_clusters"]


# --------------------------------------------------------------------------
# HTML main-content extraction oracles — the EXPECTED span sequence is
# re-derived from documents.text by the same integer arithmetic the fixture
# generator uses (sources/htmlcorpus.html_from_text), so the extractor's
# whole parse->strip->normalize path is value-checked, not trusted. The
# keep decision for content paragraphs replays the link-density rule in its
# integer form (contract.HTML_LD_NUM/DEN) — paragraphs whose inline link
# head dominates the text are dropped by BOTH sides.
# --------------------------------------------------------------------------

_WPP = C.HTML_WORDS_PER_PARA
_HTML_KEEP = (
    f"{C.HTML_LD_NUM} * link_chars <= {C.HTML_LD_DEN} * length(ptext)"
)
_HTML_META = f"""
  hw AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(coalesce(text, ''), '{C.WS_SPLIT_RE}'),
                       x -> x <> '') AS w
    FROM documents),
  hc AS (
    SELECT doc_id, w, cast(len(w) as bigint) AS n_words,
           cast(ceil(len(w) / {_WPP}.0) as bigint) AS n_paras
    FROM hw),
  hp AS (
    SELECT doc_id, w, n_words, n_paras,
           unnest(generate_series(0, n_paras - 1)) AS i
    FROM hc WHERE n_words > 0),
  ht AS (
    SELECT doc_id, n_paras, i,
           array_to_string(w[(i*{_WPP}+1):least((i+1)*{_WPP}, n_words)], ' ')
             || CASE WHEN i % {C.HTML_AMP_EVERY} = {C.HTML_AMP_PHASE}
                     THEN ' & more' ELSE '' END AS ptext,
           CASE WHEN i % {C.HTML_LINK_EVERY} = {C.HTML_LINK_PHASE}
                 AND least((i+1)*{_WPP}, n_words) - i*{_WPP} > {C.HTML_LINK_WORDS}
                THEN length(array_to_string(
                       w[(i*{_WPP}+1):(i*{_WPP}+{C.HTML_LINK_WORDS})], ' '))
                ELSE 0 END AS link_chars,
           CASE WHEN i % {C.HTML_LINK_EVERY} = {C.HTML_LINK_PHASE}
                 AND least((i+1)*{_WPP}, n_words) - i*{_WPP} > {C.HTML_LINK_WORDS}
                THEN array_to_string(
                       w[(i*{_WPP}+1):(i*{_WPP}+{C.HTML_LINK_WORDS})], ' ')
                ELSE '' END AS atext,
           CASE WHEN i % {C.HTML_IMG_EVERY} = {C.HTML_IMG_PHASE} THEN 1 ELSE 0 END
             AS has_fig,
           CASE WHEN i >= {C.HTML_IMG_PHASE}
                THEN (i - {C.HTML_IMG_PHASE}) // {C.HTML_IMG_EVERY} + 1
                ELSE 0 END AS fig_no
    FROM hp)
"""

ORACLE_SQL["html_extract"] = f"""
WITH {_HTML_META},
sp AS (
  SELECT doc_id, i, 0 AS pos, 'figure' AS kind,
         'Figure ' || cast(fig_no as varchar) AS text,
         'img://' || cast(doc_id as varchar) || '/' || cast(fig_no as varchar)
           AS media_ref
  FROM ht WHERE has_fig = 1
  UNION ALL
  SELECT doc_id, i, 1 AS pos, 'text' AS kind, ptext AS text, '' AS media_ref
  FROM ht WHERE {_HTML_KEEP})
SELECT cast(doc_id as varchar) AS doc_id,
       cast(row_number() OVER (PARTITION BY doc_id ORDER BY i, pos) - 1
            as bigint) AS span_order,
       kind, text, media_ref
FROM sp"""

# per-doc boilerplate drop counts are template constants: the nav items +
# the footer paragraph are structural strips; the sidebar links + cookie
# banner + share strip die on link density (plus any link-dense content
# paragraph)
_HTML_N_STRUCT = len(C.HTML_NAV_ITEMS) + 1
_HTML_N_DENSE_FIXED = C.HTML_SIDEBAR_LINKS + 2

ORACLE_SQL["html_extract_report"] = f"""
WITH {_HTML_META},
agg AS (
  SELECT doc_id,
         sum(CASE WHEN {_HTML_KEEP} THEN 1 ELSE 0 END) AS kept,
         sum(CASE WHEN {_HTML_KEEP} THEN length(ptext) ELSE 0 END) AS chars_main,
         sum(has_fig) AS figs,
         count(*) AS paras,
         md5(coalesce(string_agg(ptext, chr(10) ORDER BY i)
                        FILTER (WHERE {_HTML_KEEP}), '')) AS content_hash
  FROM ht GROUP BY doc_id)
SELECT cast(hc.doc_id as varchar) AS doc_id,
       cast(coalesce(kept, 0) + coalesce(figs, 0) as bigint) AS n_spans,
       cast(coalesce(kept, 0) as bigint) AS n_text,
       cast(coalesce(figs, 0) as bigint) AS n_figures,
       cast(coalesce(chars_main, 0) as bigint) AS n_chars_main,
       cast({_HTML_N_STRUCT} as bigint) AS n_dropped_structural,
       cast({_HTML_N_DENSE_FIXED} + coalesce(paras, 0) - coalesce(kept, 0)
            as bigint) AS n_dropped_linkdense,
       '{C.HTML_CANONICAL_PREFIX}' || cast(hc.doc_id % {C.HTML_CANONICAL_MOD}
           as varchar) AS canonical,
       (hc.doc_id % {C.HTML_NOINDEX_EVERY} = {C.HTML_NOINDEX_PHASE}) AS noindex,
       coalesce(agg.content_hash, md5('')) AS content_hash
FROM hc LEFT JOIN agg ON hc.doc_id = agg.doc_id"""

# the fixture's boilerplate links are template constants in a fixed
# document order: nav items, sidebar, cookie banner — then the content
# links (cadence-triggered, i order), then the share strip
_HTML_FIXED_LINKS = ", ".join(
    [f"({k}, '/{item.lower()}')" for k, item in enumerate(C.HTML_NAV_ITEMS)]
    + [
        f"({len(C.HTML_NAV_ITEMS) + k}, '/t/{k}')"
        for k in range(C.HTML_SIDEBAR_LINKS)
    ]
    + [
        f"({len(C.HTML_NAV_ITEMS) + C.HTML_SIDEBAR_LINKS}, '#a')",
        f"({len(C.HTML_NAV_ITEMS) + C.HTML_SIDEBAR_LINKS + 1}, '#d')",
    ]
)
_HTML_N_FIXED_PRE = len(C.HTML_NAV_ITEMS) + C.HTML_SIDEBAR_LINKS + 2

# text-carrying twin of _HTML_FIXED_LINKS: the template's anchor texts are
# constants (nav item label, 'More k', cookie-banner buttons); the share
# strip's two links trail the content links
_HTML_FIXED_LINKS_T = ", ".join(
    [
        f"({k}, '/{item.lower()}', '{item}')"
        for k, item in enumerate(C.HTML_NAV_ITEMS)
    ]
    + [
        f"({len(C.HTML_NAV_ITEMS) + k}, '/t/{k}', 'More {k}')"
        for k in range(C.HTML_SIDEBAR_LINKS)
    ]
    + [
        f"({len(C.HTML_NAV_ITEMS) + C.HTML_SIDEBAR_LINKS}, '#a', 'Accept all')",
        f"({len(C.HTML_NAV_ITEMS) + C.HTML_SIDEBAR_LINKS + 1}, '#d', 'Decline all')",
    ]
)
_HTML_SHARE_LINKS_T = "(0, '#s', 'Share'), (1, '#t', 'Tweet')"

ORACLE_SQL["html_links"] = f"""
WITH {_HTML_META},
ctr AS (
  SELECT doc_id, i,
         cast(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
              as bigint) AS j,
         {_HTML_KEEP} AS kept
  FROM ht WHERE link_chars > 0),
ncl AS (SELECT doc_id, cast(count(*) as bigint) AS c FROM ctr GROUP BY doc_id),
alll AS (
  SELECT hc.doc_id, v.k AS link_order, v.href, false AS in_main
  FROM hc CROSS JOIN (VALUES {_HTML_FIXED_LINKS}) v(k, href)
  UNION ALL
  SELECT doc_id, {_HTML_N_FIXED_PRE} + j AS link_order,
         '/ref/' || cast(i as varchar) AS href, kept AS in_main
  FROM ctr
  UNION ALL
  SELECT hc.doc_id, {_HTML_N_FIXED_PRE} + coalesce(ncl.c, 0) + v.k AS link_order,
         v.href, false AS in_main
  FROM hc LEFT JOIN ncl ON hc.doc_id = ncl.doc_id
  CROSS JOIN (VALUES (0, '#s'), (1, '#t')) v(k, href))
SELECT cast(doc_id as varchar) AS doc_id,
       cast(link_order as bigint) AS link_order,
       href, in_main
FROM alll"""

# html_links plus the anchor text: the template's label constants for the
# chrome links, the first HTML_LINK_WORDS words of the paragraph (ht.atext)
# for the cadence-triggered content links
ORACLE_SQL["html_links_text"] = f"""
WITH {_HTML_META},
ctr AS (
  SELECT doc_id, i, atext,
         cast(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
              as bigint) AS j,
         {_HTML_KEEP} AS kept
  FROM ht WHERE link_chars > 0),
ncl AS (SELECT doc_id, cast(count(*) as bigint) AS c FROM ctr GROUP BY doc_id),
alll AS (
  SELECT hc.doc_id, v.k AS link_order, v.href, v.atext, false AS in_main
  FROM hc CROSS JOIN (VALUES {_HTML_FIXED_LINKS_T}) v(k, href, atext)
  UNION ALL
  SELECT doc_id, {_HTML_N_FIXED_PRE} + j AS link_order,
         '/ref/' || cast(i as varchar) AS href, atext, kept AS in_main
  FROM ctr
  UNION ALL
  SELECT hc.doc_id, {_HTML_N_FIXED_PRE} + coalesce(ncl.c, 0) + v.k AS link_order,
         v.href, v.atext, false AS in_main
  FROM hc LEFT JOIN ncl ON hc.doc_id = ncl.doc_id
  CROSS JOIN (VALUES {_HTML_SHARE_LINKS_T}) v(k, href, atext))
SELECT cast(doc_id as varchar) AS doc_id,
       cast(link_order as bigint) AS link_order,
       href, atext AS anchor_text, in_main
FROM alll"""

# shared anchor-stream fragment: every (href, anchor text) occurrence from
# the template constants + cadence arithmetic, aggregated to level-1
# partials — used by anchor_text_agg and the anchor BM25 twin
_ANCHOR_PER = f"""
ctr AS (
  SELECT doc_id, i, atext, {_HTML_KEEP} AS kept
  FROM ht WHERE link_chars > 0),
alll AS (
  SELECT v.href, v.atext, false AS in_main
  FROM hc CROSS JOIN (VALUES {_HTML_FIXED_LINKS_T}) v(k, href, atext)
  UNION ALL
  SELECT '/ref/' || cast(i as varchar) AS href, atext, kept AS in_main
  FROM ctr
  UNION ALL
  SELECT v.href, v.atext, false AS in_main
  FROM hc CROSS JOIN (VALUES {_HTML_SHARE_LINKS_T}) v(k, href, atext)),
per AS (
  SELECT href, atext, cast(count(*) as bigint) AS cnt,
         cast(sum(CASE WHEN in_main THEN 1 ELSE 0 END) as bigint) AS cnt_main
  FROM alll GROUP BY href, atext)"""

# aggregated anchor-text signal per target: counts + distinct texts + the
# most common text (ties -> lexicographically smallest), replaying the
# Spark side's (count DESC, text ASC) winner rule as a window
ORACLE_SQL["anchor_text_agg"] = f"""
WITH {_HTML_META},
{_ANCHOR_PER},
r AS (
  SELECT href, atext, cnt,
         row_number() OVER (PARTITION BY href
                            ORDER BY cnt DESC, atext ASC) AS rn
  FROM per),
a AS (
  SELECT href, cast(sum(cnt) as bigint) AS n_anchors,
         cast(sum(cnt_main) as bigint) AS n_anchors_main,
         cast(count(*) as bigint) AS n_distinct_texts
  FROM per GROUP BY href)
SELECT a.href, a.n_anchors, a.n_anchors_main, a.n_distinct_texts,
       r.atext AS top_text, r.cnt AS top_text_n
FROM a JOIN r ON a.href = r.href AND r.rn = 1"""

# BM25 over the anchor-text index: per-target virtual documents (anchor
# texts weighted by occurrence count), the same exact-int64 arithmetic as
# _bm25_cte keyed on href — independent re-derivation from the template +
# cadence arithmetic
_ANCHOR_QT_VALS = ", ".join(
    f"({q}, '{t}')"
    for q, ts in sorted(C.ANCHOR_QUERIES.items())
    for t in ts
)
ORACLE_SQL["anchor_bm25_topk"] = f"""
WITH {_HTML_META},
{_ANCHOR_PER},
atok AS (SELECT href, cnt,
                unnest(regexp_split_to_array(trim(lower(atext)),
                                             '{C.WS_SPLIT_RE}')) AS token
         FROM per),
apost AS (SELECT href, token, cast(sum(cnt) as bigint) AS tf
          FROM atok WHERE token <> '' GROUP BY 1, 2),
adl AS (SELECT href, cast(sum(tf) as bigint) AS dl FROM apost GROUP BY 1),
astats AS (SELECT (SELECT count(DISTINCT href) FROM per) AS n_docs,
                  (1000 * coalesce(sum(dl), 0))
                    // (SELECT count(DISTINCT href) FROM per) AS avgdl_e3
           FROM adl),
aqt(q_id, token) AS (VALUES {_ANCHOR_QT_VALS}),
atdf AS (SELECT token, count(*) AS df FROM apost
         WHERE token IN (SELECT DISTINCT token FROM aqt) GROUP BY 1),
ascored AS (
  SELECT aqt.q_id, p.href,
         (least((1000000 * (2*s.n_docs - 2*t.df + 1)) // (2*t.df + 1),
                {C.FTS_IDF_CAP_E6})
          * ((1000000 * 22 * least(p.tf, {C.FTS_TF_CAP}) * s.avgdl_e3) //
             (10 * least(p.tf, {C.FTS_TF_CAP}) * s.avgdl_e3 + 3 * s.avgdl_e3
              + 9000 * d.dl))
         ) // 1000 AS term_score_e9
  FROM apost p JOIN aqt USING (token) JOIN atdf t USING (token)
       JOIN adl d USING (href), astats s),
abm AS (
  SELECT q_id, href, cast(sum(term_score_e9) as bigint) AS score_e9,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY sum(term_score_e9) DESC, href) AS rank
  FROM ascored GROUP BY q_id, href)
SELECT cast(q_id as bigint) AS q_id, href, score_e9,
       cast(rank as bigint) AS rank
FROM abm WHERE rank <= {C.FTS_TOPK}"""

ORACLE_SQL["html_canonical_dups"] = f"""
WITH canon AS (
  SELECT cast(doc_id as varchar) AS doc_id,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS canonical
  FROM documents)
SELECT canonical, cast(count(*) as bigint) AS n_pages,
       min(doc_id) AS keeper_doc_id
FROM canon GROUP BY canonical HAVING count(*) > 1"""

ORACLE_SQL["html_content_dups"] = f"""
WITH {_HTML_META},
ch AS (
  SELECT doc_id,
         md5(coalesce(string_agg(ptext, chr(10) ORDER BY i)
                        FILTER (WHERE {_HTML_KEEP}), '')) AS content_hash
  FROM ht GROUP BY doc_id)
SELECT content_hash, cast(count(*) as bigint) AS n_pages,
       min(cast(doc_id as varchar)) AS keeper_doc_id
FROM ch WHERE content_hash <> md5('')
GROUP BY content_hash HAVING count(*) > 1"""

# corpus-LEVEL block dedup (CCNet paragraph dedup / RefinedWeb line-wise
# dedup): a kept block recurring in >= MIN_DOCS distinct docs is dropped
# everywhere. The content hash is a hash OF BLOCK HASHES in paragraph
# order — the exact form the Spark side computes so text never shuffles
ORACLE_SQL["html_block_dedup"] = f"""
WITH {_HTML_META},
kept AS (
  SELECT doc_id, i, md5(ptext) AS bh, length(ptext) AS nc
  FROM ht WHERE {_HTML_KEEP}),
freq AS (
  SELECT bh, count(DISTINCT doc_id) AS nd FROM kept GROUP BY bh),
j AS (
  SELECT k.doc_id, k.i, k.bh, k.nc,
         (f.nd >= {C.HTML_BLOCKDUP_MIN_DOCS}) AS dup
  FROM kept k JOIN freq f USING (bh))
SELECT cast(doc_id as varchar) AS doc_id,
       cast(count(*) as bigint) AS n_blocks,
       cast(sum(CASE WHEN dup THEN 1 ELSE 0 END) as bigint) AS n_dropped,
       cast(sum(CASE WHEN dup THEN 0 ELSE nc END) as bigint) AS n_chars_kept,
       md5(coalesce(string_agg(bh, '' ORDER BY i) FILTER (WHERE NOT dup),
                    '')) AS content_hash
FROM j GROUP BY doc_id"""

# near-dup over EXTRACTED main content: the minhash/LSH arithmetic verbatim
# (shared _sh_cte_src / sig / band builders), pointed at the main-text
# derivation instead of raw documents — chrome cannot create or mask pairs
ORACLE_SQL["html_near_dups"] = f"""
WITH {_HTML_META},
mt AS (
  SELECT cast(hc.doc_id as varchar) AS doc_id,
         coalesce(string_agg(ht.ptext, chr(10) ORDER BY ht.i)
                    FILTER (WHERE {_HTML_KEEP}), '') AS text
  FROM hc LEFT JOIN ht ON hc.doc_id = ht.doc_id
  GROUP BY hc.doc_id),{_sh_cte_src("mt")},{_minhash_sig_sql()},
bands AS ({_band_union_sql()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band, val)
WHERE a.doc_id < b.doc_id"""

# the crawl -> corpus attrition funnel: every stage count reuses a
# derivation an individual oracle already pins (gate winners, content
# hashes, the minhash band join) — composed in one WITH, 1-row output
ORACLE_SQL["corpus_funnel"] = f"""
WITH {_HTML_META},
ag AS (
  SELECT hc.doc_id,
         md5(coalesce(string_agg(ht.ptext, chr(10) ORDER BY ht.i)
                        FILTER (WHERE {_HTML_KEEP}), '')) AS content_hash,
         cast(coalesce(sum(CASE WHEN {_HTML_KEEP} THEN length(ht.ptext)
                           ELSE 0 END), 0) as bigint) AS chars_main
  FROM hc LEFT JOIN ht ON hc.doc_id = ht.doc_id
  GROUP BY hc.doc_id),
pages AS (
  SELECT cast(ag.doc_id as varchar) AS sid,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(ag.doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS canonical,
         {_synth_ts_sql('ag.doc_id')} AS ts,
         (ag.doc_id % {C.HTML_NOINDEX_EVERY} = {C.HTML_NOINDEX_PHASE})
           AS noindex,
         ag.chars_main, ag.content_hash
  FROM ag),
r AS (
  SELECT pages.*,
         row_number() OVER (PARTITION BY canonical
                            ORDER BY ts DESC, sid DESC) AS rn
  FROM pages),
win AS (SELECT * FROM r WHERE rn = 1 AND NOT noindex AND chars_main > 0),
mt AS (
  SELECT cast(hc.doc_id as varchar) AS doc_id,
         coalesce(string_agg(ht.ptext, chr(10) ORDER BY ht.i)
                    FILTER (WHERE {_HTML_KEEP}), '') AS text
  FROM hc LEFT JOIN ht ON hc.doc_id = ht.doc_id
  GROUP BY hc.doc_id),{_sh_cte_src("mt")},{_minhash_sig_sql()},
bands AS ({_band_union_sql()}),
prs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b USING (band, val)
  WHERE a.doc_id < b.doc_id)
SELECT cast((SELECT count(*) FROM documents) as bigint) AS n_pages,
       cast((SELECT count(DISTINCT canonical) FROM pages) as bigint) AS n_urls,
       cast((SELECT count(*) FROM win) as bigint) AS n_indexable,
       cast((SELECT count(DISTINCT content_hash) FROM win) as bigint)
         AS n_unique_main,
       cast((SELECT count(*) FROM prs) as bigint) AS n_near_dup_pairs"""

# the capstone emission: keep-latest winners -> content-dedup keeper ->
# token-budget shard manifest, replayed stage by stage from raw text
ORACLE_SQL["crawl_to_shards"] = f"""
WITH {_HTML_META},
ag AS (
  SELECT hc.doc_id,
         md5(coalesce(string_agg(ht.ptext, chr(10) ORDER BY ht.i)
                        FILTER (WHERE {_HTML_KEEP}), '')) AS content_hash,
         coalesce(string_agg(ht.ptext, chr(10) ORDER BY ht.i)
                    FILTER (WHERE {_HTML_KEEP}), '') AS text,
         cast(coalesce(sum(CASE WHEN {_HTML_KEEP} THEN length(ht.ptext)
                           ELSE 0 END), 0) as bigint) AS chars_main
  FROM hc LEFT JOIN ht ON hc.doc_id = ht.doc_id
  GROUP BY hc.doc_id),
pages AS (
  SELECT ag.doc_id AS did, cast(ag.doc_id as varchar) AS sid,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(ag.doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS canonical,
         {_synth_ts_sql('ag.doc_id')} AS ts,
         (ag.doc_id % {C.HTML_NOINDEX_EVERY} = {C.HTML_NOINDEX_PHASE})
           AS noindex,
         ag.chars_main, ag.content_hash, ag.text
  FROM ag),
r AS (
  SELECT pages.*,
         row_number() OVER (PARTITION BY canonical
                            ORDER BY ts DESC, sid DESC) AS rn
  FROM pages),
win AS (SELECT * FROM r WHERE rn = 1 AND NOT noindex AND chars_main > 0),
keep AS (SELECT content_hash, min(canonical) AS canonical
         FROM win GROUP BY content_hash),
kd AS (SELECT cast(w.did as bigint) AS doc_id, w.canonical, w.text
       FROM win w JOIN keep k ON w.canonical = k.canonical),
t AS (SELECT doc_id, canonical,
             cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
                  as bigint) AS n_tokens
      FROM kd)
SELECT doc_id, canonical, n_tokens,
       cast(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {C.PACK_TOKEN_BUDGET}) as bigint) AS shard_id
FROM t"""

# recrawl keep-latest: the canonical target is doc_id % MOD arithmetic
# (generator), the fetch timestamp the doc_listing_full created_at model;
# the winner is the row_number-1 row under (ts DESC, doc_id-string DESC) —
# the same total order the Spark side's max-struct computes. Ties on ts
# break on the STRING form of doc_id in BOTH engines.
ORACLE_SQL["crawl_keep_latest"] = f"""
WITH canon AS (
  SELECT cast(doc_id as varchar) AS sid,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS canonical,
         {_synth_ts_sql('doc_id')} AS ts
  FROM documents),
r AS (
  SELECT canonical, sid, ts,
         row_number() OVER (PARTITION BY canonical
                            ORDER BY ts DESC, sid DESC) AS rn,
         cast(count(*) OVER (PARTITION BY canonical) as bigint) AS c
  FROM canon)
SELECT canonical, c AS n_crawls, sid AS latest_doc_id,
       ts AS latest_fetched_at_ts, cast(c - 1 as bigint) AS n_superseded
FROM r WHERE rn = 1"""

# crawl -> indexable corpus: the keep-latest winner per canonical, then
# the policy gate on the WINNER (noindex cadence arithmetic + extracted
# main-content chars > 0, chars replaying the keep rule like the report)
ORACLE_SQL["crawl_corpus"] = f"""
WITH {_HTML_META},
agg AS (
  SELECT doc_id,
         sum(CASE WHEN {_HTML_KEEP} THEN length(ptext) ELSE 0 END)
           AS chars_main
  FROM ht GROUP BY doc_id),
pages AS (
  SELECT cast(hc.doc_id as varchar) AS sid,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(hc.doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS canonical,
         {_synth_ts_sql('hc.doc_id')} AS ts,
         (hc.doc_id % {C.HTML_NOINDEX_EVERY} = {C.HTML_NOINDEX_PHASE})
           AS noindex,
         cast(coalesce(agg.chars_main, 0) as bigint) AS chars_main
  FROM hc LEFT JOIN agg ON hc.doc_id = agg.doc_id),
r AS (
  SELECT pages.*,
         row_number() OVER (PARTITION BY canonical
                            ORDER BY ts DESC, sid DESC) AS rn,
         cast(count(*) OVER (PARTITION BY canonical) as bigint) AS c
  FROM pages)
SELECT canonical, sid AS doc_id, ts AS fetched_at_ts,
       chars_main AS n_chars_main, c AS n_crawls
FROM r WHERE rn = 1 AND NOT noindex AND chars_main > 0"""

# recrawl change detection: content hash per fetch from the paragraph
# arithmetic (html_content_dups' ch CTE), canonical + fetch time from the
# doc_id arithmetic, latest/previous under the SAME (ts DESC, sid DESC)
# total order as crawl_keep_latest; count(distinct) over a window is
# native DuckDB, the Spark side sizes a collect_set
ORACLE_SQL["recrawl_change_rate"] = f"""
WITH {_HTML_META},
ch AS (
  SELECT hc.doc_id,
         md5(coalesce(string_agg(ht.ptext, chr(10) ORDER BY ht.i)
                        FILTER (WHERE {_HTML_KEEP}), '')) AS content_hash
  FROM hc LEFT JOIN ht ON hc.doc_id = ht.doc_id
  GROUP BY hc.doc_id),
pages AS (
  SELECT cast(ch.doc_id as varchar) AS sid,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(ch.doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS canonical,
         {_synth_ts_sql('ch.doc_id')} AS ts,
         ch.content_hash
  FROM ch),
r AS (
  SELECT canonical, content_hash,
         row_number() OVER (PARTITION BY canonical
                            ORDER BY ts DESC, sid DESC) AS rn,
         lead(content_hash) OVER (PARTITION BY canonical
                                  ORDER BY ts DESC, sid DESC) AS prev_hash,
         cast(count(*) OVER (PARTITION BY canonical) as bigint) AS n_crawls,
         cast(count(DISTINCT content_hash)
              OVER (PARTITION BY canonical) as bigint) AS n_versions
  FROM pages)
SELECT canonical, n_crawls, n_versions,
       (prev_hash IS NOT NULL AND prev_hash <> content_hash)
         AS latest_changed,
       cast(((n_versions - 1) * 1000000)
            // greatest(n_crawls - 1, 1) as bigint) AS change_ratio_e6
FROM r WHERE rn = 1"""

# the site link graph: in-main /ref/{i} links resolved to the canonical of
# article i % MOD (the fixture URL-resolution rule), src = the page's own
# canonical; weight = occurrence count, self-loops dropped
_PR_EDGES = f"""
ctr AS (
  SELECT doc_id, i, {_HTML_KEEP} AS kept
  FROM ht WHERE link_chars > 0),
edges0 AS (
  SELECT '{C.HTML_CANONICAL_PREFIX}'
           || cast(doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS src,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(i % {C.HTML_CANONICAL_MOD} as varchar) AS dst
  FROM ctr WHERE kept),
e AS (
  SELECT src, dst, cast(count(*) as bigint) AS n
  FROM edges0 WHERE src <> dst GROUP BY src, dst)"""

ORACLE_SQL["site_link_graph"] = f"""
WITH {_HTML_META},
{_PR_EDGES}
SELECT src, dst, n FROM e"""

# fixed-point integer PageRank, PR_ITERS iterations unrolled — an
# independent (straight-line SQL) evaluation of the same recurrence the
# Spark side iterates: pr0 = SCALE; s_k(v) = sum (pr_{{k-1}}(u) * n) // outw(u);
# pr_k = BASE + (DAMP_NUM * s_k) // DAMP_DEN.  All positive int64: DuckDB
# `//` (floor) == Spark `div` (truncate).  window sum() returns HUGEINT —
# cast at every aggregation (sharp-edges rule).
_PR_ITER = lambda k: f"""
s{k} AS (
  SELECT ew.dst, cast(sum((pr{k - 1}.pr * ew.n) // ew.outw) as bigint) AS s
  FROM ew JOIN pr{k - 1} ON ew.src = pr{k - 1}.node GROUP BY ew.dst),
pr{k} AS (
  SELECT nodes.node,
         cast({C.PR_BASE} + ({C.PR_DAMP_NUM} * coalesce(s{k}.s, 0))
              // {C.PR_DAMP_DEN} as bigint) AS pr
  FROM nodes LEFT JOIN s{k} ON nodes.node = s{k}.dst)"""

_PR_CHAIN = f"""{_PR_EDGES},
outw AS (SELECT src, cast(sum(n) as bigint) AS outw FROM e GROUP BY src),
ew AS (SELECT e.src, e.dst, e.n, outw.outw
       FROM e JOIN outw ON e.src = outw.src),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
pr0 AS (SELECT node, cast({C.PR_SCALE} as bigint) AS pr FROM nodes),
{",".join(_PR_ITER(k) for k in range(1, C.PR_ITERS + 1))}"""

ORACLE_SQL["link_pagerank"] = f"""
WITH {_HTML_META},
{_PR_CHAIN}
SELECT node, pr FROM pr{C.PR_ITERS}"""

# fixed-point integer HITS, HITS_ITERS iterations unrolled — same
# independent straight-line-SQL device as link_pagerank.  Per half-step:
# raw mass = sum(score * n) over edges, renormalized so the step max maps
# to HITS_SCALE.  All non-negative int64: `//` == Spark `div`; hugeint
# sums cast at every aggregation (sharp-edges rule).
_HITS_ITER = lambda k: f"""
ar{k} AS MATERIALIZED (
  SELECT e.dst, cast(sum(h{k - 1}.hub * e.n) as bigint) AS s
  FROM e JOIN h{k - 1} ON e.src = h{k - 1}.node GROUP BY e.dst),
am{k} AS MATERIALIZED (SELECT cast(greatest(max(s), 1) as bigint) AS mx FROM ar{k}),
a{k} AS MATERIALIZED (
  SELECT nodes.node,
         cast(({C.HITS_SCALE} * coalesce(ar{k}.s, 0)) // am{k}.mx as bigint)
           AS auth
  FROM nodes LEFT JOIN ar{k} ON nodes.node = ar{k}.dst, am{k}),
hr{k} AS MATERIALIZED (
  SELECT e.src, cast(sum(a{k}.auth * e.n) as bigint) AS s
  FROM e JOIN a{k} ON e.dst = a{k}.node GROUP BY e.src),
hm{k} AS MATERIALIZED (SELECT cast(greatest(max(s), 1) as bigint) AS mx FROM hr{k}),
h{k} AS MATERIALIZED (
  SELECT nodes.node,
         cast(({C.HITS_SCALE} * coalesce(hr{k}.s, 0)) // hm{k}.mx as bigint)
           AS hub
  FROM nodes LEFT JOIN hr{k} ON nodes.node = hr{k}.src, hm{k})"""

ORACLE_SQL["link_hits"] = f"""
WITH {_HTML_META},
{_PR_EDGES},
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS MATERIALIZED (SELECT node, cast({C.HITS_SCALE} as bigint) AS hub FROM nodes),
{",".join(_HITS_ITER(k) for k in range(1, C.HITS_ITERS + 1))}
SELECT nodes.node, h{C.HITS_ITERS}.hub, a{C.HITS_ITERS}.auth
FROM nodes JOIN h{C.HITS_ITERS} USING (node) JOIN a{C.HITS_ITERS} USING (node)"""

# the frontier composition: keep-latest winner + policy gate (crawl_corpus
# arithmetic) x change ratio (recrawl_change_rate arithmetic) x pagerank
# (the unrolled chain) — all three signals re-derived from raw text in one
# WITH, joined on canonical exactly as the Spark side joins the summaries
ORACLE_SQL["crawl_frontier"] = f"""
WITH {_HTML_META},
{_PR_CHAIN},
ag AS (
  SELECT hc.doc_id,
         md5(coalesce(string_agg(ht.ptext, chr(10) ORDER BY ht.i)
                        FILTER (WHERE {_HTML_KEEP}), '')) AS content_hash,
         cast(coalesce(sum(CASE WHEN {_HTML_KEEP} THEN length(ht.ptext)
                           ELSE 0 END), 0) as bigint) AS chars_main
  FROM hc LEFT JOIN ht ON hc.doc_id = ht.doc_id
  GROUP BY hc.doc_id),
pages AS (
  SELECT cast(ag.doc_id as varchar) AS sid,
         '{C.HTML_CANONICAL_PREFIX}'
           || cast(ag.doc_id % {C.HTML_CANONICAL_MOD} as varchar) AS canonical,
         {_synth_ts_sql('ag.doc_id')} AS ts,
         (ag.doc_id % {C.HTML_NOINDEX_EVERY} = {C.HTML_NOINDEX_PHASE})
           AS noindex,
         ag.chars_main, ag.content_hash
  FROM ag),
rw AS (
  SELECT pages.*,
         row_number() OVER (PARTITION BY canonical
                            ORDER BY ts DESC, sid DESC) AS rn,
         cast(count(*) OVER (PARTITION BY canonical) as bigint) AS n_crawls,
         cast(count(DISTINCT content_hash)
              OVER (PARTITION BY canonical) as bigint) AS n_versions
  FROM pages),
win AS (
  SELECT canonical, n_crawls,
         cast(((n_versions - 1) * 1000000)
              // greatest(n_crawls - 1, 1) as bigint) AS change_ratio_e6
  FROM rw WHERE rn = 1 AND NOT noindex AND chars_main > 0)
SELECT win.canonical, win.n_crawls,
       cast(coalesce(p.pr, {C.PR_BASE}) as bigint) AS pr,
       win.change_ratio_e6,
       cast((coalesce(p.pr, {C.PR_BASE})
             * ({C.FRONTIER_CHANGE_BASE} + win.change_ratio_e6))
            // {C.FRONTIER_CHANGE_BASE} as bigint) AS priority
FROM win LEFT JOIN pr{C.PR_ITERS} p ON win.canonical = p.node"""

# politeness scheduling: the frontier sequenced into per-host fetch waves
# (one in-flight fetch per host), depth-capped per contract
ORACLE_SQL["frontier_schedule"] = f"""
WITH f AS ({ORACLE_SQL["crawl_frontier"]}),
h AS (SELECT canonical, priority,
             regexp_extract(canonical, '{C.FRONTIER_HOST_RE}', 1) AS host
      FROM f),
w AS (SELECT *, cast(row_number() OVER (PARTITION BY host
             ORDER BY priority DESC, canonical) as bigint) AS wave
      FROM h)
SELECT canonical, host, priority, wave FROM w
WHERE wave <= {C.FRONTIER_HOST_DEPTH}"""

# link in-degree: every page contributes the fixed chrome links (nav,
# sidebar, cookie banner, share strip) plus the cadence-triggered /ref/i
# content links; in_main replays the keep rule exactly as html_links does
ORACLE_SQL["link_in_degree"] = f"""
WITH {_HTML_META},
ctr AS (
  SELECT doc_id, i, {_HTML_KEEP} AS kept
  FROM ht WHERE link_chars > 0),
alll AS (
  SELECT v.href, false AS in_main
  FROM hc CROSS JOIN (VALUES {_HTML_FIXED_LINKS}) v(k, href)
  UNION ALL
  SELECT '/ref/' || cast(i as varchar) AS href, kept AS in_main FROM ctr
  UNION ALL
  SELECT v.href, false AS in_main
  FROM hc CROSS JOIN (VALUES (0, '#s'), (1, '#t')) v(k, href))
SELECT href, cast(count(*) as bigint) AS n_inlinks,
       cast(sum(CASE WHEN in_main THEN 1 ELSE 0 END) as bigint)
         AS n_inlinks_main
FROM alll GROUP BY href"""

# --- all-kNN join (operators/search.py knn_join): every vector's KNN_K
# nearest neighbors, IVF-blocked — ONE ranked (vector, centroid) frame
# yields both the rn=1 inverted-list assignment and the rn<=IVF_PROBE
# probe set; candidates meet queries only inside probed lists.  The
# oracle replays the identical blocking (it is part of the contract:
# IVF-kNN is approximate, so the block structure IS the semantics).
def _knn_ctes(knn_k: int) -> str:
    return f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
scored AS (
  SELECT c.vec_id, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
ranked AS MATERIALIZED (
  SELECT vec_id, ev, cent_id, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn <= {C.IVF_PROBE}),
assigned AS (SELECT cent_id, vec_id AS nb_id, ev AS nv
             FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, ev AS pqv, cent_id FROM ranked),
pairs AS (
  SELECT q_id, nb_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> pqv[i] * nv[i])) as bigint) AS dot_e12
  FROM probes JOIN assigned USING (cent_id)
  WHERE q_id <> nb_id),
g AS MATERIALIZED (
  SELECT q_id, nb_id, rank, dot_e12
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY dot_e12 DESC, nb_id) AS rank
        FROM pairs)
  WHERE rank <= {knn_k})"""


def _mutual_cte(knn_k: int) -> str:
    """mutual-kNN edge set over g: (a, b) survives iff the edge exists in
    BOTH directions; canonical a < b, dot from the forward edge."""
    return (
        _knn_ctes(knn_k)
        + """,
mutual AS (
  SELECT a.q_id AS vec_a, a.nb_id AS vec_b, a.dot_e12
  FROM g a JOIN g b ON b.q_id = a.nb_id AND b.nb_id = a.q_id
  WHERE a.q_id < a.nb_id)"""
    )


ORACLE_SQL["knn_join"] = _knn_ctes(C.KNN_K) + """
SELECT cast(q_id as bigint) AS q_id, cast(nb_id as bigint) AS nb_id,
       cast(rank as bigint) AS rank, dot_e12 FROM g"""

ORACLE_SQL["mutual_knn_pairs"] = _mutual_cte(C.KNN_K) + """
SELECT cast(vec_a as bigint) AS vec_a, cast(vec_b as bigint) AS vec_b,
       dot_e12 FROM mutual"""

# margin-based bitext mining (operators/search.py bitext_margin_pairs):
# the knn_join blocking with a label%2 side split; pairs cross sides
# only, per-anchor top-K fold, distance margin 2k*dot - fwd_sum -
# bwd_sum (all-integer scaled avg margin), mutual-best flag.  sum() is
# HUGEINT in DuckDB — cast back to bigint (CLAUDE.md sharp edge).
ORACLE_SQL["bitext_margin_pairs"] = f"""
WITH c AS (SELECT vec_id, cast(label as bigint) % 2 AS side, {_FP_VEC} AS ev
           FROM embeddings),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
scored AS (
  SELECT c.vec_id, c.side, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
ranked AS (
  SELECT vec_id, side, ev, cent_id, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn <= {C.IVF_PROBE}),
assigned AS (SELECT cent_id, vec_id AS nb_id, side AS nb_side, ev AS nv
             FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id AS q_id, side AS q_side, ev AS pqv, cent_id
           FROM ranked),
pairs AS (
  SELECT q_id, q_side, nb_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> pqv[i] * nv[i])) as bigint) AS dot_e12
  FROM probes JOIN assigned USING (cent_id)
  WHERE q_side <> nb_side),
t AS (
  SELECT q_id, q_side, nb_id, dot_e12, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY dot_e12 DESC, nb_id) AS rank
    FROM pairs) WHERE rank <= {C.KNN_K}),
agg AS (
  SELECT q_id, q_side,
         cast(sum(dot_e12) as bigint) AS sum_e12,
         cast(max(CASE WHEN rank = 1 THEN nb_id END) as bigint) AS best_nb,
         cast(max(CASE WHEN rank = 1 THEN dot_e12 END) as bigint) AS best_dot
  FROM t GROUP BY 1, 2)
SELECT f.q_id AS src_id, f.best_nb AS tgt_id, f.best_dot AS dot_e12,
       f.sum_e12 AS fwd_sum_e12, b.sum_e12 AS bwd_sum_e12,
       cast({2 * C.KNN_K} as bigint) * f.best_dot - f.sum_e12 - b.sum_e12
         AS margin2k_e12,
       coalesce(b.best_nb = f.q_id, false) AS is_mutual
FROM (SELECT * FROM agg WHERE q_side = 0) f
LEFT JOIN (SELECT * FROM agg WHERE q_side = 1) b ON b.q_id = f.best_nb"""

# SemDeDup-style graph dedup: connected components over the RECIPROCAL
# nearest-neighbor edges (k = KNN_DEDUP_K = 1, the best-buddies
# criterion) — recursive transitive closure, the dedup_clusters oracle
# tail (an independent algorithm from the engine's large-star/small-star)
ORACLE_SQL["knn_dedup_clusters"] = (
    _mutual_cte(C.KNN_DEDUP_K).replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    + """,
kedges AS (SELECT vec_a AS src, vec_b AS dst FROM mutual
           UNION SELECT vec_b AS src, vec_a AS dst FROM mutual),
kreach AS (
  SELECT src, src AS dst FROM (SELECT DISTINCT src FROM kedges) t
  UNION
  SELECT r.src, e.dst FROM kreach r JOIN kedges e ON r.dst = e.src)
SELECT cast(src as bigint) AS doc_id,
       cast(min(dst) as bigint) AS cluster_rep,
       (src = min(dst)) AS is_keeper
FROM kreach GROUP BY src"""
)

# --- MMR diversified re-ranking (operators/search.py mmr_topk): greedy
# over the relevance top-MMR_POOL shortlist, score = MMR_LAMBDA_NUM *
# rel - MMR_LAMBDA_COMP * max_sim(selected); first pick ms = 0 by
# contract.  The greedy is unrolled — MMR_K explicit rounds, each pick
# re-derived from the pool minus the previous picks; integer throughout,
# ties to the smaller vec_id, so the sequence is bit-stable.
def _mmr_sql() -> str:
    dot_se = (
        f"cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}), "
        f"i -> po.ev[i] * se.ev[i])) as bigint)"
    )
    parts = [
        f"""WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
q AS (SELECT {_FP_VEC} AS qv FROM embeddings WHERE vec_id = 0),
pool AS MATERIALIZED (SELECT vec_id, ev, {_DOT} AS rel
         FROM c, q ORDER BY rel DESC, vec_id LIMIT {C.MMR_POOL}),
p1 AS MATERIALIZED (SELECT cast(1 as bigint) AS rank, vec_id, ev, rel,
              cast(0 as bigint) AS ms,
              cast({C.MMR_LAMBDA_NUM} as bigint) * rel AS score
       FROM pool ORDER BY score DESC, vec_id LIMIT 1)"""
    ]
    for k in range(2, C.MMR_K + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id, ev FROM p{i}" for i in range(1, k)
        )
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT cast({k} as bigint) AS rank, po.vec_id, po.ev, po.rel, m.ms,
         cast({C.MMR_LAMBDA_NUM} as bigint) * po.rel
           - cast({C.MMR_LAMBDA_COMP} as bigint) * m.ms AS score
  FROM pool po
  JOIN (SELECT po.vec_id, max({dot_se}) AS ms
        FROM pool po, ({sel}) se GROUP BY po.vec_id) m USING (vec_id)
  WHERE po.vec_id NOT IN (SELECT vec_id FROM ({sel}))
  ORDER BY score DESC, po.vec_id LIMIT 1)"""
        )
    final = " UNION ALL ".join(
        f"SELECT rank, vec_id, rel, ms, score FROM p{i}"
        for i in range(1, C.MMR_K + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT rank, cast(vec_id as bigint) AS vec_id, rel AS rel_e12,
       ms AS max_sim_e12, score AS mmr_score
FROM ({final})"""
    )


ORACLE_SQL["mmr_topk"] = _mmr_sql()

# --- kNN label propagation (operators/search.py knn_classify): seeds =
# vec_id % KNN_SEED_MOD == 0 carry labels; every other vector votes over
# its KNN_CLASSIFY_K nearest seeds inside its IVF probe lists.  The CTE
# prefix is knn_join's blocking with the candidate side restricted to
# seeds; the vote argmax mirrors the Spark (n_votes desc, label asc)
# row_number exactly.
_KNN_CLS_CTES = f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
lab AS (SELECT vec_id, cast(label as bigint) AS label FROM embeddings),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
scored AS (
  SELECT c.vec_id, c.ev, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
ranked AS (
  SELECT vec_id, ev, cent_id, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn <= {C.IVF_PROBE}),
seeds AS (
  SELECT r.cent_id, r.vec_id AS nb_id, r.ev AS nv, lab.label AS nb_label
  FROM ranked r JOIN lab ON lab.vec_id = r.vec_id
  WHERE r.rn = 1 AND r.vec_id % {C.KNN_SEED_MOD} = 0),
probes AS (
  SELECT vec_id AS q_id, ev AS pqv, cent_id FROM ranked
  WHERE vec_id % {C.KNN_SEED_MOD} <> 0),
pairs AS (
  SELECT q_id, nb_id, nb_label,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> pqv[i] * nv[i])) as bigint) AS dot
  FROM probes JOIN seeds USING (cent_id)),
topk AS (
  SELECT q_id, nb_label FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY dot DESC, nb_id) AS r
    FROM pairs) WHERE r <= {C.KNN_CLASSIFY_K}),
votes AS (
  SELECT q_id, nb_label, cast(count(*) as bigint) AS n_votes
  FROM topk GROUP BY q_id, nb_label),
pred AS (
  SELECT q_id AS vec_id, nb_label AS pred_label, n_votes FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY n_votes DESC, nb_label) AS vr
    FROM votes) WHERE vr = 1),
cls AS (
  SELECT cast(p.vec_id as bigint) AS vec_id, p.pred_label, p.n_votes,
         lab.label AS true_label,
         cast(CASE WHEN p.pred_label = lab.label THEN 1 ELSE 0 END
              as bigint) AS correct
  FROM pred p JOIN lab ON lab.vec_id = p.vec_id)"""

ORACLE_SQL["knn_classify"] = _KNN_CLS_CTES + """
SELECT vec_id, pred_label, n_votes, true_label, correct FROM cls"""

ORACLE_SQL["knn_classify_accuracy"] = _KNN_CLS_CTES + """
SELECT true_label,
       cast(count(*) as bigint) AS n_classified,
       cast(sum(correct) as bigint) AS n_correct,
       cast(sum(correct) * 1000000 // count(*) as bigint) AS accuracy_micro
FROM cls GROUP BY true_label"""

# --- cluster topic labels (operators/kmeans.py cluster_topics): top-K
# TF-IDF terms per TRAINED embedding cluster, each cluster one
# super-document.  Oracle = the unrolled Lloyd rounds (the
# ivf_topk_trained precedent) + the tfidf_topk_terms scoring re-keyed by
# cluster; n = number of non-empty clusters.
_CLUSTER_CTES = f"""
WITH {_kmeans_ctes()},
sF AS (
  SELECT c.vec_id, t.cent_id,
         cast(list_sum(list_transform(t.cv, x -> x * x)) as bigint)
         - 2 * cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
               i -> c.ev[i] * t.cv[i])) as bigint) AS d
  FROM c, {_KM_FINAL} t),
aF AS (
  SELECT vec_id, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, cent_id) AS rn
    FROM sF) WHERE rn = 1),
tok AS (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}')) AS token
        FROM documents),
post AS (SELECT doc_id, token, count(*) AS tf FROM tok
         WHERE token <> '' GROUP BY 1, 2),
cpost AS (SELECT a.cent_id, p.token, cast(sum(p.tf) as bigint) AS tf
          FROM post p JOIN aF a ON a.vec_id = p.doc_id GROUP BY 1, 2),
ncl AS (SELECT count(distinct cent_id) AS n FROM aF)"""

ORACLE_SQL["cluster_topics"] = _CLUSTER_CTES + f""",
tdf AS (SELECT token, count(*) AS df FROM cpost GROUP BY 1),
sc AS (SELECT cent_id, cpost.token, tf, df,
              least((1000000 * (2*(SELECT n FROM ncl) - 2*df + 1))
                    // (2*df + 1), {C.FTS_IDF_CAP_E6})
              * least(tf, {C.FTS_TF_CAP}) AS tfidf_e6
       FROM cpost JOIN tdf USING (token))
SELECT cast(cent_id as bigint) AS cluster_id, token,
       cast(tf as bigint) AS tf, cast(df as bigint) AS df,
       cast(tfidf_e6 as bigint) AS tfidf_e6, cast(rank as bigint) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY cent_id
                                   ORDER BY tfidf_e6 DESC, token) AS rank
      FROM sc)
WHERE rank <= {C.TFIDF_TOPK}"""

ORACLE_SQL["cluster_summary"] = _CLUSTER_CTES + """
SELECT cast(a.cent_id as bigint) AS cluster_id,
       cast(count(*) as bigint) AS n_docs,
       cast(coalesce((SELECT sum(tf) FROM cpost cp
                      WHERE cp.cent_id = a.cent_id), 0) as bigint) AS n_tokens
FROM aF a GROUP BY a.cent_id"""

# --- IVF index-health report (operators/search.py ivf_stats): list
# populations + share/load factors over the rn=1 assignment
ORACLE_SQL["ivf_stats"] = f"""
WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
cents AS (SELECT vec_id AS cent_id, {_FP_VEC} AS cv FROM embeddings
          WHERE vec_id < {C.IVF_CENTROIDS}),
scored AS (
  SELECT c.vec_id, cents.cent_id,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * cv[i])) as bigint) AS cdot
  FROM c, cents),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id) AS rn
    FROM scored) WHERE rn = 1),
sizes AS (SELECT cent_id, cast(count(*) as bigint) AS n_vectors
          FROM assigned GROUP BY 1),
tot AS (SELECT cast(sum(n_vectors) as bigint) AS total,
               cast(count(*) as bigint) AS n_lists FROM sizes)
SELECT cast(cent_id as bigint) AS cent_id, n_vectors,
       cast(n_vectors * 1000000 // total as bigint) AS share_micro,
       cast(n_vectors * n_lists * 1000000 // total as bigint) AS load_micro
FROM sizes, tot"""

# --- batch MMR (operators/search.py mmr_topk_multi): the single-query
# unrolled recurrence generalized with a per-q_id QUALIFY argmax per
# round; selection sequences == mmr_topk run per query.
def _mmr_multi_sql() -> str:
    dot_se = (
        f"cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}), "
        f"i -> po.ev[i] * se.ev[i])) as bigint)"
    )
    parts = [
        f"""WITH c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
qs AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
       WHERE vec_id < {C.MULTI_QUERY_N}),
scored AS (
  SELECT qs.q_id, c.vec_id, c.ev,
         cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
              i -> ev[i] * qv[i])) as bigint) AS rel
  FROM c, qs),
pool AS MATERIALIZED (
  SELECT q_id, vec_id, ev, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY rel DESC, vec_id) AS rn
    FROM scored) WHERE rn <= {C.MMR_POOL}),
p1 AS MATERIALIZED (
  SELECT q_id, cast(1 as bigint) AS rank, vec_id, ev, rel,
         cast(0 as bigint) AS ms,
         cast({C.MMR_LAMBDA_NUM} as bigint) * rel AS score
  FROM pool
  QUALIFY row_number() OVER (PARTITION BY q_id
                             ORDER BY score DESC, vec_id) = 1)"""
    ]
    for k in range(2, C.MMR_K + 1):
        sel = " UNION ALL ".join(
            f"SELECT q_id, vec_id, ev FROM p{i}" for i in range(1, k)
        )
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT po.q_id, cast({k} as bigint) AS rank, po.vec_id, po.ev, po.rel,
         m.ms,
         cast({C.MMR_LAMBDA_NUM} as bigint) * po.rel
           - cast({C.MMR_LAMBDA_COMP} as bigint) * m.ms AS score
  FROM pool po
  JOIN (SELECT po.q_id, po.vec_id, max({dot_se}) AS ms
        FROM pool po JOIN ({sel}) se ON se.q_id = po.q_id
        GROUP BY po.q_id, po.vec_id) m
    ON m.q_id = po.q_id AND m.vec_id = po.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM ({sel}) s
                    WHERE s.q_id = po.q_id AND s.vec_id = po.vec_id)
  QUALIFY row_number() OVER (PARTITION BY po.q_id
                             ORDER BY score DESC, po.vec_id) = 1)"""
        )
    final = " UNION ALL ".join(
        f"SELECT q_id, rank, vec_id, rel, ms, score FROM p{i}"
        for i in range(1, C.MMR_K + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT cast(q_id as bigint) AS q_id, rank,
       cast(vec_id as bigint) AS vec_id, rel AS rel_e12,
       ms AS max_sim_e12, score AS mmr_score
FROM ({final})"""
    )


ORACLE_SQL["mmr_topk_multi"] = _mmr_multi_sql()

# --- kNN graph recall (operators/search.py knn_recall): one row — edge
# recall of the IVF-blocked graph vs the exact O(n^2) ground truth,
# plus rank-1 recall.  The brute CTE is the yardstick twin (the
# ngram_jaccard-brute precedent).
ORACLE_SQL["knn_recall"] = _knn_ctes(C.KNN_K) + f""",
call AS (SELECT a.vec_id AS q_id, b.vec_id AS nb_id,
                cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}),
                     i -> a.ev[i] * b.ev[i])) as bigint) AS dot_e12
         FROM c a JOIN c b ON a.vec_id <> b.vec_id),
bg AS (
  SELECT q_id, nb_id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY dot_e12 DESC, nb_id) AS rank
    FROM call)
  WHERE rank <= {C.KNN_K}),
hits AS (SELECT bg.q_id, bg.nb_id FROM bg JOIN g
         ON g.q_id = bg.q_id AND g.nb_id = bg.nb_id),
h1 AS (SELECT bg.q_id FROM bg JOIN g
       ON g.q_id = bg.q_id AND g.nb_id = bg.nb_id
       WHERE bg.rank = 1 AND g.rank = 1)
SELECT cast((SELECT count(distinct q_id) FROM bg) as bigint) AS n_queries,
       cast((SELECT count(*) FROM bg) as bigint) AS n_truth,
       cast((SELECT count(*) FROM hits) as bigint) AS n_hits,
       cast((SELECT count(*) FROM hits) * 1000000
            // (SELECT count(*) FROM bg) as bigint) AS recall_micro,
       cast((SELECT count(*) FROM h1) as bigint) AS n_hits_rank1,
       cast((SELECT count(*) FROM h1) * 1000000
            // (SELECT count(distinct q_id) FROM bg) as bigint)
         AS recall1_micro"""


# --- event-stream analytics (operators/eventflow.py).  The as-of oracle
# is DuckDB's NATIVE ASOF LEFT JOIN — a genuinely independent algorithm
# from the Spark window formulation; the strict-< semantics coincide with
# the contract tie rule because the fixture has no per-user right-type ts
# ties (asserted in tests/test_eventflow.py).  The funnel oracle uses the
# join-per-step formulation (independent of Spark's chained windows).
_EVT_E = f"""
e AS (SELECT cast(user_id as bigint) AS user_id, event_type,
             cast(event_id as bigint) AS event_id,
             epoch_us(ts) AS ts_us,
             printf('{C.EVT_KEY_FMT.replace("%", "%")}', epoch_us(ts),
                    cast(event_id as bigint)) AS k
      FROM events)
"""

ORACLE_SQL["events_asof"] = f"""
WITH {_EVT_E},
l AS (SELECT event_id, user_id, ts_us FROM e
      WHERE event_type = '{C.ASOF_LEFT}'),
r AS (SELECT event_id, user_id, ts_us FROM e
      WHERE event_type = '{C.ASOF_RIGHT}')
SELECT l.event_id, l.user_id, l.ts_us,
       r.event_id AS match_event_id, r.ts_us AS match_ts_us,
       l.ts_us - r.ts_us AS lag_us
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND r.ts_us < l.ts_us"""

_FUNNEL_CTES = f"""
WITH {_EVT_E},
s1 AS (SELECT user_id, min(k) AS k1 FROM e
       WHERE event_type = '{C.FUNNEL_STEPS[0]}' GROUP BY 1),
s2 AS (SELECT e.user_id, min(k) AS k2 FROM e JOIN s1 USING (user_id)
       WHERE event_type = '{C.FUNNEL_STEPS[1]}' AND k > k1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(k) AS k3 FROM e JOIN s2 USING (user_id)
       WHERE event_type = '{C.FUNNEL_STEPS[2]}' AND k > k2 GROUP BY 1),
f AS (
  SELECT s1.user_id,
         cast(substr(k1, 1, 20) as bigint) AS t1_us,
         cast(substr(k2, 1, 20) as bigint) AS t2_us,
         cast(substr(k3, 1, 20) as bigint) AS t3_us,
         cast(cast(k1 IS NOT NULL as int) + cast(k2 IS NOT NULL as int)
              + cast(k3 IS NOT NULL as int) as bigint) AS level,
         cast(CASE WHEN k3 IS NOT NULL
                    AND cast(substr(k3, 1, 20) as bigint)
                        - cast(substr(k1, 1, 20) as bigint)
                        <= {C.FUNNEL_HORIZON_US}
                   THEN 1 ELSE 0 END as bigint) AS completed
  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
          LEFT JOIN s3 ON s1.user_id = s3.user_id)
"""

ORACLE_SQL["event_funnel"] = _FUNNEL_CTES + "SELECT * FROM f"

ORACLE_SQL["funnel_report"] = _FUNNEL_CTES + f""",
agg AS (SELECT
  cast(count(*) FILTER (level >= 1) as bigint) AS n_step1,
  cast(count(*) FILTER (level >= 2) as bigint) AS n_step2,
  cast(count(*) FILTER (level >= 3) as bigint) AS n_step3,
  cast(coalesce(sum(completed), 0) as bigint) AS n_completed
  FROM f)
SELECT n_step1, n_step2, n_step3, n_completed,
       cast(1000000 * n_step2 // greatest(n_step1, 1) as bigint) AS conv1_2_e6,
       cast(1000000 * n_step3 // greatest(n_step2, 1) as bigint) AS conv2_3_e6,
       cast(1000000 * n_completed // greatest(n_step1, 1) as bigint)
         AS completion_e6
FROM agg"""

ORACLE_SQL["retention_cohorts"] = f"""
WITH ev AS (SELECT cast(user_id as bigint) AS user_id,
                   cast(floor(floor(epoch(ts)) / {C.WEEK_S}) as bigint) AS week
            FROM events),
u AS (SELECT user_id, week,
             min(week) OVER (PARTITION BY user_id) AS cohort_week FROM ev),
a AS (SELECT DISTINCT user_id, cohort_week, week FROM u),
m AS (SELECT cohort_week, week - cohort_week AS age_weeks,
             cast(count(*) as bigint) AS n_active
      FROM a WHERE week - cohort_week <= {C.RETENTION_MAX_WEEKS}
      GROUP BY 1, 2),
w AS (SELECT cohort_week, age_weeks, n_active,
             cast(max(CASE WHEN age_weeks = 0 THEN n_active END)
                  OVER (PARTITION BY cohort_week) as bigint) AS n_cohort
      FROM m)
SELECT cohort_week, age_weeks, n_active, n_cohort,
       cast(1000000 * n_active // greatest(n_cohort, 1) as bigint)
         AS retained_e6
FROM w"""

# --- HDR-style quantile sketch (operators/sketches.hdr_quantiles) —
# the oracle replays the exact bucket arithmetic (contract.HDR_SUB_BITS)
# over DuckDB's bin()/shift operators; all counts/ranks exact int64.
_HDR_S = C.HDR_SUB_BITS
_HDR_RANKS = {p: f"(({p} * n) + 99) // 100" for p in C.HDR_PCTS}

# per-type inter-arrival distribution (operators/eventflow.py
# event_interarrival): per-user lag gaps in µs under the (ts_us,
# event_id) total order, HDR log-bucket estimates + exact min/mean/max
ORACLE_SQL["event_interarrival"] = """
WITH eb AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
            FROM events),
eg AS (SELECT event_type AS key,
              ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id) AS v
       FROM eb),
egn AS (SELECT key, v FROM eg WHERE v IS NOT NULL),
ec AS (SELECT key, v, greatest(length(bin(v)) - 6, 0) AS e FROM egn),
esk AS (SELECT key, e * 64 + (v >> e) AS bucket,
               cast(((v >> e) << e) as bigint) AS lb,
               cast(count(*) as bigint) AS cnt
        FROM ec GROUP BY 1, 2, 3),
eskc AS (SELECT key, lb,
                cast(sum(cnt) OVER (PARTITION BY key ORDER BY bucket)
                     as bigint) AS cum,
                cast(sum(cnt) OVER (PARTITION BY key) as bigint) AS n
         FROM esk),
eest AS (SELECT key, max(n) AS n, min(CASE WHEN cum >= ((50 * n) + 99) // 100 THEN lb END) AS est50, min(CASE WHEN cum >= ((90 * n) + 99) // 100 THEN lb END) AS est90, min(CASE WHEN cum >= ((99 * n) + 99) // 100 THEN lb END) AS est99
         FROM eskc GROUP BY key),
eex AS (SELECT key, cast(min(v) as bigint) AS min_us,
               cast(max(v) as bigint) AS max_us,
               cast(sum(v) // count(*) as bigint) AS mean_us
        FROM egn GROUP BY key)
SELECT eest.key AS event_type, cast(n as bigint) AS n,
       min_us, mean_us, max_us, cast(est50 as bigint) AS est50_us, cast(est90 as bigint) AS est90_us, cast(est99 as bigint) AS est99_us
FROM eest JOIN eex ON eex.key = eest.key"""

ORACLE_SQL["value_quantiles"] = f"""
WITH b AS (SELECT event_type AS key,
                  cast(round(value * 100) as bigint) AS v FROM events),
c AS (SELECT key, v,
             greatest(length(bin(v)) - {_HDR_S}, 0) AS e FROM b),
sk AS (SELECT key, e * {1 << _HDR_S} + (v >> e) AS bucket,
              cast(((v >> e) << e) as bigint) AS lb,
              cast(count(*) as bigint) AS cnt
       FROM c GROUP BY 1, 2, 3),
skc AS (SELECT key, lb,
               cast(sum(cnt) OVER (PARTITION BY key ORDER BY bucket)
                    as bigint) AS cum,
               cast(sum(cnt) OVER (PARTITION BY key) as bigint) AS n
        FROM sk),
vc AS (SELECT key, v, cast(count(*) as bigint) AS cnt FROM b GROUP BY 1, 2),
vcc AS (SELECT key, v,
               cast(sum(cnt) OVER (PARTITION BY key ORDER BY v)
                    as bigint) AS cum,
               cast(sum(cnt) OVER (PARTITION BY key) as bigint) AS n
        FROM vc),
est AS (SELECT key, max(n) AS n,
  {", ".join(f"min(CASE WHEN cum >= {_HDR_RANKS[p]} THEN lb END) AS est{p}_e2" for p in C.HDR_PCTS)}
  FROM skc GROUP BY key),
ex AS (SELECT key,
  {", ".join(f"min(CASE WHEN cum >= {_HDR_RANKS[p]} THEN v END) AS exact{p}_e2" for p in C.HDR_PCTS)}
  FROM vcc GROUP BY key)
SELECT est.key AS event_type, cast(n as bigint) AS n,
  {", ".join(f"cast(est{p}_e2 as bigint) AS est{p}_e2" for p in C.HDR_PCTS)},
  {", ".join(f"cast(exact{p}_e2 as bigint) AS exact{p}_e2" for p in C.HDR_PCTS)},
  {", ".join(f"cast(1000000 * (est{p}_e2 - exact{p}_e2) // greatest(exact{p}_e2, 1) as bigint) AS err{p}_e6" for p in C.HDR_PCTS)}
FROM est JOIN ex ON est.key = ex.key"""


# --- media-interleave integrity (plans/registry._media_refs): the oracle
# derives the EXPECTED media table purely from word-index arithmetic
# (figure before line i whenever i % FIG_EVERY == FIG_PHASE, ordinal by
# line order) — the Spark side reads the REAL extraction output, so
# equality pins that extraction preserves every media span, in order,
# with caption and self-consistent ref intact.
ORACLE_SQL["media_refs"] = f"""
WITH {_CORPUS_META},
figs AS (
  SELECT doc_id,
         unnest(list_filter(generate_series(0, n_lines - 1),
                i -> i % {C.CORPUS_FIG_EVERY} = {C.CORPUS_FIG_PHASE}))
           AS line_i
  FROM cm WHERE n_words > 0),
r AS (SELECT doc_id,
             cast(row_number() OVER (PARTITION BY doc_id ORDER BY line_i)
                  as bigint) AS media_idx
      FROM figs)
SELECT cast(doc_id as varchar) AS doc_id, media_idx,
       'figure' AS kind,
       'Figure ' || cast(media_idx as varchar) AS caption,
       'fig://' || cast(doc_id as varchar) || '/'
                || cast(media_idx as varchar) AS media_ref,
       cast(1 as bigint) AS ref_ok
FROM r"""


# --- interleaved image-text pair mining (operators/multimodal.media_pairs):
# the Spark side runs the GENERIC rule (nearest non-boilerplate text span
# before/after each media span, boilerplate by the north-rule repeated-line
# flag); the oracle reproduces it from word-index arithmetic — caption =
# line i, context = line i-1 — valid because figures precede line i (i >= 3
# always, so line i-1 exists), and the only span that can sit between a
# figure and line i-1 is a page footer (page-start figures, i ≡ 24 mod 28
# ⇒ >= 7 pages), which the repeated-line rule flags exactly then
# (certified by test_only_footers_recur_across_pages_at_gate_scale).
_MEDIA_PAIRS_CTE = f"""
WITH {_CORPUS_META},
wl AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '{C.WS_SPLIT_RE}'),
                     x -> x <> '') AS w
  FROM documents),
figs AS (
  SELECT cm.doc_id, cm.n_words, wl.w,
         unnest(list_filter(generate_series(0, cm.n_lines - 1),
                i -> i % {C.CORPUS_FIG_EVERY} = {C.CORPUS_FIG_PHASE})) AS i
  FROM cm JOIN wl ON cm.doc_id = wl.doc_id
  WHERE cm.n_words > 0),
p AS (
  SELECT doc_id,
         cast(row_number() OVER (PARTITION BY doc_id ORDER BY i)
              as bigint) AS media_idx,
         array_to_string(w[((i - 1) * {_WPL} + 1):(i * {_WPL})], ' ')
           AS ctx_text,
         array_to_string(
           w[(i * {_WPL} + 1):least((i + 1) * {_WPL}, n_words)], ' ')
           AS cap_text,
         cast(least((i + 1) * {_WPL}, n_words) - i * {_WPL}
              as bigint) AS cap_n_words
  FROM figs)"""

ORACLE_SQL["media_pairs"] = f"""{_MEDIA_PAIRS_CTE}
SELECT cast(doc_id as varchar) AS doc_id, media_idx,
       'figure' AS kind,
       'fig://' || cast(doc_id as varchar) || '/'
                || cast(media_idx as varchar) AS media_ref,
       ctx_text, cap_text, cap_n_words,
       cast(CASE WHEN cap_n_words >= {C.MM_PAIR_MIN_WORDS}
                 THEN 1 ELSE 0 END as bigint) AS pair_ok
FROM p"""

ORACLE_SQL["media_pair_stats"] = f"""{_MEDIA_PAIRS_CTE}
SELECT cast(count(*) as bigint) AS n_media,
       cast(sum(CASE WHEN cap_n_words >= {C.MM_PAIR_MIN_WORDS}
                     THEN 1 ELSE 0 END) as bigint) AS n_pairs_ok,
       cast((10000 * sum(CASE WHEN cap_n_words >= {C.MM_PAIR_MIN_WORDS}
                              THEN 1 ELSE 0 END))
            // greatest(count(*), 1) as bigint) AS keep_ratio_e4,
       cast(count(DISTINCT doc_id) as bigint) AS n_docs,
       cast((100 * sum(cap_n_words)) // greatest(count(cap_n_words), 1)
            as bigint) AS avg_cap_words_e2
FROM p"""


# --- bucketized range join (operators/eventflow.range_join): the oracle
# is the PLAIN interval-containment join DuckDB plans natively (its IEJoin
# range-join operator) — independent of the Spark bucketization, so the
# bucket/fanout machinery is value-checked end-to-end.  Sessions replayed
# via the sessionize oracle's own CTE chain.
ORACLE_SQL["session_attribution"] = """
WITH x AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
y AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN prev_ts IS NULL
                OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM x),
sess AS (
  SELECT user_id, cast(session_id as bigint) AS session_id,
         cast(floor(epoch(min(ts))) as bigint) AS start_epoch,
         cast(floor(epoch(max(ts))) as bigint) AS end_epoch
  FROM (
    SELECT user_id, ts,
           sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_id
    FROM y)
  GROUP BY 1, 2),
pts AS (SELECT cast(event_id as bigint) AS event_id,
               cast(user_id as bigint) AS user_id, event_type,
               cast(floor(epoch(ts)) as bigint) AS ts_s
        FROM events)
SELECT p.event_id, p.user_id, p.event_type, p.ts_s,
       s.session_id, s.start_epoch, s.end_epoch
FROM pts p JOIN sess s
  ON p.user_id = s.user_id
 AND p.ts_s >= s.start_epoch AND p.ts_s <= s.end_epoch"""


# --- hypertable rollup cascade (operators/eventflow.rollup_cascade): the
# Spark side re-aggregates the DAILY answer from the HOURLY partial table
# (count/min/max/exact-int64 sum re-fold; count-distinct cascades through
# per-hour HLL registers max-merged to days); the oracle computes every
# column DIRECTLY from raw events — equality IS the cascade invariant
# (fold laws + register merge law), checked by the driver hash.
ORACLE_SQL["rollup_cascade"] = f"""
WITH b AS (SELECT event_type,
                  cast(floor(floor(epoch(ts)) / 86400) * 86400
                       as bigint) AS day_epoch,
                  cast(user_id as bigint) AS user_id,
                  cast(round(value * 100) as bigint) AS v
           FROM events),
daily AS (SELECT event_type, day_epoch,
                 cast(count(*) as bigint) AS n_events,
                 cast(min(v) as bigint) AS min_value_e2,
                 cast(max(v) as bigint) AS max_value_e2,
                 cast(sum(v) as bigint) AS sum_value_e2
          FROM b GROUP BY 1, 2),
du AS (SELECT DISTINCT event_type, day_epoch, user_id FROM b),
hh AS (SELECT event_type, day_epoch, list_reduce(list_prepend(cast(0 as bigint), list_transform(string_split('#' || cast(user_id as varchar), ''), c -> cast(ascii(c) as bigint))), (a, x) -> (a * 31 + x) % 1000000007) AS h FROM du),
jr AS (SELECT event_type, day_epoch, h % 64 AS j,
              CASE WHEN (h // 64) = 0 THEN 25
                   ELSE 24 - length(bin(h // 64)) + 1 END AS r
       FROM hh),
regs AS (SELECT event_type, day_epoch, j, cast(max(r) as bigint) AS rank
         FROM jr GROUP BY 1, 2, 3),
agg AS (SELECT event_type, day_epoch,
               cast(count(*) as bigint) AS n_hit,
               cast(sum(cast(1 as bigint) << (40 - rank)) as bigint) AS s_hit
        FROM regs GROUP BY 1, 2),
hs AS (SELECT event_type, day_epoch, n_hit,
              cast(s_hit + (64 - n_hit) * (cast(1 as bigint) << 40)
                   as bigint) AS s
       FROM agg),
he AS (SELECT event_type, day_epoch, n_hit, s,
              cast((709 * 64 * 64
                    * (cast(1 as bigint) << 40))
                   // (1000 * s) as bigint) AS est_raw
       FROM hs),
hf AS (SELECT event_type, day_epoch,
              cast(CASE WHEN est_raw < 160
                         AND n_hit < 64
                        THEN (64 * ([0, 4158883, 3465736, 3060271, 2772589, 2549445, 2367124, 2212973, 2079442, 1961659, 1856298, 1760988, 1673976, 1593934, 1519826, 1450833, 1386294, 1325670, 1268511, 1214444, 1163151, 1114361, 1067841, 1023389, 980829, 940007, 900787, 863046, 826679, 791587, 757686, 724896, 693147, 662376, 632523, 603535, 575364, 547965, 521297, 495321, 470004, 445311, 421213, 397683, 374693, 352221, 330242, 308735, 287682, 267063, 246860, 227057, 207639, 188591, 169899, 151550, 133531, 115832, 98440, 81346, 64539, 48009, 31749, 15748, 0])[(64 - n_hit) + 1]) // 1000000
                        ELSE est_raw END as bigint) AS users_est
       FROM he),
ex AS (SELECT event_type, day_epoch,
              cast(count(DISTINCT user_id) as bigint) AS users_exact
       FROM b GROUP BY 1, 2)
SELECT d.event_type, d.day_epoch, n_events, min_value_e2, max_value_e2,
       sum_value_e2, users_est, users_exact,
       cast((1000000 * (users_est - users_exact))
            // greatest(users_exact, 1) as bigint) AS err_e6
FROM daily d
JOIN hf ON d.event_type = hf.event_type AND d.day_epoch = hf.day_epoch
JOIN ex ON d.event_type = ex.event_type AND d.day_epoch = ex.day_epoch"""


# --- hourly-rate anomaly flags (operators/eventflow.rollup_anomalies):
# exact lower-median / MAD by counting, replayed per type in SQL.
ORACLE_SQL["rollup_anomalies"] = f"""
WITH h AS (SELECT event_type,
                  cast(floor(floor(epoch(ts)) / 3600) * 3600 as bigint)
                    AS hour_epoch,
                  cast(count(*) as bigint) AS n_events
           FROM events GROUP BY 1, 2),
mc AS (SELECT event_type, n_events AS v, count(*) AS c FROM h GROUP BY 1, 2),
mcu AS (SELECT event_type, v,
               cast(sum(c) OVER (PARTITION BY event_type ORDER BY v)
                    as bigint) AS cum,
               cast(sum(c) OVER (PARTITION BY event_type) as bigint) AS n
        FROM mc),
med AS (SELECT event_type,
               cast(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) as bigint)
                 AS med
        FROM mcu GROUP BY 1),
d AS (SELECT h.event_type, hour_epoch, n_events, med,
             abs(n_events - med) AS dev
      FROM h JOIN med ON h.event_type = med.event_type),
dc AS (SELECT event_type, dev AS v, count(*) AS c FROM d GROUP BY 1, 2),
dcu AS (SELECT event_type, v,
               cast(sum(c) OVER (PARTITION BY event_type ORDER BY v)
                    as bigint) AS cum,
               cast(sum(c) OVER (PARTITION BY event_type) as bigint) AS n
        FROM dc),
mad AS (SELECT event_type,
               cast(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) as bigint)
                 AS mad
        FROM dcu GROUP BY 1)
SELECT d.event_type, hour_epoch, n_events, med, mad.mad,
       cast(CASE WHEN dev > 3 * greatest(mad.mad, 1)
                 THEN 1 ELSE 0 END as bigint) AS is_anomaly
FROM d JOIN mad ON d.event_type = mad.event_type"""

# ---------------------------------------------------------------------------
# UniMax / padding / split-leakage / C4 family (round-4 continuation)
# ---------------------------------------------------------------------------

# UniMax waterfill (operators/packing.unimax_alloc): the oracle replays
# the closed form — ascending-capacity rank, capped iff
# cap * (L - rank + 1) <= budget - sum(smaller caps), leftover split
# evenly with the remainder going +1 to the first uncapped ranks.
# Window sums cast to bigint (DuckDB HUGEINT sharp edge).
ORACLE_SQL["unimax_alloc"] = f"""
WITH per AS (
  SELECT lang,
         cast(sum(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')))
              as bigint) AS n_tokens
  FROM documents GROUP BY lang),
c AS (SELECT lang, n_tokens,
             cast(n_tokens * {C.UNIMAX_MAX_EPOCHS} as bigint) AS cap_tokens
      FROM per),
t AS (SELECT cast(count(*) as bigint) AS n_langs,
             cast((sum(n_tokens) * {C.UNIMAX_BUDGET_E6}) // 1000000
                  as bigint) AS budget
      FROM c),
r AS (SELECT c.lang, c.n_tokens, c.cap_tokens, t.n_langs, t.budget,
        cast(row_number() OVER (ORDER BY cap_tokens, lang) as bigint) AS rank,
        cast(coalesce(sum(cap_tokens) OVER (
               ORDER BY cap_tokens, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             as bigint) AS smaller_caps
      FROM c, t),
f AS (SELECT *,
        (cap_tokens * (n_langs - rank + 1) <= budget - smaller_caps) AS capped
      FROM r),
g AS (SELECT cast(max(budget)
               - coalesce(sum(CASE WHEN capped THEN cap_tokens END), 0)
               as bigint) AS leftover,
             cast(sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) as bigint)
               AS n_unc,
             cast(coalesce(sum(CASE WHEN capped THEN 1 ELSE 0 END), 0)
               as bigint) AS n_capped
      FROM f),
a AS (SELECT f.lang, f.n_tokens, f.cap_tokens, f.rank, f.capped,
        cast(CASE WHEN f.capped THEN f.cap_tokens
             ELSE g.leftover // greatest(g.n_unc, 1)
                  + CASE WHEN (f.rank - g.n_capped)
                              <= g.leftover % greatest(g.n_unc, 1)
                         THEN 1 ELSE 0 END
             END as bigint) AS alloc_tokens
      FROM f, g)
SELECT lang, n_tokens, cap_tokens, rank, capped, alloc_tokens,
       cast((1000 * alloc_tokens) // greatest(n_tokens, 1) as bigint)
         AS epochs_e3
FROM a"""


def _pad_bucket_sql() -> str:
    """CASE ladder from the PAD_* contract constants (never float log2)."""
    edges, b = [], C.PAD_MIN_BUCKET
    while b <= C.PAD_MAX_LEN:
        edges.append(b)
        b *= 2
    whens = " ".join(f"WHEN n <= {e} THEN {e}" for e in edges[:-1])
    return f"CASE {whens} ELSE {edges[-1]} END"


ORACLE_SQL["pad_efficiency"] = f"""
WITH d AS (
  SELECT {_pad_bucket_sql()} AS bucket,
         least(n, {C.PAD_MAX_LEN}) AS kept,
         n - least(n, {C.PAD_MAX_LEN}) AS trunc
  FROM (SELECT len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) AS n
        FROM documents)),
g AS (SELECT cast(bucket as bigint) AS bucket,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(kept) as bigint) AS n_tokens,
             cast(bucket * count(*) - sum(kept) as bigint) AS n_pad,
             cast(sum(trunc) as bigint) AS n_trunc
      FROM d GROUP BY bucket)
SELECT bucket, n_docs, n_tokens, n_pad, n_trunc,
       cast((1000000 * n_tokens) // (n_tokens + n_pad) as bigint) AS util_e6
FROM g"""

# cross-split near-dup leakage (operators/packing.split_leakage): the
# EXACT minhash_lsh_pairs banding joined to the EXACT dataset_split
# coordinate — a pair leaks when its sides land in different splits.
_SPLIT_SQL = f"""
  SELECT doc_id,
         CASE WHEN b < {C.SPLIT_VAL_MICRO} THEN 'val'
              WHEN b < {C.SPLIT_VAL_MICRO + C.SPLIT_TEST_MICRO} THEN 'test'
              ELSE 'train' END AS split
  FROM (SELECT doc_id,
               ('0x' || substr(md5('{C.SPLIT_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
                 % {C.SAMPLE_MOD} AS b
        FROM documents)"""

ORACLE_SQL["split_leakage"] = f"""
WITH {_SH_CTE},{_minhash_sig_sql()},
bands AS ({_band_union_sql()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, val)
  WHERE a.doc_id < b.doc_id),
sp AS ({_SPLIT_SQL})
SELECT cast(p.doc_a as bigint) AS doc_a, cast(p.doc_b as bigint) AS doc_b,
       sa.split AS split_a, sb.split AS split_b,
       (sa.split <> sb.split) AS leak
FROM pairs p
JOIN sp sa ON sa.doc_id = p.doc_a
JOIN sp sb ON sb.doc_id = p.doc_b"""

ORACLE_SQL["split_leakage_stats"] = f"""
WITH {_SH_CTE},{_minhash_sig_sql()},
bands AS ({_band_union_sql()}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, val)
  WHERE a.doc_id < b.doc_id),
sp AS ({_SPLIT_SQL}),
lk AS (
  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
         (sa.split <> sb.split) AS leak
  FROM pairs p
  JOIN sp sa ON sa.doc_id = p.doc_a
  JOIN sp sb ON sb.doc_id = p.doc_b),
sides AS (
  SELECT doc_a AS d, split_a AS s, split_b AS o, leak FROM lk
  UNION ALL
  SELECT doc_b AS d, split_b AS s, split_a AS o, leak FROM lk)
SELECT cast(count(*) // 2 as bigint) AS n_pairs,
       cast(coalesce(sum(CASE WHEN leak THEN 1 ELSE 0 END), 0) // 2
            as bigint) AS n_leaks,
       cast(count(DISTINCT CASE WHEN leak AND s IN ('val', 'test')
                                     AND o = 'train'
                                THEN d END) as bigint)
         AS n_eval_contaminated
FROM sides"""

# C4 line-filter family (operators/textstats.c4_line_stats / c4_clean
# over the c4_pages fixture generator): the oracle re-derives the lined
# page from documents by the SAME word-index arithmetic (contract C4_*)
# as row-per-line SQL, then applies the keep rule independently.
_C4_LINES_SQL = f"""
  w AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []
                ELSE regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')
           END AS words,
           (doc_id % {C.C4_LOREM_EVERY} = 0) AS lorem_c,
           (doc_id % {C.C4_BRACE_EVERY} = 0) AS brace_c
    FROM documents),
  nn AS (
    SELECT doc_id, words, lorem_c, brace_c,
           len(words) AS n,
           cast(ceil(len(words) / {C.C4_WORDS_PER_LINE}.0) as bigint)
             AS n_body
    FROM w),
  li AS (
    SELECT doc_id, n_body, lorem_c, brace_c, i,
           CASE
             WHEN i < n_body THEN
               (CASE WHEN (doc_id * {C.C4_JS_MULT} + i) % {C.C4_JS_EVERY} = 0
                     THEN 'javascript ' ELSE '' END)
               || array_to_string(
                    words[(i * {C.C4_WORDS_PER_LINE} + 1):least((i + 1) * {C.C4_WORDS_PER_LINE}, n)],
                    ' ')
               || (CASE WHEN (doc_id + i) % {C.C4_PUNCT_EVERY} <> 0
                        THEN '.' ELSE '' END)
             WHEN i = n_body AND lorem_c THEN 'lorem ipsum'
             ELSE chr(123)
           END AS line
    FROM nn,
         unnest(range(0, n_body
                         + (CASE WHEN lorem_c THEN 1 ELSE 0 END)
                         + (CASE WHEN brace_c THEN 1 ELSE 0 END))) AS r(i)),
  fl AS (
    SELECT doc_id, i, line,
           (CASE WHEN trim(line) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(line), '{C.WS_SPLIT_RE}'))
            END < {C.C4_MIN_LINE_WORDS}) AS short,
           (NOT regexp_matches(line, '{C.C4_TERMINAL_RE}')) AS nopunct,
           contains(lower(line), 'javascript') AS js
    FROM li),
  fk AS (
    SELECT *, (NOT short AND NOT nopunct AND NOT js) AS kept FROM fl)"""

ORACLE_SQL["c4_line_stats"] = f"""
WITH {_C4_LINES_SQL},
g AS (
  SELECT doc_id,
         cast(count(*) as bigint) AS n_lines,
         cast(sum(CASE WHEN short THEN 1 ELSE 0 END) as bigint) AS n_short,
         cast(sum(CASE WHEN nopunct THEN 1 ELSE 0 END) as bigint) AS n_nopunct,
         cast(sum(CASE WHEN js THEN 1 ELSE 0 END) as bigint) AS n_js,
         cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as bigint) AS n_kept,
         bool_or(contains(lower(line), 'lorem ipsum')) AS has_lorem,
         bool_or(contains(line, chr(123))) AS has_brace
  FROM fk GROUP BY doc_id)
SELECT cast(doc_id as bigint) AS doc_id, n_lines, n_short, n_nopunct, n_js,
       n_kept, has_lorem, has_brace,
       (n_kept >= {C.C4_MIN_KEPT} AND NOT has_lorem AND NOT has_brace)
         AS keep_doc
FROM g"""

ORACLE_SQL["c4_clean"] = f"""
WITH {_C4_LINES_SQL},
g AS (
  SELECT doc_id,
         cast(coalesce(sum(CASE WHEN kept THEN 1 ELSE 0 END), 0) as bigint)
           AS n_kept,
         coalesce(string_agg(CASE WHEN kept THEN line END, chr(10)
                             ORDER BY i), '') AS c4_text,
         bool_or(contains(lower(line), 'lorem ipsum')) AS has_lorem,
         bool_or(contains(line, chr(123))) AS has_brace
  FROM fk GROUP BY doc_id)
SELECT cast(doc_id as bigint) AS doc_id, n_kept, c4_text
FROM g
WHERE n_kept >= {C.C4_MIN_KEPT} AND NOT has_lorem AND NOT has_brace"""


# Heaps-law vocabulary growth (operators/textstats.vocab_growth): the
# cumulative-distinct curve by first-occurrence doc — one min-agg per
# token type, bounded threshold explode.
ORACLE_SQL["vocab_growth"] = f"""
WITH tk AS (
  SELECT doc_id, t.token
  FROM documents,
       unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'))
         AS t(token)
  WHERE t.token <> ''),
fo AS (SELECT token, min(doc_id) AS first_doc FROM tk GROUP BY token),
th AS (SELECT unnest({list(C.VG_THRESHOLDS)}) AS threshold),
v AS (SELECT th.threshold, cast(count(*) as bigint) AS n_vocab
      FROM fo, th WHERE fo.first_doc < th.threshold GROUP BY th.threshold),
pd AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY doc_id),
m AS (SELECT th.threshold, cast(count(*) as bigint) AS n_docs,
             cast(sum(n_tok) as bigint) AS n_tokens
      FROM pd, th WHERE pd.doc_id < th.threshold GROUP BY th.threshold)
SELECT cast(m.threshold as bigint) AS threshold, m.n_docs, m.n_tokens,
       v.n_vocab
FROM m JOIN v ON m.threshold = v.threshold"""


def _kcenter_sql() -> str:
    """Unrolled greedy farthest-point traversal (the kmeans
    unrolled-oracle precedent): KC_K chained CTEs, each picking the
    max-min-L2^2 point (ties -> smaller vec_id) against the union of all
    previously chosen rows, excluding already-chosen ids."""
    d2 = (
        f"cast(list_sum(list_transform(generate_series(1, {C.EMBED_DIM}), "
        f"i -> (c.ev[i] - ch.ev[i]) * (c.ev[i] - ch.ev[i]))) as bigint)"
    )
    parts = [
        f"c AS MATERIALIZED (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings)",
        "s0 AS MATERIALIZED (SELECT 0 AS rank, vec_id, ev, cast(0 as bigint) AS d2"
        " FROM c ORDER BY vec_id LIMIT 1)",
    ]
    for j in range(1, C.KC_K):
        chosen = " UNION ALL ".join(
            f"SELECT vec_id, ev FROM s{i}" for i in range(j)
        )
        parts.append(
            f"s{j} AS MATERIALIZED (SELECT {j} AS rank, c.vec_id, c.ev, m.d2\n"
            f"  FROM c JOIN (\n"
            f"    SELECT c.vec_id, min({d2}) AS d2\n"
            f"    FROM c, ({chosen}) ch\n"
            f"    WHERE c.vec_id NOT IN (SELECT vec_id FROM ({chosen}) x)\n"
            f"    GROUP BY c.vec_id) m ON m.vec_id = c.vec_id\n"
            f"  ORDER BY m.d2 DESC, c.vec_id LIMIT 1)"
        )
    union = " UNION ALL ".join(
        f"SELECT rank, vec_id, d2 FROM s{i}" for i in range(C.KC_K)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT cast(rank as bigint) AS rank, cast(vec_id as bigint)"
        f" AS vec_id, d2 FROM ({union})"
    )


ORACLE_SQL["kcenter_coreset"] = _kcenter_sql()


# Matryoshka truncation recall (operators/search.mrl_recall): prefix-dim
# brute top-k overlap vs the full-dim top-k, exact integer prefix dots.
ORACLE_SQL["mrl_recall"] = f"""
WITH q AS (SELECT vec_id AS q_id, {_FP_VEC} AS qv FROM embeddings
           WHERE vec_id < {C.MULTI_QUERY_N}),
c AS (SELECT vec_id, {_FP_VEC} AS ev FROM embeddings),
dm AS (SELECT unnest({list(C.MRL_DIMS)}) AS dim),
d AS (SELECT q.q_id, c.vec_id, dm.dim,
        cast(list_sum(list_transform(generate_series(1, dm.dim),
             i -> ev[i] * qv[i])) as bigint) AS dot
      FROM c, q, dm),
r AS (SELECT q_id, dim, vec_id,
        row_number() OVER (PARTITION BY q_id, dim
                           ORDER BY dot DESC, vec_id) AS rn
      FROM d),
t AS (SELECT q_id, dim, vec_id FROM r WHERE rn <= {C.TOPK}),
f AS (SELECT q_id, vec_id FROM t WHERE dim = {C.EMBED_DIM})
SELECT cast(t.q_id as bigint) AS q_id, cast(t.dim as bigint) AS dim,
       cast(sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            as bigint) AS n_overlap,
       cast((1000000 * sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END))
            // {C.TOPK} as bigint) AS recall_e6
FROM t LEFT JOIN f ON f.q_id = t.q_id AND f.vec_id = t.vec_id
GROUP BY t.q_id, t.dim"""


# one-row corpus data card (operators/stats.corpus_datacard): every
# number is the standalone operator's own arithmetic (exact_dedup's
# normalized md5, curate_corpus's quality predicate, vocab_topk's token
# rule) re-derived in one SQL.
ORACLE_SQL["corpus_datacard"] = f"""
WITH b AS (
  SELECT lang, source,
         cast(len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}'))
              as bigint) AS n_tok,
         CASE WHEN len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) >= 10
                   AND len(regexp_extract_all(text, '{C.QUALITY_STOPWORD_RE}'))
                       / len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) <= 0.5
              THEN 1 ELSE 0 END AS q,
         md5({_NORM}) AS h
  FROM documents),
card AS (
  SELECT cast(count(*) as bigint) AS n_docs,
         cast(sum(n_tok) as bigint) AS n_tokens,
         cast(count(DISTINCT lang) as bigint) AS n_langs,
         cast(count(DISTINCT source) as bigint) AS n_sources,
         cast(count(DISTINCT h) as bigint) AS n_unique_content,
         cast(sum(q) as bigint) AS n_quality
  FROM b),
top AS (
  SELECT lang AS top_lang FROM b GROUP BY lang
  ORDER BY count(*) DESC, lang LIMIT 1),
v AS (
  SELECT cast(count(DISTINCT t.token) as bigint) AS vocab_size
  FROM documents,
       unnest(regexp_split_to_array(trim(lower(text)), '{C.WS_SPLIT_RE}'))
         AS t(token)
  WHERE t.token <> '')
SELECT n_docs, n_tokens, n_langs, n_sources, top_lang, vocab_size,
       cast((1000000 * (n_docs - n_unique_content)) // n_docs as bigint)
         AS dup_rate_e6,
       cast((1000000 * n_quality) // n_docs as bigint) AS quality_rate_e6
FROM card, top, v"""


# language-ID confusion matrix (operators/textstats.langid_confusion):
# the SAME hits/CJK argmax as lang_id, aggregated against the label.
ORACLE_SQL["langid_confusion"] = f"""
WITH h AS (
  SELECT lang, {_LANG_HITS},
         len(regexp_extract_all(text, '{C.CJK_RE}')) AS cjk
  FROM documents),
g AS (SELECT *, greatest({', '.join('hits_' + l for l in C.LANG_ORDER)}) AS best FROM h),
p AS (SELECT lang,
             CASE WHEN cjk > 0 THEN 'zh' {_LANG_CASE} ELSE 'und' END AS pred_lang
      FROM g),
m AS (SELECT lang, pred_lang, cast(count(*) as bigint) AS n_docs
      FROM p GROUP BY lang, pred_lang),
t AS (SELECT lang, cast(sum(n_docs) as bigint) AS t FROM m GROUP BY lang)
SELECT m.lang, m.pred_lang, m.n_docs,
       cast((1000000 * m.n_docs) // t.t as bigint) AS share_e6,
       (m.lang = m.pred_lang) AS correct
FROM m JOIN t ON m.lang = t.lang"""


# deterministic curriculum order (operators/packing.curriculum_order):
# the oracle ranks with the PLAIN global window — an independent
# algorithm pinning the banded scan (the epoch_shuffle precedent).
ORACLE_SQL["curriculum_order"] = f"""
WITH b AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
         len(regexp_split_to_array(trim(text), '{C.WS_SPLIT_RE}')) AS nw,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
  FROM documents),
f AS (
  SELECT doc_id,
         cast(206835 - 1015 * nw // ns - 84600 * sy // nw as bigint)
           AS flesch_e3
  FROM b WHERE nw > 0)
SELECT cast(doc_id as bigint) AS doc_id, flesch_e3,
       cast(row_number() OVER (ORDER BY flesch_e3 DESC, doc_id) - 1
            as bigint) AS pos
FROM f"""


# exact-count deterministic sample (operators/packing.exact_sample).
ORACLE_SQL["exact_sample"] = f"""
WITH b AS (
  SELECT cast(doc_id as bigint) AS doc_id, lang,
         ('0x' || substr(md5('{C.EXACT_SAMPLE_SALT}' || cast(doc_id as varchar)), 1, 12))::BIGINT
           AS sample_key
  FROM documents),
t AS (SELECT * FROM b ORDER BY sample_key, doc_id LIMIT {C.EXACT_SAMPLE_K})
SELECT doc_id, lang, sample_key,
       cast(row_number() OVER (ORDER BY sample_key, doc_id) as bigint) AS rank
FROM t"""
