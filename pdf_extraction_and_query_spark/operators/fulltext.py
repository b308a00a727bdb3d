"""Full-text (BM25) keyword search + hybrid keyword/vector fusion.

The reference retrieves by embedding similarity only
(src/vector_store/pgvector_client.py:193-218); a user switching a RAG stack
to this engine expects the standard retrieval trio — keyword (BM25), vector,
and hybrid reciprocal-rank fusion — so this module supplies the two the
reference lacks, over the same documents/embeddings tables.

Determinism contract (shared constants in ``contract``): the entire score is
exact int64 arithmetic — integer tf/df/dl/N, a LOG-FREE rational idf
((2N-2df+1)/(2df+1), order-equivalent per-term to ln-idf; see the contract
module for why ln() is banned), and integer division (`div` / DuckDB `//`,
identical truncation for the all-positive operands here).  Ties break on
doc_id ascending.

Scale notes (10^12 docs):
  * postings = explode -> groupBy(doc_id, token): ONE shuffle with map-side
    partial agg; this is the build-once inverted-index table — at production
    scale it persists bucketed by token so per-query scans prune (same
    build/search split as ``search.ivf_build``; ``fts_build`` below writes
    exactly that layout).
  * query terms are a BROADCAST list: candidate postings are pruned map-side
    by a broadcast hash join; doc length rides each posting row via a doc_id
    window (the only other postings-sized exchange), and per-term df is a
    count window over the already-pruned candidate set.
  * corpus scalars (N, sum_dl, avgdl) ride the plan as a broadcast 1-row
    frame — no driver collect.
  * per-query top-k is one row_number window on q_id (bounded #queries),
    same shape as ``search.vector_topk_multi``.
  * every intermediate fits int64 at 10^12 docs via the FTS_TF_CAP /
    FTS_IDF_CAP_E6 saturation caps (bounds analysis in the contract module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import contract as C


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, token) stream: lowercase whitespace tokens, empties dropped
    (same tokenization as textstats.vocab_topk — one contract, two users).

    Deliberately NOT fan_out-guarded: a plain token explode amplifies so
    little compute over bytes that the guard's extra exchanges measured
    2.5 s SLOWER at gate scale (PLANS.md #13 — the guard pays off only
    where the narrow stage builds heavy per-row structures)."""
    return docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), C.WS_SPLIT_RE)).alias("token"),
    ).where(F.col("token") != "")


def postings(docs: DataFrame) -> DataFrame:
    """Inverted-index postings (doc_id, token, tf) — one hash-agg shuffle."""
    return _tokens(docs).groupBy("doc_id", "token").agg(F.count("*").alias("tf"))


def doc_lengths(post: DataFrame) -> DataFrame:
    """(doc_id, dl) from already-aggregated postings (second, smaller agg —
    never re-explodes the corpus)."""
    return post.groupBy("doc_id").agg(F.sum("tf").alias("dl"))


def corpus_stats(docs: DataFrame) -> DataFrame:
    """1-row (n_docs, sum_dl, avgdl_e3).  N counts ALL documents (empty-text
    docs simply have no postings and can never match); sum_dl == the total
    token count, derived from the narrow token stream directly (a global
    count needs no dedup, so re-aggregating postings for it would buy an
    extra corpus shuffle for nothing)."""
    return (
        docs.agg(F.count("*").alias("n_docs"))
        .crossJoin(_tokens(docs).agg(F.count("*").alias("sum_dl")))
        .withColumn("avgdl_e3", F.expr("(1000 * sum_dl) div n_docs"))
    )


def _query_terms(docs: DataFrame, queries: dict[int, tuple[str, ...]]) -> DataFrame:
    rows = [(q, t) for q, ts in sorted(queries.items()) for t in ts]
    return docs.sparkSession.createDataFrame(rows, "q_id long, token string")


def term_stats(docs: DataFrame, queries: dict[int, tuple[str, ...]] | None = None) -> DataFrame:
    """Per-query-term document frequency + idf_e6 — the index introspection
    row a user checks before trusting a ranking.  Terms absent from the
    corpus keep df=0 and the capped idf."""
    queries = queries or C.FTS_QUERIES
    post = postings(docs)
    qtok = _query_terms(docs, queries).select("token").distinct()
    tdf = post.join(F.broadcast(qtok), "token").groupBy("token").agg(
        F.count("*").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    out = (
        qtok.join(tdf, "token", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "token",
        F.col("df").cast("long").alias("df"),
        F.expr(
            f"least((1000000 * (2*n_docs - 2*df + 1)) div (2*df + 1), "
            f"cast({C.FTS_IDF_CAP_E6} as bigint))"
        ).cast("long").alias("idf_e6"),
    )


def bm25_topk_multi(
    docs: DataFrame,
    queries: dict[int, tuple[str, ...]] | None = None,
    k: int = C.FTS_TOPK,
) -> DataFrame:
    """Batch BM25 top-k: (q_id, doc_id, score_e9, rank).

    score_e9 = sum over matched terms of (idf_e6 * tf_e6) div 1000 where
      tf_e6  = (1e6 * 22*tfc*avgdl_e3) div (10*tfc*avgdl_e3 + 3*avgdl_e3
               + 9000*dl),  tfc = least(tf, FTS_TF_CAP)
      idf_e6 = least((1e6 * (2N-2df+1)) div (2df+1), FTS_IDF_CAP_E6)
    — BM25 with k1=1.2, b=0.75 as exact integer fractions (22/10, 3/10,
    9/10 scaled through 1000*avgdl), log-free idf; the DuckDB twin runs the
    identical arithmetic."""
    queries = queries or C.FTS_QUERIES
    qt = _query_terms(docs, queries)
    qtok = qt.select("token").distinct()

    # ONE postings derivation consumed once (Spark's ReuseExchange does NOT
    # canonicalize the separate dl/tdf/cand subtrees the naive DAG builds —
    # measured 9 corpus scans for one query before this restructure):
    # dl rides each posting row via a doc_id window (postings-sized exchange
    # with per-partition size bounded by one doc's distinct-token count),
    # then the broadcast query-term prune shrinks the stream to candidate
    # rows only, and df is a count window over that PRUNED set (tiny).
    post = postings(docs).withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    cand_docs = post.join(F.broadcast(qtok), "token").withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    )
    stats = corpus_stats(docs)
    cand = (
        cand_docs.join(F.broadcast(qt), "token")     # fan out per query id
        .crossJoin(F.broadcast(stats))
    )
    scored = cand.select(
        "q_id",
        "doc_id",
        F.expr(_score_expr()).alias("term_score_e9"),
    )
    agg = scored.groupBy("q_id", "doc_id").agg(
        F.sum("term_score_e9").alias("score_e9")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_e9"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("score_e9").cast("long").alias("score_e9"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def rrf_fuse(vec: DataFrame, kw: DataFrame, k: int) -> DataFrame:
    """Reciprocal-rank fusion of two ranked id lists: ``vec`` = (id,
    vec_rank), ``kw`` = (id, kw_rank).  rrf_e6 = sum over lists of
    1e6 div (RRF_K + rank); absence contributes 0 and reports rank 0.
    Both inputs are top-pool lists (tiny): full-outer join + one
    TakeOrderedAndProject — the heavy lifting happened in the two
    retrievers."""
    fused = (
        vec.join(kw, "id", "full_outer")
        .select(
            "id",
            F.coalesce(F.col("vec_rank"), F.lit(0)).cast("long").alias("vec_rank"),
            F.coalesce(F.col("kw_rank"), F.lit(0)).cast("long").alias("kw_rank"),
        )
        .withColumn(
            "rrf_e6",
            F.expr(
                f"(case when vec_rank > 0 then 1000000 div ({C.RRF_K} + vec_rank) "
                f" else 0 end) + "
                f"(case when kw_rank > 0 then 1000000 div ({C.RRF_K} + kw_rank) "
                f" else 0 end)"
            ).cast("long"),
        )
    )
    w = Window.orderBy(F.desc("rrf_e6"), F.asc("id"))
    return (
        fused.orderBy(F.desc("rrf_e6"), F.asc("id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "vec_rank",
            "kw_rank",
            "rrf_e6",
            "rank",
        )
    )


def hybrid_rrf(
    embeddings: DataFrame,
    docs: DataFrame,
    k: int = C.TOPK,
    pool: int = C.HYBRID_POOL,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the vector top-`pool`
    (query vec 0) and the BM25 top-`pool` (query set 0) over the shared
    doc_id == vec_id key space (the same identity ``search.topk_enriched``
    joins on).  rrf_e6 = sum over lists of 1e6 div (RRF_K + rank); a doc
    absent from a list contributes 0 and reports rank 0 for that list.

    Scale: both inputs are already top-`pool` lists (tiny) — the fusion is a
    broadcast-sized full outer join + one TakeOrderedAndProject; all the
    heavy lifting happened inside the two retrievers."""
    from .search import vector_topk

    vec = vector_topk(embeddings, k=pool).select(
        F.col("vec_id").alias("id"), F.col("rank").alias("vec_rank")
    )
    kw = bm25_topk_multi(docs, queries={0: C.FTS_QUERIES[0]}, k=pool).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("kw_rank")
    )
    return rrf_fuse(vec, kw, k)


def hybrid_rrf_prebuilt(
    spark,
    embeddings: DataFrame,
    ivf_index_path: str,
    fts_index_path: str,
    k: int = C.TOPK,
    pool: int = C.HYBRID_POOL,
) -> DataFrame:
    """The search-many production shape of hybrid retrieval: BOTH
    retrievers run against their persisted indexes — BM25 over the
    token-hash-bucket-pruned postings (``bm25_topk_prebuilt``) and the
    vector side over the cent_id-partition-pruned IVF index
    (``search.ivf_topk_prebuilt``) — then the same exact RRF fusion.  The
    vector list is IVF-approximate by design (that IS the prebuilt scale
    path); fusion semantics are identical to :func:`hybrid_rrf`."""
    from .search import ivf_topk_prebuilt

    vec = ivf_topk_prebuilt(spark, embeddings, ivf_index_path, k=pool).select(
        F.col("vec_id").alias("id"), F.col("rank").alias("vec_rank")
    )
    kw = bm25_topk_prebuilt(
        spark, fts_index_path, queries={0: C.FTS_QUERIES[0]}, k=pool
    ).select(F.col("doc_id").alias("id"), F.col("rank").alias("kw_rank"))
    return rrf_fuse(vec, kw, k)


def _score_expr() -> str:
    """The shared exact-int64 BM25 term-score expression (docstring of
    ``bm25_topk_multi`` derives it) — one definition for the inline and
    prebuilt paths so they cannot drift."""
    return (
        f"(least((1000000 * (2*n_docs - 2*df + 1)) div (2*df + 1), "
        f"       cast({C.FTS_IDF_CAP_E6} as bigint))"
        f" * ((1000000 * 22 * least(tf, {C.FTS_TF_CAP}) * avgdl_e3) div "
        f"    (10 * least(tf, {C.FTS_TF_CAP}) * avgdl_e3 + 3 * avgdl_e3 "
        f"     + 9000 * dl))"
        f") div 1000"
    )


def fts_phrase_topk(
    docs: DataFrame,
    phrases: dict[int, tuple[str, ...]] | None = None,
    k: int = C.FTS_TOPK,
) -> DataFrame:
    """Positional phrase search — exact-adjacency matching the term-level
    FTS family cannot express (BM25 treats ("table","scan") as a bag; this
    requires "scan" at the very next token position).  The reference's
    retrieval layer has no phrase operator either (pgvector ranks vectors
    only); this is positional-inverted-index semantics (Manning, Raghavan
    & Schütze 2008 §2.4, public) re-expressed relationally.

    Algorithm: tokenize with positions, keep only tokens occurring in some
    phrase (broadcast prune), map each matched (pos, term-index) row to the
    phrase start it would witness (``start = pos - idx``), and a start
    where ALL ``m`` term indexes are witnessed is a phrase occurrence —
    ``count(*) == m`` is exact because (start, idx) determines pos, so no
    idx can be witnessed twice at one start.  Occurrences score as BM25
    with tf = occurrence count and df = matching-doc count (the standard
    phrase-as-virtual-term reduction), sharing ``_score_expr`` verbatim.

    Scale shape (10^12 docs): the corpus-sized work is ONE narrow token
    explode, pruned map-side by the broadcast phrase-term join BEFORE the
    only match-sized exchange (the (doc, q, start) hash-agg over matched
    rows only); ``dl`` is a narrow per-row projection (size of the split
    array — no second explode, no postings pass), joined to candidates
    doc-keyed (AQE broadcasts the candidate side); the df window runs over
    candidate docs only.  Overlapping occurrences count separately; a
    phrase with zero occurrences (q_id 3's absent token) emits no row."""
    phrases = phrases or C.FTS_PHRASES
    spark = docs.sparkSession
    pt = spark.createDataFrame(
        [(q, i, t) for q, ts in sorted(phrases.items()) for i, t in enumerate(ts)],
        "q_id long, idx long, token string",
    )
    pl = spark.createDataFrame(
        [(q, len(ts)) for q, ts in sorted(phrases.items())], "q_id long, m long"
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), C.WS_SPLIT_RE)
        ).alias("pos0", "token"),
    ).where(F.col("token") != "")
    starts = (
        toks.join(F.broadcast(pt), "token")
        .groupBy("doc_id", "q_id", (F.col("pos0") - F.col("idx")).alias("start"))
        .agg(F.count("*").alias("nmatch"))
        .join(F.broadcast(pl), "q_id")
        .where(F.col("nmatch") == F.col("m"))
    )
    ptf = starts.groupBy("q_id", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )
    dlf = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.lower(F.col("text"))), C.WS_SPLIT_RE)))
        .cast("long")
        .alias("dl"),
    )
    stats = dlf.agg(
        F.count("*").alias("n_docs"),
        F.expr("(1000 * sum(dl)) div count(*)").alias("avgdl_e3"),
    )
    scored = (
        ptf.withColumn("df", F.count("*").over(Window.partitionBy("q_id")))
        .join(dlf, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("q_id", "doc_id", "tf", F.expr(_score_expr()).alias("score_e9"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_e9"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("tf").cast("long").alias("tf"),
            F.col("score_e9").cast("long").alias("score_e9"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def tfidf_topk_terms(docs: DataFrame, k: int = C.TFIDF_TOPK) -> DataFrame:
    """Per-document top-K keyword extraction by TF-IDF — the corpus
    summarization / labeling primitive (what a pipeline owner reads to see
    WHAT a document cluster is about).  Reuses the FTS contract verbatim:
    same tokenizer as :func:`postings`, same log-free capped ``idf_e6``,
    ``tfidf_e6 = idf_e6 * least(tf, FTS_TF_CAP)`` (int64 bound 5e11),
    rank ties break on token ASC.

    Scale shape (10^12 docs): ONE postings derivation (a separate df
    aggregate would re-explode the corpus — multiple references to the
    postings subtree plan independently, PLANS.md #11), df as a count
    window over the token-keyed exchange, then the per-doc top-K window
    as the second, doc-keyed exchange.  No corpus-sized driver collect."""
    return tfidf_from_postings(
        postings(docs), docs.agg(F.count("*").alias("n_docs")), k
    )


def tfidf_from_postings(
    post: DataFrame, n: DataFrame, k: int = C.TFIDF_TOPK
) -> DataFrame:
    """Shared tf-idf tail for every postings source (inline-derived or the
    streaming index's merged base ∪ deltas).  ``post`` must hold at most
    one row per (doc_id, token); ``n`` is one row (n_docs)."""
    scored = (
        post.select("doc_id", "token", "tf")
        .withColumn(
            "df", F.count("*").over(Window.partitionBy("token")).cast("long")
        )
        .crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "token",
            F.col("tf").cast("long").alias("tf"),
            "df",
            F.expr(
                f"least((1000000 * (2*n_docs - 2*df + 1)) div (2*df + 1), "
                f"cast({C.FTS_IDF_CAP_E6} as bigint)) * least(tf, {C.FTS_TF_CAP})"
            )
            .cast("long")
            .alias("tfidf_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_e6"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def score_candidates(
    post: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    queries: dict[int, tuple[str, ...]],
    k: int,
) -> DataFrame:
    """Shared scoring tail for every postings source (inline-derived,
    prebuilt-bucketed, streaming-merged): broadcast query-term prune, df
    count window over the pruned candidates, doc-length join, exact-int64
    BM25, per-query top-k.  ``post`` must contain at most one row per
    (doc_id, token); ``dl`` is (doc_id, dl) for at least every candidate
    doc; ``stats`` is one row (n_docs, avgdl_e3)."""
    spark = post.sparkSession
    qt = spark.createDataFrame(
        [(q, t) for q, ts in sorted(queries.items()) for t in ts],
        "q_id long, token string",
    )
    qtok = qt.select("token").distinct()
    cand = post.join(F.broadcast(qtok), "token").withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    )
    scored = (
        cand.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("n_docs", "avgdl_e3")))
        .join(F.broadcast(qt), "token")
        .select("q_id", "doc_id", F.expr(_score_expr()).alias("term_score_e9"))
    )
    agg = scored.groupBy("q_id", "doc_id").agg(
        F.sum("term_score_e9").alias("score_e9")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_e9"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("score_e9").cast("long").alias("score_e9"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def query_term_buckets(
    spark, queries: dict[int, tuple[str, ...]], n_buckets: int
) -> list[int]:
    """The postings buckets the query terms hash to — computed with Spark's
    own xxhash64 so it can never drift from the build-side partitioning.
    Driver-side planning metadata, not data."""
    terms = sorted({t for ts in queries.values() for t in ts})
    return sorted(
        r["bucket"]
        for r in spark.createDataFrame([(t,) for t in terms], "token string")
        .select(F.pmod(F.xxhash64("token"), F.lit(n_buckets)).alias("bucket"))
        .distinct()
        .collect()
    )


def bm25_topk_prebuilt(
    spark,
    path: str,
    queries: dict[int, tuple[str, ...]] | None = None,
    k: int = C.FTS_TOPK,
) -> DataFrame:
    """Search-many side of the ``fts_build`` split: identical scores to
    ``bm25_topk_multi`` but the postings scan is PRUNED to the token-hash
    buckets the query terms land in (PartitionFilters — asserted in
    test_fulltext), so per-query IO is proportional to the matched buckets,
    not the index.  The bucket list is a driver-side planning step over the
    literal query terms (metadata, not data — same pattern as
    ``search.ivf_topk_prebuilt``'s probe-list planning)."""
    from ..sources.tables import read_versioned

    # the streaming FTS maintainer folds into versions of these tables
    queries = queries or C.FTS_QUERIES
    stats, _ = read_versioned(spark, f"{path}/_stats")
    n_buckets = int(stats.collect()[0]["n_buckets"])
    buckets = query_term_buckets(spark, queries, n_buckets)
    post, _ = read_versioned(spark, f"{path}/postings")
    post = post.where(F.col("bucket").isin(buckets))
    dl, _ = read_versioned(spark, f"{path}/doclen")
    return score_candidates(post, dl, stats, queries, k)


def fts_build(docs: DataFrame, path: str, n_buckets: int = 32) -> None:
    """Build-once side of the index: persist postings + doc lengths
    partitioned by a token hash bucket so a query-time reader scans only the
    buckets its terms hash to (PartitionFilters — the same pruning shape
    ``search.ivf_build`` demonstrates for vectors).  The scoring constants
    (N, sum_dl) land in a 1-row _stats table next to the postings."""
    spark = docs.sparkSession
    (
        postings(docs)
        .withColumn("bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets)))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    # derive doc lengths from the WRITTEN postings — no second corpus pass
    written = spark.read.parquet(f"{path}/postings")
    doc_lengths(written).write.mode("overwrite").parquet(f"{path}/doclen")
    (
        corpus_stats(docs)
        .withColumn("n_buckets", F.lit(n_buckets).cast("int"))
        .write.mode("overwrite")
        .parquet(f"{path}/_stats")
    )


def anchor_postings(partials: DataFrame) -> DataFrame:
    """Inverted postings over the ANCHOR-TEXT index: each target href is a
    virtual document whose terms are every anchor text pointing at it,
    term frequency weighted by the occurrence count — exactly the postings
    of the cnt-fold concatenation, derived WITHOUT building the string.
    Input = ``htmlextract.anchor_text_partials`` rows (or the streaming
    index's merged partials — the live anchor index is searchable with the
    same operator). Same tokenization contract as :func:`_tokens`."""
    toks = partials.select(
        "href",
        F.col("cnt").cast("long").alias("cnt"),
        F.explode(
            F.split(F.trim(F.lower(F.col("anchor_text"))), C.WS_SPLIT_RE)
        ).alias("token"),
    ).where(F.col("token") != "")
    return toks.groupBy("href", "token").agg(
        F.sum("cnt").cast("long").alias("tf")
    )


def anchor_bm25_topk(
    partials: DataFrame,
    queries: dict[int, tuple[str, ...]] | None = None,
    k: int = C.FTS_TOPK,
) -> DataFrame:
    """BM25 top-k over the anchor-text index: what a web search engine
    does with anchor text — index it under the TARGET, so a page ranks
    for words other pages use to describe it even when its own content
    never says them. (q_id, href, score_e9, rank); identical exact-int64
    arithmetic to :func:`bm25_topk_multi` (the shared ``_score_expr``),
    keyed on the target URL instead of doc_id.

    Plan mirrors ``bm25_topk_multi``: postings + per-target dl via one
    href window, broadcast query-term prune, df window over the PRUNED
    candidates, per-query TakeOrdered-sized rank window. The partials
    input is summary-sized (distinct (href, text) pairs), never raw
    anchors."""
    queries = queries or C.ANCHOR_QUERIES
    qt = _query_terms(partials, queries)
    qtok = qt.select("token").distinct()
    post = anchor_postings(partials).withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("href"))
    )
    cand = post.join(F.broadcast(qtok), "token").withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    )
    stats = (
        partials.agg(F.countDistinct("href").alias("n_docs"))
        .crossJoin(
            anchor_postings(partials).agg(F.sum("tf").alias("sum_dl"))
        )
        .withColumn("avgdl_e3", F.expr("(1000 * sum_dl) div n_docs"))
    )
    scored = (
        cand.join(F.broadcast(qt), "token")
        .crossJoin(F.broadcast(stats))
        .select("q_id", "href", F.expr(_score_expr()).alias("term_score_e9"))
    )
    agg = scored.groupBy("q_id", "href").agg(
        F.sum("term_score_e9").cast("long").alias("score_e9")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_e9"), F.asc("href"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            "href",
            F.col("score_e9").cast("long").alias("score_e9"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
