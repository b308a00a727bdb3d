"""Product-quantization ANN — the IVFADC building block (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Reference parity: the reference's vector search is pgvector exact scan
(src/vector_store/pgvector_client.py:199-221); PQ is the extension scale
path the task brief asks for beyond IVF — at 10^12 vectors the raw
fixed-point vectors are 512 bytes each, the PQ codes 8 small ints, so the
ADC scan touches ~64x fewer bytes than the exact scan and the exact dot is
paid only for the PQ_RERANK shortlist.

Design (100 TB):
  * codebook = PQ_M x PQ_K subvectors, a ~128-row table. For encoding it is
    collected once (metadata-class, like ivf_topk_prebuilt's probe ids) and
    closed over by an Arrow-vectorized kernel — exactly how a real cluster
    ships a codebook to executors (broadcast constant).
  * encoding is one narrow mapInArrow-style pass: argmin over PQ_K exact
    int64 L2^2 distances per subspace, no shuffle.
  * single-query search (inline, IVFADC, prebuilt and streaming-merged
    alike) is one :func:`_pq_search` over its own code source: the query
    LUT folds into the code scan as LITERAL arrays — zero shuffle until
    the TakeOrderedAndProject shortlist; a prebuilt index scan reads
    (vec_id, codes) only (ReadSchema asserted in test_pq_index) — then
    the shared exact re-rank (search._rerank_topk).
  * batch (``_multi``) ADC scoring joins the exploded codes against the
    broadcast (q_id, m, code, part)-LUT and sums per vector: map-side
    combine collapses the PQ_M rows of a vector before the exchange, so
    the shuffle carries one (q_id, vec_id, adot) row per vector — ids and
    longs, never vectors.
  * all quantities are exact int64 (|dot| <= 64 * 1e6 * 1e6 < 2^53), so the
    DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import contract as C
from .search import (
    _centroids,
    _dot,
    _ivf_assign,
    _probe_ids,
    _qv_np,
    _rerank_topk,
    fixed_point_vec,
)


def pq_codebook(embeddings: DataFrame) -> DataFrame:
    """The (m, code, cw) codebook table: subvector ``m`` of each of the
    first PQ_K corpus vectors (deterministic stand-in for per-subspace
    k-means, the `_centroids` precedent). PQ_M * PQ_K rows."""
    base = embeddings.where(F.col("vec_id") < C.PQ_K).select(
        F.col("vec_id").cast("long").alias("code"),
        fixed_point_vec(F.col("embedding")).alias("ev"),
    )
    parts = [
        base.select(
            F.lit(m).cast("long").alias("m"),
            "code",
            F.slice(F.col("ev"), m * C.PQ_SUB + 1, C.PQ_SUB).alias("cw"),
        )
        for m in range(C.PQ_M)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _codebook_np(codebook: DataFrame) -> np.ndarray:
    """THE codebook reader: collect an (m, code, cw) table — the inline
    :func:`pq_codebook` or a persisted sidecar — to a (PQ_M, PQ_K, PQ_SUB)
    int64 array; query-planning metadata (PQ_M*PQ_K*PQ_SUB = 1024 ints),
    not a data collect.

    Completeness is ASSERTED: a corpus with non-contiguous vec_ids (or a
    truncated sidecar) yields fewer than PQ_K codewords, a zero-filled
    codeword would then score and encode as a real one, and scores would
    diverge from the oracle — fail fast instead (round-3 ADVICE.md)."""
    rows = codebook.collect()
    if len(rows) != C.PQ_M * C.PQ_K:
        raise ValueError(
            f"pq codebook incomplete: {len(rows)} rows, expected "
            f"{C.PQ_M * C.PQ_K} (corpus vec_ids must cover 0..{C.PQ_K - 1})"
        )
    cb = np.zeros((C.PQ_M, C.PQ_K, C.PQ_SUB), dtype=np.int64)
    for r in rows:
        cb[r["m"], r["code"], :] = r["cw"]
    return cb


def _encode_kernel(cb: np.ndarray):
    """Arrow encode kernel over a fixed-point ``ev`` column: codes[m] =
    argmin_c L2^2(subvec_m, codebook[m][c]), smallest code winning ties
    (np.argmin first-occurrence == the oracle's ORDER BY d, code)."""
    from pyspark.sql.functions import pandas_udf

    # per-code squared norms, precomputed once per kernel build (M, K)
    c2 = np.einsum("mks,mks->mk", cb, cb)

    @pandas_udf("array<int>")
    def encode(ev: pd.Series) -> pd.Series:
        if ev.empty:
            return pd.Series([], dtype="object")
        E = np.stack(ev.to_numpy()).astype(np.int64, copy=False)
        S = E.reshape(E.shape[0], C.PQ_M, C.PQ_SUB)
        # argmin_c ||x - c||^2 == argmin_c (-2 x.c + ||c||^2): the ||x||^2
        # term is constant per (row, subspace) so dropping it preserves
        # distances' relative order AND ties exactly (bit-equality with the
        # broadcast-difference form is pinned in test_pq_index).  Memory:
        # the old (n, M, K, SUB) difference tensor was ~8 KB/row and linear
        # in K (a realistic K=256 would be ~1.3 GB per 10k Arrow batch,
        # round-3 ADVICE.md); this is one (n, M, K) einsum — SUB-fold less.
        # All terms stay exact int64 (|x.c| <= SUB * 1e12 << 2^63).
        d = c2[None, :, :] - 2 * np.einsum("nms,mks->nmk", S, cb)
        codes = d.argmin(axis=2).astype(np.int32)
        return pd.Series(list(codes))

    return encode


def pq_assign(embeddings: DataFrame, cb: np.ndarray | None = None) -> DataFrame:
    """Encode every vector: (vec_id, codes array<int> of length PQ_M).
    One narrow Arrow pass, no shuffle. Pass ``cb`` to encode against a
    FROZEN codebook (the streaming insert rule — re-training the codebook
    is a rebuild, not maintenance)."""
    if cb is None:
        cb = _codebook_np(pq_codebook(embeddings))
    encode = _encode_kernel(cb)
    return embeddings.select(
        "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
    ).select("vec_id", encode(F.col("ev")).alias("codes"))


def pq_codes(embeddings: DataFrame) -> DataFrame:
    """Driver/oracle surface of the encoding: one (vec_id, m, code) scalar
    row per subspace."""
    return pq_assign(embeddings).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.posexplode("codes").alias("m", "code"),
    ).select("vec_id", F.col("m").cast("long").alias("m"), F.col("code").cast("long").alias("code"))


def _queries(embeddings: DataFrame, n_queries: int) -> DataFrame:
    return embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        fixed_point_vec(F.col("embedding")).alias("qv"),
    )


def _lut(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """Per-(q, m, code) partial dot: dot(q_subvec_m, codeword). Tiny —
    n_queries * PQ_M * PQ_K rows — and broadcast to the scoring join."""
    sub_q = F.slice(F.col("qv"), F.col("m").cast("int") * C.PQ_SUB + 1, C.PQ_SUB)
    return (
        pq_codebook(embeddings)
        .crossJoin(F.broadcast(queries))
        .select(
            "q_id",
            "m",
            "code",
            F.aggregate(
                F.zip_with(F.col("cw"), sub_q, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("part"),
        )
    )


def _adc_scores(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """(q_id, vec_id, adot_e12): asymmetric-distance (here: asymmetric
    inner-product) score = sum over subspaces of LUT[q][m][code]. The
    exploded codes join the broadcast LUT map-side; the groupBy's partial
    aggregation collapses a vector's PQ_M rows before the exchange."""
    ex = pq_assign(embeddings).select("vec_id", F.posexplode("codes").alias("m", "code"))
    return (
        ex.join(F.broadcast(_lut(embeddings, queries)), ["m", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("part").cast("long").alias("adot_e12"))
    )


def _pq_search(
    codes: DataFrame,
    vectors: DataFrame,
    cb: np.ndarray,
    qv: np.ndarray,
    k: int,
    rerank: int,
) -> DataFrame:
    """The search tail every single-query PQ/IVFADC entry point shares:
    the ``rerank`` best (vec_id, codes) rows by literal-LUT ADC score
    (:func:`_adc_literal_score`; adot_e12 desc, vec_id asc), then the
    exact re-rank against ``vectors``."""
    shortlist = (
        codes.select("vec_id", _adc_literal_score(cb, qv).alias("adot_e12"))
        .orderBy(F.desc("adot_e12"), F.asc("vec_id"))
        .limit(rerank)
    )
    ranked = _rerank_topk(shortlist, vectors, qv, k)
    return ranked.select("rank", "vec_id", "adot_e12", "dot_e12")


def pq_topk(
    embeddings: DataFrame,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """PQ ADC search + exact re-rank: shortlist the ``rerank`` best vectors
    by quantized score (TakeOrderedAndProject over one row per vector),
    fetch ONLY the shortlist's true vectors, exact-dot re-rank to top-k.
    Output (rank, vec_id, adot_e12, dot_e12) — the quantized score is kept
    so the oracle pins the ADC arithmetic, not just the final order."""
    cb = _codebook_np(pq_codebook(embeddings))
    qv = _qv_np(embeddings, query_vec_id)
    return _pq_search(pq_assign(embeddings, cb), embeddings, cb, qv, k, rerank)


def pq_topk_multi(
    embeddings: DataFrame,
    n_queries: int = C.MULTI_QUERY_N,
    k: int = C.MULTI_TOPK,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """Batch PQ search: codes computed once, per-query LUTs in one broadcast,
    per-query shortlist + exact re-rank via two q_id-partitioned windows —
    the vector_topk_multi shape over quantized scores."""
    qs = _queries(embeddings, n_queries)
    ws = Window.partitionBy("q_id").orderBy(F.desc("adot_e12"), F.asc("vec_id"))
    shortlist = (
        _adc_scores(embeddings, qs)
        .withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= rerank)
        .select("q_id", "vec_id", "adot_e12")
    )
    return _rerank_multi(shortlist, embeddings, qs, k)


def _rerank_multi(
    shortlist: DataFrame, embeddings: DataFrame, qs: DataFrame, k: int
) -> DataFrame:
    """Per-query exact re-rank of the (q_id, vec_id, adot_e12) shortlists:
    joined to the vectors before their fixed-point conversion, one q_id
    window."""
    cand = embeddings.join(F.broadcast(shortlist), "vec_id").select(
        "q_id",
        "vec_id",
        "adot_e12",
        fixed_point_vec(F.col("embedding")).alias("ev"),
    )
    hits = cand.join(F.broadcast(qs), "q_id").select(
        "q_id", "vec_id", "adot_e12", _dot(F.col("ev"), F.col("qv")).alias("dot_e12")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot_e12"), F.asc("vec_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", "adot_e12", "dot_e12")
    )


def pq_recall(
    embeddings: DataFrame,
    n_queries: int = C.MULTI_QUERY_N,
    k: int = C.MULTI_TOPK,
) -> DataFrame:
    """Recall@k of the PQ path vs brute-force ground truth per query — the
    ivf_recall evaluation re-aimed at the quantized index. Fixed-point
    recall_micro."""
    from .search import vector_topk_multi

    brute = vector_topk_multi(embeddings, n_queries, k)
    approx = pq_topk_multi(embeddings, n_queries, k)
    found = brute.join(
        approx.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi"
    )
    return (
        brute.groupBy("q_id")
        .agg(F.count("*").alias("n_truth"))
        .join(found.groupBy("q_id").agg(F.count("*").alias("n_hits")), "q_id", "left")
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.floor(F.coalesce("n_hits", F.lit(0)) * 1_000_000 / F.col("n_truth"))
            .cast("long")
            .alias("recall_micro"),
        )
    )


def _adc_literal_score(cb: np.ndarray, qv: np.ndarray) -> "F.Column":
    """THE PQ shortlist scorer: ADC score column over a ``codes`` array
    column with the query LUT — the (PQ_M, PQ_K) exact int64 partial dots
    of ``qv`` against every codeword — folded in as LITERAL arrays: a pure
    codegen projection (PQ_M element_at lookups + adds), zero shuffle."""
    lut = np.einsum("mks,ms->mk", cb, qv.reshape(C.PQ_M, C.PQ_SUB))
    adot = None
    for m in range(C.PQ_M):
        lut_m = F.array(*[F.lit(int(v)).cast("long") for v in lut[m]])
        term = F.element_at(lut_m, F.element_at(F.col("codes"), m + 1) + 1)
        adot = term if adot is None else adot + term
    return adot.cast("long")


def pq_build(embeddings: DataFrame, index_path: str) -> None:
    """Build phase: persist the code table (vec_id, codes — 8 small ints
    per vector, the 64x-compressed index) and the tiny codebook sidecar.
    Unpartitioned by design: ADC scans every code, there is no pruning
    dimension — the compression IS the scan saving."""
    from ..sources import tables

    tables.replace_table(pq_assign(embeddings), f"{index_path}/codes")
    tables.replace_table(pq_codebook(embeddings), f"{index_path}/codebook")


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    n_centroids: int = C.IVF_CENTROIDS,
    n_probe: int = C.IVF_PROBE,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """IVFADC end-to-end (Jégou 2011 §IV) — the canonical billion-scale
    layout, composed from this repo's two halves: the coarse quantizer
    (IVF nearest-centroid assignment) prunes to the ``n_probe`` probed
    lists, PQ codes score the survivors (asymmetric inner product against
    the literal query LUT), and only the ``rerank`` shortlist pays the exact
    dot. At 10^12 vectors the scan touches n_probe/n_lists of the corpus
    AND reads 8 small ints per survivor instead of the 512-byte vector —
    the two savings multiply. Declarative inline form (oracle-paired);
    :func:`ivfpq_build`/:func:`ivfpq_topk_prebuilt` are the persisted
    shape where the probed lists are partition directories."""
    qv = _qv_np(embeddings, query_vec_id)
    probe_ids = _probe_ids(_centroids(embeddings, n_centroids), qv, n_probe)
    cb = _codebook_np(pq_codebook(embeddings))
    codes = (
        _ivf_assign(embeddings, n_centroids)
        .where(F.col("cent_id").isin(probe_ids))
        .select("vec_id", _encode_kernel(cb)(F.col("ev")).alias("codes"))
    )
    return _pq_search(codes, embeddings, cb, qv, k, rerank)


def ivfpq_topk_multi(
    embeddings: DataFrame,
    n_queries: int = C.MULTI_QUERY_N,
    k: int = C.MULTI_TOPK,
    n_centroids: int = C.IVF_CENTROIDS,
    n_probe: int = C.IVF_PROBE,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """Batch IVFADC — the production search-many shape of
    :func:`ivfpq_topk`: coarse assignment computed ONCE for the whole
    query set, per-query probe lists from the tiny broadcast
    (centroids x queries) cross, PQ codes computed ONCE in a narrow Arrow
    pass, ADC restricted to each query's probed lists against the
    broadcast per-query LUT (map-side combine collapses a vector's PQ_M
    rows before the exchange), and only each query's ``rerank`` shortlist
    pays the exact dot.  Two q_id-keyed row_number shuffles — the
    pq_topk_multi shape with the IVF pruning in front."""
    assigned = _ivf_assign(embeddings, n_centroids)  # (vec_id, ev, cent_id)
    qs = _queries(embeddings, n_queries)
    wp = Window.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("cent_id"))
    probes = (
        _centroids(embeddings, n_centroids)
        .crossJoin(F.broadcast(qs))
        .select("q_id", "cent_id", _dot(F.col("cv"), F.col("qv")).alias("qdot"))
        .withColumn("prank", F.row_number().over(wp))
        .where(F.col("prank") <= n_probe)
        .select("q_id", "cent_id")
    )
    cb = _codebook_np(pq_codebook(embeddings))
    # narrow encode of the assignment's ev (no shuffle), then fan each
    # vector's codes out to the queries probing its list
    coded = assigned.select(
        "vec_id", "cent_id", _encode_kernel(cb)(F.col("ev")).alias("codes")
    )
    pruned = coded.join(F.broadcast(probes), "cent_id")
    ex = pruned.select("q_id", "vec_id", F.posexplode("codes").alias("m", "code"))
    adot = (
        ex.join(F.broadcast(_lut(embeddings, qs)), ["q_id", "m", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("part").cast("long").alias("adot_e12"))
    )
    ws = Window.partitionBy("q_id").orderBy(F.desc("adot_e12"), F.asc("vec_id"))
    shortlist = (
        adot.withColumn("srn", F.row_number().over(ws))
        .where(F.col("srn") <= rerank)
        .select("q_id", "vec_id", "adot_e12")
    )
    return _rerank_multi(shortlist, embeddings, qs, k)


def ivfpq_build(
    embeddings: DataFrame,
    index_path: str,
    n_centroids: int = C.IVF_CENTROIDS,
) -> None:
    """Build the persisted IVFADC index: (vec_id, codes) PARTITIONED BY
    cent_id — probed lists become partition directories (the IVF pruning),
    each storing 8 small ints per vector (the PQ compression) — plus the
    codebook and frozen-centroid sidecars. No join: coding runs as a
    narrow kernel over the assignment's ev before it is dropped."""
    from ..sources import tables

    cb = _codebook_np(pq_codebook(embeddings))
    assigned = _ivf_assign(embeddings, n_centroids)
    idx = assigned.select(
        "vec_id", "cent_id", _encode_kernel(cb)(F.col("ev")).alias("codes")
    )
    tables.overwrite_partitions(idx, f"{index_path}/codes", ["cent_id"])
    tables.replace_table(pq_codebook(embeddings), f"{index_path}/codebook")
    tables.replace_table(
        _centroids(embeddings, n_centroids), f"{index_path}/_centroids"
    )


def ivfpq_topk_prebuilt(
    spark,
    embeddings: DataFrame,
    index_path: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    n_probe: int = C.IVF_PROBE,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """Search the persisted IVFADC index: probe ids + codebook + query are
    planning metadata; the scan reads ONLY the probed partition
    directories (PartitionFilters) and ONLY (vec_id, codes) within them
    (ReadSchema) — both prunings asserted in test_pq_index; literal-LUT
    ADC, exact re-rank of the shortlist against the primary vectors.
    Identical to :func:`ivfpq_topk` by construction."""
    from ..sources import tables

    # sidecars go through the table shim like the codes table: ivfpq_build
    # writes them via replace_table, so a configured SPARK_GRAFT_CATALOG
    # must route the reads to the same storage (round-3 ADVICE.md)
    qv = _qv_np(embeddings, query_vec_id)
    cents = tables.read_table(spark, f"{index_path}/_centroids")
    probe_ids = _probe_ids(cents, qv, n_probe)
    cb = _codebook_np(tables.read_table(spark, f"{index_path}/codebook"))
    # the streaming IVFADC maintainer folds into versions of this table
    codes, _ = tables.read_versioned(spark, f"{index_path}/codes")
    codes = codes.where(F.col("cent_id").isin(probe_ids))
    return _pq_search(codes, embeddings, cb, qv, k, rerank)


def pq_topk_prebuilt(
    spark,
    embeddings: DataFrame,
    index_path: str,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    rerank: int = C.PQ_RERANK,
) -> DataFrame:
    """Search phase over a :func:`pq_build` index — the production
    search-many shape: the codebook sidecar and the query vector are
    planning metadata (1024 + 64 ints collected once per query batch); the
    LUT folds into the code scan as LITERAL arrays, so scoring is a narrow
    projection over (vec_id, codes) — zero shuffle before the
    TakeOrderedAndProject shortlist — and only the shortlist joins back to
    the true vectors for the exact re-rank. Results are identical to the
    inline :func:`pq_topk` by construction (asserted in test_pq_index)."""
    from ..sources import tables

    cb = _codebook_np(tables.read_table(spark, f"{index_path}/codebook"))
    qv = _qv_np(embeddings, query_vec_id)
    codes = tables.read_table(spark, f"{index_path}/codes")
    return _pq_search(codes, embeddings, cb, qv, k, rerank)
