"""Trained k-means centroids (Lloyd's algorithm) over the embedding corpus
— the trained upgrade to the IVF family's deterministic first-N centroid
stand-in (reference analog: pgvector's ivfflat builds lists by k-means;
src/vector_store/pgvector_client.py's index DDL).

Determinism contract: init = the first KM_K corpus vectors (fixed-point
int64), assignment = exact int64 L2^2 argmin (ties -> smaller cent_id),
update = element-wise floor(sum / count) with the division done in float64
(|sum| <= cluster_rows * 1e6, exactly representable while clusters stay
under 2^53/1e6 ~ 9e9 rows — true even at a 10^12 corpus once k grows with
it; beyond that both engines would switch to exact big-int floor division
— DuckDB's `//` truncates toward zero, so it is NOT that operator), and
floor agrees bit-for-bit with the DuckDB oracle's
floor(cast(sum as double) / count); empty clusters carry the previous
centroid.  The whole loop is therefore a pure function of the
corpus — resumable, partitioning-invariant, and replayable in ANSI SQL by
unrolling KM_ITERS rounds (the PageRank unrolled-oracle precedent).

100-TB shape per iteration: ONE narrow Arrow assignment pass against the
broadcast centroid matrix (no shuffle — the pq_assign precedent), then one
skinny (cent_id, dim, val) shuffle with map-side partial aggregation (the
exchange carries at most k * EMBED_DIM rows per map task, never vectors).
Centroids are metadata (k x 64 ints) and live driver-side between rounds,
exactly like the PQ codebook.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import contract as C
from .search import _exact_topk, _qv_np, fixed_point_vec


def _init_np(embeddings: DataFrame, k: int) -> np.ndarray:
    """(k, EMBED_DIM) int64 init matrix = first-k corpus vectors, ordered
    by vec_id (metadata-sized collect)."""
    rows = (
        embeddings.where(F.col("vec_id") < k)
        .select("vec_id", fixed_point_vec(F.col("embedding")).alias("cv"))
        .orderBy("vec_id")
        .collect()
    )
    assert len(rows) == k, f"kmeans: expected {k} init vectors, got {len(rows)}"
    return np.array([r.cv for r in rows], dtype=np.int64)


def _assign_l2(cents: np.ndarray):
    """Arrow kernel: nearest centroid by exact L2^2 = (||c||^2 - 2 x.c)
    (the ||x||^2 term is constant per row — dropping it preserves order and
    ties, the pq.py _encode_kernel argument).  All intermediates are
    integer-valued float64 < 2^53: exact, so ties break exactly like the
    oracle's ORDER BY d, cent_id (np.argmin = first occurrence = smallest
    cent_id for rows ordered by cent_id)."""
    from pyspark.sql.functions import pandas_udf

    cf = cents.astype(np.float64)
    c2 = np.einsum("ij,ij->i", cf, cf)

    @pandas_udf("long")
    def assign(ev: pd.Series) -> pd.Series:
        if ev.empty:
            return pd.Series([], dtype="int64")
        E = np.stack(ev.to_numpy()).astype(np.float64)
        d = c2[None, :] - 2.0 * (E @ cf.T)
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    return assign


def kmeans_np(
    embeddings: DataFrame, k: int = C.KM_K, iters: int = C.KM_ITERS
) -> np.ndarray:
    """Run ``iters`` Lloyd rounds; return the (k, EMBED_DIM) int64 trained
    centroid matrix.  Feed it to semdedup(cents=...) /
    ivf_topk_trained-style consumers as a FROZEN quantizer."""
    cents = _init_np(embeddings, k)
    ev = embeddings.select("vec_id", fixed_point_vec(F.col("embedding")).alias("ev"))
    for _ in range(iters):
        assigned = ev.select(_assign_l2(cents)(F.col("ev")).alias("cent_id"), "ev")
        sums = (
            assigned.select("cent_id", F.posexplode("ev").alias("dim", "val"))
            .groupBy("cent_id", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        nxt = cents.copy()  # empty clusters carry the previous centroid
        for r in sums:
            nxt[r.cent_id, r.dim] = int(np.floor(r.s / r.cnt))
        cents = nxt
    return cents


def _cents_df(embeddings: DataFrame, cents: np.ndarray) -> DataFrame:
    """Trained centroid matrix as a (cent_id, cv) frame — broadcast-sized,
    the shape search.assign_to_centroids consumes."""
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i, [int(x) for x in cents[i]]) for i in range(len(cents))],
        "cent_id long, cv array<long>",
    )


def kmeans_centroids(
    embeddings: DataFrame, k: int = C.KM_K, iters: int = C.KM_ITERS
) -> DataFrame:
    """Driver/oracle surface of the trained quantizer: one scalar row per
    (cent_id, dim) — k * EMBED_DIM rows."""
    cents = kmeans_np(embeddings, k, iters)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [
            (int(i), int(j), int(cents[i, j]))
            for i in range(cents.shape[0])
            for j in range(cents.shape[1])
        ],
        "cent_id long, dim long, value long",
    )


def ivf_topk_trained(
    embeddings: DataFrame,
    k: int = C.TOPK,
    query_vec_id: int = 0,
    n_centroids: int = C.KM_K,
    iters: int = C.KM_ITERS,
    n_probe: int = C.IVF_PROBE,
) -> DataFrame:
    """ivf_topk against TRAINED centroids: assignment and probe selection
    both by exact L2^2 against the Lloyd quantizer (FAISS IVF semantics —
    trained lists are not unit vectors, so max-dot assignment would be
    wrong); candidate scoring stays the search metric (int64 inner
    product), ranked by TakeOrderedAndProject."""
    cents = kmeans_np(embeddings, n_centroids, iters)
    cf = cents.astype(np.float64)
    ev = embeddings.select("vec_id", fixed_point_vec(F.col("embedding")).alias("ev"))
    assigned = ev.select("vec_id", "ev", _assign_l2(cents)(F.col("ev")).alias("cent_id"))
    qv = _qv_np(embeddings, query_vec_id)
    d = np.einsum("ij,ij->i", cf, cf) - 2.0 * (cf @ qv.astype(np.float64))  # exact
    probe_ids = [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]
    cand = assigned.where(F.col("cent_id").isin(probe_ids)).select("vec_id", "ev")
    return _exact_topk(cand, qv, k)


def cluster_assign(
    embeddings: DataFrame, k: int = C.KM_K, iters: int = C.KM_ITERS
) -> DataFrame:
    """(vec_id, cent_id) assignment against the FINAL trained centroids —
    one Arrow pass, no shuffle (the quantizer is broadcast metadata)."""
    cents = kmeans_np(embeddings, k, iters)
    ev = embeddings.select("vec_id", fixed_point_vec(F.col("embedding")).alias("ev"))
    return ev.select("vec_id", _assign_l2(cents)(F.col("ev")).alias("cent_id"))


def cluster_topics(
    embeddings: DataFrame, docs: DataFrame, topk: int = C.TFIDF_TOPK
) -> DataFrame:
    """Topic labels for the trained embedding clusters: top-K TF-IDF terms
    per cluster, treating each cluster as ONE super-document — the
    corpus-understanding step behind domain mixing / source weighting (a
    pipeline owner reads this to see WHAT each cluster is, then sets
    per-cluster sampling temperatures).

    Reuses both existing contracts verbatim: the kmeans assignment
    (`cluster_assign`, final-centroid Arrow pass) and the FTS TF-IDF
    scoring (`fulltext.tfidf_from_postings` — same tokenizer, same
    log-free capped idf, n := number of non-empty clusters).  Scale
    shape: postings derived ONCE (PLANS.md #11), the doc→cluster re-key
    is a doc_id-keyed join against the skinny assignment, then one
    (cluster, token) hash-agg — cluster-level postings are vocabulary-
    sized, everything after is metadata."""
    from .fulltext import postings, tfidf_from_postings

    assigned = cluster_assign(embeddings).withColumnRenamed("vec_id", "doc_id")
    cpost = (
        postings(docs)
        .join(assigned, "doc_id")
        .groupBy("cent_id", "token")
        .agg(F.sum("tf").alias("tf"))
        .withColumnRenamed("cent_id", "doc_id")
    )
    n = assigned.agg(F.countDistinct("cent_id").alias("n_docs"))
    out = tfidf_from_postings(cpost, n, topk)
    return out.select(
        F.col("doc_id").cast("long").alias("cluster_id"),
        "token",
        "tf",
        "df",
        "tfidf_e6",
        "rank",
    )


def cluster_summary(embeddings: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-cluster size report (n_docs, n_tokens) over the trained
    assignment — the denominator frame for cluster-level sampling
    decisions.  One skinny cent_id agg; token totals ride the postings
    aggregate (docs whose text is empty contribute zero, not NULL)."""
    from .fulltext import postings

    assigned = cluster_assign(embeddings).withColumnRenamed("vec_id", "doc_id")
    sizes = assigned.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    toks = (
        postings(docs)
        .join(assigned, "doc_id")
        .groupBy("cent_id")
        .agg(F.sum("tf").cast("long").alias("n_tokens"))
    )
    return (
        sizes.join(toks, "cent_id", "left")
        .select(
            F.col("cent_id").cast("long").alias("cluster_id"),
            "n_docs",
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
        )
    )


def _mind_kernel(cents: np.ndarray):
    """Arrow kernel: exact min-L2^2 distance from each row vector to the
    chosen-center matrix.  Unlike :func:`_assign_l2` the ||x||^2 term is
    KEPT — the k-center argmax needs true distances, not just their
    order.  All intermediates are integer-valued float64 < 2^53
    (contract KC note): exact."""
    from pyspark.sql.functions import pandas_udf

    cf = cents.astype(np.float64)
    c2 = np.einsum("kd,kd->k", cf, cf)

    @pandas_udf("long")
    def mind(ev: pd.Series) -> pd.Series:
        if ev.empty:
            return pd.Series([], dtype="int64")
        X = np.stack(ev.to_numpy()).astype(np.float64)
        x2 = np.einsum("nd,nd->n", X, X)
        d = x2[:, None] + c2[None, :] - 2.0 * (X @ cf.T)
        return pd.Series(d.min(axis=1).astype(np.int64))

    return mind


def kcenter_coreset(embeddings: DataFrame, k: int = C.KC_K) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection — contract KC
    note.  Returns the k selected rows in selection order:
    (rank, vec_id, d2) with d2 = the point's min-L2^2 to the previously
    chosen set at the moment it was picked (0 for the seed); the last
    row's d2 upper-bounds the coverage radius of the whole corpus.

    100-TB shape: k bounded rounds, each ONE narrow Arrow pass against
    the broadcast center matrix followed by a TakeOrdered(1) reduce —
    no shuffle, no state between rounds beyond the (k x 64)-int center
    matrix on the driver (the kmeans/PQ codebook precedent).  The
    full-matrix recompute per round (vs carrying an incremental min
    column) keeps every round a pure stateless function of
    (corpus, chosen ids) — resumable mid-traversal by construction."""
    from .search import fixed_point_vec

    ev = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        fixed_point_vec(F.col("embedding")).alias("ev"),
    )
    # materialize the fixed-point conversion ONCE per traversal — the
    # interpreted HOF conversion is the dominant per-pass cost and would
    # otherwise run k times (measured 45.5 s -> 20.9 s at a 200k-vector
    # stress corpus); rounding stays JVM-side by the cross-engine
    # contract (numpy cannot replicate BigDecimal HALF_UP on doubles).
    # At 10^12 rows the same role is played by a persisted ev sidecar
    # (the ivf_build precedent), not a localCheckpoint.
    ev = ev.localCheckpoint(eager=True)
    seed = ev.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(0, int(seed["vec_id"]), 0)]
    cents = np.array([seed["ev"]], dtype=np.int64)
    for rank in range(1, k):
        mind = _mind_kernel(cents)
        picked = (
            ev.where(~F.col("vec_id").isin([c[1] for c in chosen]))
            .select("vec_id", "ev", mind(F.col("ev")).alias("d2"))
            .orderBy(F.col("d2").desc(), F.col("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((rank, int(picked["vec_id"]), int(picked["d2"])))
        cents = np.vstack([cents, np.array([picked["ev"]], dtype=np.int64)])
    return embeddings.sparkSession.createDataFrame(
        chosen, "rank long, vec_id long, d2 long"
    )
