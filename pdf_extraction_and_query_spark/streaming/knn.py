"""Incremental kNN-graph maintenance under Structured Streaming — the
graph twin of ``streaming/ivf.py``'s LSM shape.  A new crawl batch both
(a) gets its own neighbor lists and (b) RETROACTIVELY improves old
vectors' lists (a new vector can be an old query's nearest neighbor) —
without ever touching old×old pairs again.

Correctness rests on two facts:

* **pair-once**: a (q, nb) edge is generated exactly when its LATER
  endpoint arrives — new queries pair against everything (old ∪ new),
  old queries pair against NEW candidates only; q and nb meet through at
  most one list (nb's rn=1 assignment ∩ q's distinct probe lists), so no
  edge is ever produced twice;
* **top-k distributes over unions**: each batch stores only its per-query
  top-k edge rows, and top-k(∪ per-subset top-k) == top-k(∪ subsets) —
  any global top-k edge is in its own batch's top-k.  State per query is
  k rows/batch, folded back to k rows total at compact.

Layout under one root, two indexes on the delta-index engine
(``streaming/deltaindex.py``):
  _centroids   (cent_id, cv)  — FROZEN at init (insert rule as in
               streaming/ivf.py; re-training is a rebuild)
  assign/      (vec_id, ev, cent_id, rn) — ranked probe rows, rn <= n_probe
               (rn = 1 is the inverted-list assignment) — the persisted
               ``_ivf_ranked`` frame; identity merge, partitioned by cent_id
  edges/       (q_id, nb_id, dot_e12) — per-query top-k; each batch's
               delta holds the per-query top-k of the pairs it generated,
               folded by re-taking the per-query top-k

Exactly-once: the old-side read EXCLUDES the batch's own id (``below``),
so a replayed batch regenerates identical edges; a batch replayed after a
compact folded it lands below both watermarks and is ignored.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import contract as C
from ..operators.search import _centroids, _dot_vec, fixed_point_vec
from ..sources import tables
from . import deltaindex as DX

_ASSIGN_COLS = ("vec_id", "ev", "cent_id", "rn")
_EDGE_COLS = ("q_id", "nb_id", "dot_e12")


def _rank_against(cand: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Rank (vec_id, ev) rows against a GIVEN frozen centroid frame, keep
    rn <= n_probe — the streaming insert rule for the shared
    ``_ivf_ranked`` shape (broadcast centroids, one vec_id window)."""
    scored = cand.join(F.broadcast(cents)).select(
        "vec_id", "ev", "cent_id", _dot_vec(F.col("ev"), F.col("cv")).alias("cdot")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cdot"), F.asc("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_probe)
        .select(*_ASSIGN_COLS)
    )


def _pair_topk(
    probes: DataFrame, assigned: DataFrame, k: int
) -> DataFrame:
    """Block-join probe rows against assignment rows on cent_id, score,
    keep each query's top-k (dot desc, nb asc — the knn_join order)."""
    pairs = (
        probes.join(assigned, "cent_id")
        .where(F.col("q_id") != F.col("nb_id"))
        .select(
            "q_id", "nb_id", _dot_vec(F.col("qv"), F.col("nv")).alias("dot_e12")
        )
    )
    return _edge_topk(pairs, k)


def _by_dot():
    """Each query's edges, dot desc, nb asc — the knn_join order."""
    return Window.partitionBy("q_id").orderBy(F.desc("dot_e12"), F.asc("nb_id"))


def _edge_topk(edges: DataFrame, k: int) -> DataFrame:
    return (
        edges.withColumn("r", F.row_number().over(_by_dot()))
        .where(F.col("r") <= k)
        .select(*_EDGE_COLS)
    )


def _probe_rows(ranked: DataFrame) -> DataFrame:
    return ranked.select(
        F.col("vec_id").alias("q_id"), F.col("ev").alias("qv"), "cent_id"
    )


def _assign_rows(ranked: DataFrame) -> DataFrame:
    return ranked.where(F.col("rn") == 1).select(
        "cent_id", F.col("vec_id").alias("nb_id"), F.col("ev").alias("nv")
    )


def knn_stream_init(
    embeddings: DataFrame,
    root: str,
    k: int = C.KNN_K,
    n_centroids: int = C.IVF_CENTROIDS,
    n_probe: int = C.IVF_PROBE,
) -> None:
    """Freeze centroids, persist the ranked assignment, and seed the edge
    base with the init corpus's own kNN graph."""
    cents = _centroids(embeddings, n_centroids)
    tables.replace_table(cents, f"{root}/_centroids")
    cand = embeddings.select(
        "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
    )
    ranked = _rank_against(cand, cents, n_probe).localCheckpoint()
    DX.init_index(ranked, f"{root}/assign", ["cent_id"])
    edges = _pair_topk(_probe_rows(ranked), _assign_rows(ranked), k)
    DX.init_index(edges, f"{root}/edges")


def make_knn_batch_processor(
    root: str, k: int = C.KNN_K, n_probe: int = C.IVF_PROBE
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body: assign the batch to the frozen centroids,
    then land the batch's edge delta = per-query top-k of (new q × all
    candidates) ∪ (old q × new candidates).  Old×old pairs are never
    recomputed — the retroactive half moves |old probes ∩ touched lists|
    × |new| pairs, not the graph."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bid = int(batch_id)
        cents = tables.read_table(spark, f"{root}/_centroids")
        cand = batch_df.select(
            "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
        )
        ranked_new = _rank_against(cand, cents, n_probe).localCheckpoint()
        DX.write_delta(ranked_new, f"{root}/assign", bid, ["cent_id"])

        old = DX.read_merged(spark, f"{root}/assign", _ASSIGN_COLS, below=bid)
        new_assign = _assign_rows(ranked_new)
        edges = _pair_topk(
            _probe_rows(ranked_new),
            _assign_rows(old).unionByName(new_assign),
            k,
        ).unionByName(_pair_topk(_probe_rows(old), new_assign, k))
        DX.write_delta(edges, f"{root}/edges", bid)

    return process_batch


def knn_graph_merged(
    spark: SparkSession, root: str, k: int = C.KNN_K
) -> DataFrame:
    """The live graph: per-query top-k over edge base ∪ deltas, with the
    1-based rank column — row-identical to ``knn_join`` over everything
    ingested (tests pin it)."""
    edges = DX.read_merged(spark, f"{root}/edges", _EDGE_COLS)
    return (
        edges.withColumn("rank", F.row_number().over(_by_dot()).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            F.col("nb_id").cast("long").alias("nb_id"),
            "rank",
            F.col("dot_e12").cast("long").alias("dot_e12"),
        )
    )


def knn_compact(spark: SparkSession, root: str, k: int = C.KNN_K) -> None:
    """Fold deltas into new versions of both bases: assignment rows append
    (disjoint vec_ids), edge rows re-take per-query top-k (ranking-
    preserving — future batches only ADD candidates, so dropping below-k
    edges can never resurface)."""
    DX.compact(spark, f"{root}/assign", _ASSIGN_COLS, partition_cols=["cent_id"])
    DX.compact(spark, f"{root}/edges", _EDGE_COLS, lambda e: _edge_topk(e, k))


def knn_classify_merged(
    spark: SparkSession,
    root: str,
    labels: DataFrame,
    k: int = C.KNN_CLASSIFY_K,
    seed_mod: int = C.KNN_SEED_MOD,
) -> DataFrame:
    """Live weak-supervision labeling over the MAINTAINED index: run the
    shared classify tail (operators/search.classify_from_ranked) on the
    base ∪ delta assignment — new vectors are classified the moment
    their batch lands, and new SEEDS retroactively improve old queries'
    votes (their list membership is already in the delta).  Equal to the
    one-shot knn_classify over everything ingested whenever the frozen
    centroids match the union corpus's (the init-split contract all the
    *_merged twins share).  ``labels`` = (vec_id, label) — at scale the
    label sidecar, never the vectors."""
    from ..operators.search import classify_from_ranked

    ranked = DX.read_merged(spark, f"{root}/assign", _ASSIGN_COLS)
    labels = labels.select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return classify_from_ranked(ranked, labels, k, seed_mod, shuffle_n)
