"""Connected-components cluster resolution: chain graphs (the case LSH
cliques never exercise at gate scale) must converge to one component via
multi-round label propagation, and the fixpoint guard must trip when the
diameter exceeds max_iters."""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_and_query_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _rows(df):
    return {(r["doc_id"], r["cluster_rep"], r["is_keeper"]) for r in df.collect()}


def test_chain_collapses_to_one_component(spark):
    # 0-1-2-3-4-5: diameter 5, needs several propagation rounds
    got = {
        (r["doc_id"], r["cluster_rep"], r["is_keeper"])
        for r in connected_components(
            _pairs(spark, [(i, i + 1) for i in range(5)])
        ).collect()
    }
    assert got == {(i, 0, i == 0) for i in range(6)}


def test_disjoint_components_keep_separate_reps(spark):
    got = {
        (r["doc_id"], r["cluster_rep"])
        for r in connected_components(
            _pairs(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
        ).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_chain_rounds_converge_without_a_label_join(spark):
    """Each round's convergence test is the label sum, observed on the
    round's own checkpoint: no old-vs-new label join and no extra count
    job per round (the 6-node chain took 74 jobs with the join)."""
    sc = spark.sparkContext
    sc.setJobGroup("cc-chain", "min-label on the 6-node chain")
    try:
        connected_components(_pairs(spark, [(i, i + 1) for i in range(5)])).collect()
    finally:
        sc.setJobGroup("cc-chain-done", "")
    assert len(sc.statusTracker().getJobIdsForGroup("cc-chain")) <= 46


@pytest.mark.parametrize("cc", [connected_components, connected_components_star])
def test_max_iters_guard_trips_on_long_chains(spark, cc):
    with pytest.raises(RuntimeError, match="fixpoint"):
        cc(_pairs(spark, [(i, i + 1) for i in range(8)]), max_iters=2).collect()


# ---------------------------------------------------------------------------
# large-star/small-star (the O(log^2 n)-round scale path) — must be
# output-identical to min-label propagation on every graph shape
# ---------------------------------------------------------------------------

STAR_FIXTURES = {
    "chain": [(i, i + 1) for i in range(6)],
    "star": [(0, i) for i in range(1, 8)],
    "disjoint": [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
    "clique": [(a, b) for a in range(5) for b in range(a + 1, 5)],
    "two_chains_bridge": [(i, i + 1) for i in range(4)]
    + [(10 + i, 11 + i) for i in range(4)]
    + [(4, 10)],
    "self_loop_and_dup": [(5, 5), (6, 7), (7, 6), (6, 7)],
}


@pytest.mark.parametrize("name", sorted(STAR_FIXTURES))
def test_star_matches_minlabel(spark, name):
    pairs = _pairs(spark, STAR_FIXTURES[name])
    assert _rows(connected_components_star(pairs)) == _rows(
        connected_components(pairs)
    )


def test_star_chain_convergence_rides_the_checkpoints(spark):
    """Star's edge-set signature is observed on each round's own
    checkpoint: no separate signature collect per round (the 7-node chain
    took 59 jobs with one)."""
    sc = spark.sparkContext
    sc.setJobGroup("star-chain", "large-star/small-star on the 7-node chain")
    try:
        connected_components_star(_pairs(spark, STAR_FIXTURES["chain"])).collect()
    finally:
        sc.setJobGroup("star-chain-done", "")
    assert len(sc.statusTracker().getJobIdsForGroup("star-chain")) <= 49


@pytest.mark.parametrize("cc", [connected_components, connected_components_star])
def test_pair_source_evaluated_once_per_pair(spark, cc):
    """The pair source (the whole MinHash-LSH pipeline in dedup_clusters)
    is evaluated once: both edge orientations and the node set derive from
    one checkpoint. A counting UDF on the source counts the evaluations."""
    evals = spark.sparkContext.accumulator(0)

    def counted(x):
        evals.add(1)
        return x

    n = 50
    pairs = spark.range(n).select(
        F.udf(counted, "long")(F.col("id") * 2).alias("doc_a"),
        (F.col("id") * 2 + 1).alias("doc_b"),
    )
    assert len(cc(pairs).collect()) == 2 * n
    assert evals.value == n


def test_star_bounded_rounds_on_10k_chain(spark):
    """A 10k-node path converges within 40 alternating rounds (min-label
    would need 10k) and labels every node with the component minimum."""
    n = 10_000
    pairs = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    out = connected_components_star(pairs, max_iters=40)
    agg = out.selectExpr(
        "count(*) AS n",
        "sum(cast(cluster_rep != 0 AS long)) AS bad",
        "sum(cast(is_keeper AS long)) AS keepers",
    ).collect()[0]
    assert (agg["n"], agg["bad"], agg["keepers"]) == (n, 0, 1)


def test_minhash_est_audit_identical_and_partial(spark):
    """Identical docs: 16/16 agreeing components, exact Jaccard 1e6,
    error 0.  A partially-overlapping pair (if it survives banding) must
    carry the hand-computable exact Jaccard and an estimate within
    [0, 1e6]."""
    from pdf_extraction_and_query_spark import contract as C
    from pdf_extraction_and_query_spark.operators.dedup import (
        minhash_est_audit,
    )

    text = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (0, text, "en", "s", 1),
            (1, text, "en", "s", 1),
            (2, " ".join(f"z{i}" for i in range(30)), "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {(r["doc_a"], r["doc_b"]): r for r in minhash_est_audit(docs).collect()}
    assert (0, 1) in rows and (0, 2) not in rows and (1, 2) not in rows
    r = rows[(0, 1)]
    assert r["n_agree"] == C.MINHASH_K
    assert (r["est_e6"], r["exact_e6"], r["err_e6"]) == (1_000_000, 1_000_000, 0)
    # 28 shingles each, all shared
    assert r["inter"] == 28
