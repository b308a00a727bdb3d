"""Site link-graph construction + fixed-point integer PageRank.

The crawl-frontier ranking signal one step past :func:`link_in_degree`:
in-degree counts every inbound link equally, PageRank weights each link by
the importance of the page casting it — the standard priority function for
"which URL do we fetch/refresh next" at web scale.  The reference repo has
no graph surface (it is a PDF store); this operator family is specified
against the north rule's crawl pipeline and the public literature
(Page et al. 1999; the iterative join formulation is the canonical
dataflow expression of power iteration).

Determinism contract (``contract.PR_*``): all arithmetic is positive-int64
fixed point — pr starts at ``PR_SCALE``, per-edge contribution is
``(pr(u) * w) div outw(u)``, the damping update is
``PR_BASE + (PR_DAMP_NUM * S) div PR_DAMP_DEN``.  Spark's ``div``
(truncating) and DuckDB's ``//`` (flooring) agree on non-negative
operands, so an UNROLLED-SQL oracle value-hashes the result exactly —
no float sums, no order dependence (int64 addition is associative).

Scale shape (10^12 pages): the edge list is the big table.  It and the
node list are materialized ONCE (:func:`_graph`); each iteration is one
(src)-keyed broadcast-or-shuffle join pr⋈edges, one (dst)-keyed hash
aggregation (map-side combined), and one left join back to the node list.
The rounds run under :func:`.util.iterate`, which truncates lineage per
round so the plan stays O(1) deep.  Iteration count is FIXED
(``PR_ITERS``, ``HITS_ITERS``), the crawl-scheduling convention (a frontier
wants a stable, cheap, reproducible score, not convergence to machine
epsilon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import contract as C
from .util import iterate


def link_edges(pairs: DataFrame) -> DataFrame:
    """Weighted edge list from raw ``(src, dst)`` link occurrences: one
    hash aggregation (map-side combine — a hot target's rows collapse
    per-task before the exchange), self-loops dropped (a page linking to
    itself carries no ranking information and would let it recycle its own
    mass)."""
    return (
        pairs.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _graph(edges: DataFrame) -> tuple:
    """(edges, nodes) of a weighted edge list, each materialized ONCE: every
    round references them, and multiple DataFrame references to one subtree
    are planned independently (PLANS.md #11) — without this the upstream
    parse would run per round."""
    e = edges.select("src", "dst", F.col("n").cast("long").alias("n")).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    return e, nodes


def pagerank(edges: DataFrame, iters: int = C.PR_ITERS) -> DataFrame:
    """Fixed-point integer PageRank over a weighted edge list
    ``(src, dst, n)`` -> ``(node, pr)`` for every node that appears as a
    source or target.  See the module docstring for the arithmetic and
    scale contracts."""
    e, nodes = _graph(edges)
    outw = e.groupBy("src").agg(F.sum("n").cast("long").alias("outw"))
    ew = e.join(outw, "src").localCheckpoint()

    def step(pr: DataFrame) -> DataFrame:
        contrib = (
            ew.join(pr, ew["src"] == pr["node"])
            .select(
                "dst",
                F.expr("(pr * n) div outw").cast("long").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        return nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            (
                F.lit(C.PR_BASE).cast("long")
                + F.expr(
                    f"({C.PR_DAMP_NUM} * coalesce(s, cast(0 as bigint))) "
                    f"div {C.PR_DAMP_DEN}"
                )
            ).cast("long").alias("pr"),
        )

    return iterate(
        nodes.select("node", F.lit(C.PR_SCALE).cast("long").alias("pr")),
        step,
        int(iters),
    )


def link_hits(edges: DataFrame, iters: int = C.HITS_ITERS) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg 1999, "Authoritative Sources in
    a Hyperlinked Environment", public) over a weighted edge list
    ``(src, dst, n)`` -> ``(node, hub, auth)``.  The complementary ranking
    signal to :func:`pagerank` for a crawl frontier: PageRank finds pages
    link mass FLOWS INTO; HITS separates directories/index pages (hubs —
    pages whose OUT-links point at good content) from the content itself
    (authorities).  A frontier seeds discovery crawls from hubs and
    refresh crawls from authorities.

    Arithmetic contract (``contract.HITS_*``): hub starts at HITS_SCALE;
    each half-step sums score*weight over edges and renormalizes so the
    step's MAX raw mass maps to HITS_SCALE (exact int64 division — see the
    contract note for why not L2).  All operands non-negative, so Spark
    ``div`` == DuckDB ``//`` and the unrolled-SQL oracle value-hashes the
    result exactly.

    Scale shape (10^12 pages): edges and nodes materialized ONCE
    (:func:`_graph`); each half-step is one node-keyed broadcast-or-shuffle
    join score⋈edges, one map-side-combined hash aggregation on the other
    endpoint, a 1-row max broadcast back, and a left join to a node list.
    The state is ``(node, hub, auth)``; the auth half-step's checkpoint
    holds every node, so it is the hub half-step's node list.  The rounds
    run under :func:`.util.iterate` (lineage truncated per round)."""
    e, nodes = _graph(edges)
    norm = f"({C.HITS_SCALE} * coalesce(s, cast(0 as bigint))) div greatest(mx, 1)"

    def step(state: DataFrame) -> DataFrame:
        araw = (
            e.join(state, e["src"] == state["node"])
            .select("dst", F.expr("hub * n").cast("long").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        amax = araw.agg(F.max("s").cast("long").alias("mx"))
        auth = (
            nodes.join(araw, nodes["node"] == araw["dst"], "left")
            .crossJoin(F.broadcast(amax))
            .select("node", F.expr(norm).cast("long").alias("auth"))
            # two consumers (the hub half-step's join and node list), PLANS.md #11
            .localCheckpoint()
        )
        hraw = (
            e.join(auth, e["dst"] == auth["node"])
            .select("src", F.expr("auth * n").cast("long").alias("c"))
            .groupBy("src")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        hmax = hraw.agg(F.max("s").cast("long").alias("mx"))
        return (
            auth.join(hraw, auth["node"] == hraw["src"], "left")
            .crossJoin(F.broadcast(hmax))
            .select("node", F.expr(norm).cast("long").alias("hub"), "auth")
        )

    scale = F.lit(C.HITS_SCALE).cast("long")
    return iterate(
        nodes.select("node", scale.alias("hub"), scale.alias("auth")),
        step,
        int(iters),
    )


def crawl_frontier(
    corpus_df: DataFrame, change_df: DataFrame, pr_df: DataFrame
) -> DataFrame:
    """The recrawl PRIORITY QUEUE: the three frontier signals joined per
    canonical URL — importance (:func:`pagerank`), volatility
    (``recrawl_change_stats``' fixed-point change ratio), and
    admissibility (only ``crawl_corpus`` winners — noindex or empty pages
    are never scheduled).  ``priority = (pr * (FRONTIER_CHANGE_BASE +
    change_ratio_e6)) div FRONTIER_CHANGE_BASE`` (contract): a page that
    changed on every recrawl doubles its rank-priority, a stable page
    keeps it; URLs absent from the link graph coalesce to ``PR_BASE``
    (exactly the no-inlink floor PageRank itself assigns).

    Plan: three canonical-keyed summary tables joined on their key — the
    exchanges carry per-URL summary rows, never pages.  In production the
    three inputs are the INCREMENTALLY MAINTAINED index tables
    (``streaming/crawlindex``, change stats, a periodic PageRank
    refresh); the registry query recomputes them inline only so the
    DuckDB oracle can replay the whole composition from raw text."""
    pr = pr_df.select(F.col("node").alias("canonical"), "pr")
    ch = change_df.select("canonical", "change_ratio_e6")
    j = (
        corpus_df.select("canonical", "n_crawls")
        .join(ch, "canonical", "left")
        .join(pr, "canonical", "left")
        .select(
            "canonical",
            "n_crawls",
            F.coalesce(F.col("pr"), F.lit(C.PR_BASE).cast("long")).alias("pr"),
            F.coalesce(F.col("change_ratio_e6"), F.lit(0).cast("long")).alias(
                "change_ratio_e6"
            ),
        )
    )
    return j.select(
        "canonical",
        "n_crawls",
        "pr",
        "change_ratio_e6",
        F.expr(
            f"(pr * ({C.FRONTIER_CHANGE_BASE} + change_ratio_e6)) "
            f"div {C.FRONTIER_CHANGE_BASE}"
        )
        .cast("long")
        .alias("priority"),
    )


def frontier_schedule(
    frontier_df: DataFrame, max_depth: int = C.FRONTIER_HOST_DEPTH
) -> DataFrame:
    """Politeness scheduling over the frontier: a crawler may hold ONE
    in-flight fetch per host, so the queue is sequenced into per-host
    waves — ``wave = row_number`` over (host, priority DESC, canonical) —
    and capped at ``max_depth`` URLs per host per scheduling cycle (the
    queue-depth bound every production frontier carries; beyond-depth URLs
    wait for the next cycle's re-score).

    host comes from the canonical URL itself (contract FRONTIER_HOST_RE —
    the same regex the oracle runs, engine-neutral).

    100-TB shape: the exchange is keyed on host and carries per-URL
    summary rows (canonical, priority), never pages.  Per-host sequencing
    is the politeness SEMANTICS, not an implementation skew: a mega-host's
    partition sort is bounded by the depth cap times re-score frequency in
    production (the scheduler feeds only admissible deltas each cycle),
    and hosts are independent — AQE skew splitting cannot apply, but the
    per-host state the window touches IS the scheduler's minimum state."""
    h = frontier_df.select(
        "canonical",
        "priority",
        F.regexp_extract(F.col("canonical"), C.FRONTIER_HOST_RE, 1).alias("host"),
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("canonical"))
    return (
        h.withColumn("wave", F.row_number().over(w).cast("long"))
        .where(F.col("wave") <= max_depth)
        .select("canonical", "host", "priority", "wave")
    )
