"""Deduplication operators over a documents table — the training-data
pipeline surface: exact (hash-groupBy), word-shingle Jaccard, MinHash+LSH
banding, SimHash with hamming pairs.

Scale notes (100 TB design):
  * exact/minhash/simhash are single-shuffle groupBys with map-side partial
    aggregation; signatures are 16 ints per doc (not the shingle sets);
  * the LSH band self-join shuffles on (band, band_val) — candidate pairs
    only, never the full cross product;
  * the brute Jaccard join is quadratic-in-collisions and exists as the
    small-scale oracle twin for MinHash recall; at scale you run
    minhash_pairs and verify candidates only.

All arithmetic is exact int64 (polynomial codepoint hash mod 1e9+7) so the
DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import contract as C
from .textstats import poly_hash
from .util import iterate


def _norm(t: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(t), C.WS_SPLIT_RE, " "))


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup by md5 of normalized text: one hash-aggregate shuffle;
    keeper = min(doc_id) per group (deterministic)."""
    return (
        docs.select("doc_id", F.md5(_norm(F.col("text"))).alias("grp_hash"))
        .groupBy("grp_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
    )


def shingles_from_toks(toks: Column) -> Column:
    """Word n-gram shingles from a MATERIALIZED token-array column; empty
    array for docs shorter than n words (sequence() guard — Spark's
    sequence(1,0) counts DOWN, so the branch is load-bearing).

    NB: ``toks`` must be a plain column reference, not the split/regexp
    expression itself — an expression referenced inside the transform lambda
    is re-evaluated per element (measured 9.2s -> ~1s for the shingle stage
    at sf0.1 after materializing)."""
    n = F.size(toks)
    make = F.transform(
        F.sequence(F.lit(1), n - (C.SHINGLE_N - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, C.SHINGLE_N)),
    )
    return F.when(n >= C.SHINGLE_N, make).otherwise(F.array().cast("array<string>"))


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Exploded DISTINCT shingles per doc: (doc_id, sh)."""
    from .util import fan_out

    toked = fan_out(docs).select(
        "doc_id", F.split(_norm(F.col("text")), C.WS_SPLIT_RE).alias("toks")
    )
    return toked.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_from_toks(F.col("toks")))).alias("sh"),
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """All-pairs word-shingle Jaccard >= threshold, via shingle equi-join
    (shuffle on shingle, then on the pair key)."""
    sh = doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("inter"))
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= C.JACCARD_THRESHOLD)
    )


def ngram_jaccard_pruned(
    docs: DataFrame, max_docs_per_shingle: int = C.STOP_SHINGLE_MAX_DOCS
) -> DataFrame:
    """Jaccard pairs over NON-UBIQUITOUS shingles: shingles appearing in more
    than ``max_docs_per_shingle`` documents are dropped BEFORE the pair join
    (standard stop-shingle pruning — a hot shingle shared by f docs alone
    contributes f^2 join rows while carrying no dedup signal). Semantics:
    Jaccard over the pruned shingle sets (denominators recomputed after
    pruning) — both engines apply the identical rule."""
    sh = doc_shingles(docs)
    w_freq = Window.partitionBy("sh")
    kept = sh.withColumn("df", F.count("*").over(w_freq)).where(
        F.col("df") <= max_docs_per_shingle
    ).drop("df")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("inter"))
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", "inter", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= C.JACCARD_THRESHOLD)
    )


def contamination_check(docs: DataFrame) -> DataFrame:
    """Train/eval contamination report — the pre-training hygiene op: for
    every TRAINING document, what fraction of its distinct word shingles
    also occurs anywhere in the held-out EVAL split (``doc_id % EVAL_MOD
    == EVAL_RESIDUE``, a pure row function so the split is identical
    across engines and re-runs).

    Output: (doc_id, n_shingles, n_overlap, overlap_micro, contaminated)
    with ``overlap_micro = floor(n_overlap * 1e6 / n_shingles)`` — integer
    fixed-point per the cross-engine determinism rules in contract.py.

    Scale: the eval split is tiny relative to training (benchmarks are
    thousands of docs against billions), so its DISTINCT shingle set is
    broadcast — the training side never shuffles; each train partition
    probes the broadcast hash relation (left-semi style join counted per
    doc) and aggregates locally by doc_id before the single count shuffle.
    Shingle-zero docs keep a row (overlap 0), mirroring the oracle."""
    sh = doc_shingles(docs)
    is_eval = (F.col("doc_id") % C.EVAL_MOD) == C.EVAL_RESIDUE
    eval_sh = sh.where(is_eval).select("sh").distinct()
    train = sh.where(~is_eval)
    hits = (
        train.join(F.broadcast(eval_sh.withColumn("_hit", F.lit(1))), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_overlap"),
        )
    )
    # docs whose text yields zero shingles never reach `sh` — restore them
    base = docs.where(~is_eval).select("doc_id")
    micro = F.when(
        F.col("n_shingles") > 0,
        F.floor(F.col("n_overlap") * 1_000_000 / F.col("n_shingles")),
    ).otherwise(F.lit(0))
    return (
        base.join(hits, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            micro.cast("long").alias("overlap_micro"),
            (micro >= C.CONTAM_MICRO).alias("contaminated"),
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """K-wide MinHash signature per doc: min over shingles of
    (a_i * h(sh) + b_i) mod p for each of the K universal hash fns.
    One groupBy shuffle; partial mins combine map-side."""
    sh = doc_shingles(docs).withColumn("x", poly_hash(F.col("sh")))
    mins = [
        F.min((F.lit(C.MINHASH_A[i]) * F.col("x") + F.lit(C.MINHASH_B[i])) % C.HASH_MOD).alias(f"m{i}")
        for i in range(C.MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_band_pairs(docs: DataFrame) -> DataFrame:
    """LSH banding: K mins -> BANDS bands of ROWS; docs sharing any band
    value become a candidate pair. Shuffles: signature groupBy, then the
    (band, val) equi-join — never a cross product."""
    return band_pairs_from_signatures(minhash_signatures(docs))


def band_pairs_from_signatures(sig: DataFrame) -> DataFrame:
    """The LSH banding half over an already-computed ``(doc_id,
    m0..mK-1)`` signature table — split out so the streaming maintainer
    (streaming/minhash.py) band-joins its merged signature index through
    the EXACT code the batch operator runs."""
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.concat_ws(
                    ",", *[f"m{j * C.LSH_ROWS + r}" for r in range(C.LSH_ROWS)]
                ).alias("val"),
            )
            for j in range(C.LSH_BANDS)
        ]
    )
    bv = sig.select("doc_id", F.explode(bands).alias("bv")).select(
        "doc_id", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a, b = bv.alias("a"), bv.alias("b")
    return (
        a.join(b, ["band", "val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _pair_cos_r6(ea: Column, eb: Column) -> Column:
    """round(cosine, 6) from two fixed-point int64 vectors: exact integer
    dot and squared norms (search._dot/_sq_norm), IEEE sqrt/divide —
    bit-stable across engines. Expression (interpreted-HOF) form; the hot
    paths use :func:`_pair_cos_r6_vec` (bit-identical, tested)."""
    from .search import _dot, _sq_norm

    return F.round(_dot(ea, eb) / (F.sqrt(_sq_norm(ea)) * F.sqrt(_sq_norm(eb))), 6)


def _pair_cos_r6_vec(ea: Column, eb: Column) -> Column:
    """Arrow-vectorized twin of :func:`_pair_cos_r6`. The int64 dots and
    squared norms are exact (|dot| <= 64 * 1e6 * 1e6 = 6.4e13 < 2^53, so
    even the int64->float64 conversion is exact); sqrt/multiply/divide are
    IEEE-754 correctly rounded in both numpy and the JVM, so the raw
    cosine double is bit-identical to the expression form. The final
    6-decimal rounding stays a JVM ``F.round`` so the cross-engine
    (Spark vs DuckDB) rounding contract is untouched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_raw(a: pd.Series, b: pd.Series) -> pd.Series:
        if a.empty:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy()).astype(np.int64, copy=False)
        B = np.stack(b.to_numpy()).astype(np.int64, copy=False)
        dot = np.einsum("ij,ij->i", A, B).astype(np.float64)
        na = np.sqrt(np.einsum("ij,ij->i", A, A).astype(np.float64))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B).astype(np.float64))
        return pd.Series(dot / (na * nb))

    return F.round(cos_raw(ea, eb), 6)


def embedding_near_pairs(
    embeddings: DataFrame, threshold: float = C.EMB_NEAR_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, BRUTE all-pairs — the
    small-scale oracle twin (the recall yardstick for the SRP-LSH scale
    path, exactly as brute Jaccard is for MinHash). O(n^2) dots: never run
    at corpus scale; run :func:`embedding_near_pairs_lsh` there."""
    from .search import fixed_point_vec

    c = embeddings.select("vec_id", fixed_point_vec(F.col("embedding")).alias("ev"))
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        _pair_cos_r6_vec(F.col("a.ev"), F.col("b.ev")).alias("cos_r6"),
    )
    return pairs.where(F.col("cos_r6") >= threshold)


def _srp_word_expr() -> Column:
    """Reference expression form of the SRP word over an ``ev`` column:
    SRP_BITS aggregate-over-zip_with dot products. Higher-order functions
    are evaluated INTERPRETED (no whole-stage codegen), which measured
    ~12 ms/row for the 16 planes at EMBED_DIM=64 — a linear-but-monstrous
    constant at corpus scale. Kept as the semantic spec for the vectorized
    kernel below (tests assert bit-equality between the two paths)."""
    planes = C.srp_hyperplanes(C.EMBED_DIM, C.SRP_BITS)
    word = None
    for j, hp in enumerate(planes):
        dot_j = F.aggregate(
            F.zip_with(
                F.col("ev"),
                F.array(*[F.lit(v).cast("long") for v in hp]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot_j >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        word = bit if word is None else word + bit
    return word


def srp_words(embeddings: DataFrame) -> DataFrame:
    """Signed-random-projection sketch: SRP_BITS sign bits of the dot
    products against deterministic integer hyperplanes (contract
    srp_hyperplanes — identical planes in the DuckDB oracle), packed into
    one int64 word. One narrow pass; the sketch is 8 bytes/vector.

    The plane dots are one Arrow-batched int64 matrix multiply
    (``E @ P.T``) in a scalar pandas UDF rather than SRP_BITS
    aggregate-over-zip_with expressions: HOFs evaluate interpreted, and
    the measured cost of the expression form (:func:`_srp_word_expr`)
    was ~12 ms/row — a real scale term at 10^9 vectors. All arithmetic
    stays exact int64 (|dot| <= 64 * 1e6 * 5e5 << 2^63), so the sketch is
    bit-identical to the expression form and the DuckDB oracle
    (test_curation_ops asserts both equalities)."""
    from .search import fixed_point_vec

    c = embeddings.select("vec_id", fixed_point_vec(F.col("embedding")).alias("ev"))
    return c.select("vec_id", "ev", srp_word(F.col("ev")).alias("srp"))


def srp_word(ev: Column) -> Column:
    """The SRP word of a fixed-point ``ev`` column, one Arrow batch at a
    time through :func:`srp_pack`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def word(ev: pd.Series) -> pd.Series:
        if ev.empty:
            return pd.Series([], dtype="int64")
        E = np.stack(ev.to_numpy()).astype(np.int64, copy=False)
        return pd.Series(srp_pack(E), dtype="int64")

    return word(ev)


def srp_pack(E: np.ndarray) -> np.ndarray:
    """SRP words of the rows of a fixed-point int64 matrix: the sign bits
    of ``E @ P.T`` against the contract planes, plane j at bit j."""
    planes_t = np.array(
        C.srp_hyperplanes(C.EMBED_DIM, C.SRP_BITS), dtype=np.int64
    ).T  # (EMBED_DIM, SRP_BITS)
    bits = (E @ planes_t) >= 0
    return (bits * (np.int64(1) << np.arange(C.SRP_BITS, dtype=np.int64))).sum(axis=1)


def embedding_near_pairs_lsh(
    embeddings: DataFrame, threshold: float = C.EMB_NEAR_THRESHOLD
) -> DataFrame:
    """Embedding near-dup, SRP-LSH scale path: candidates = pairs sharing
    at least one of SRP_BANDS bands of the SRP word (band equi-join — never
    a cross product), then the exact fixed-point cosine filter on candidates
    only. Candidate recall is threshold-dependent: at a production
    threshold of 0.9 (bit-disagreement p = acos(0.9)/pi ~= 0.14) a 4-bit
    band matches with p ~= 0.54, so >= 95% of true pairs survive 4 bands,
    while random pairs (p = 0.5) join at ~6%; at the deliberately low
    driver-data threshold (no real near-dups in random embeddings) recall
    vs the brute twin is partial, which the pairing with
    :func:`embedding_near_pairs` makes measurable. The DuckDB oracle
    replicates the same sketch + band rule exactly, so the gate checks the
    implementation, not the recall."""
    s = srp_words(embeddings)
    width = C.SRP_BITS // C.SRP_BANDS
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("srp"), j * width).bitwiseAND(mask).alias("val"),
            )
            for j in range(C.SRP_BANDS)
        ]
    )
    # the band join and candidate dedup carry IDS ONLY — replicating the
    # 64-long vector through SRP_BANDS band rows and the self-join would
    # make shuffle volume vector-dominated; the sketch is the 8-byte word
    bv = s.select("vec_id", F.explode(bands).alias("bv")).select(
        "vec_id", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a, b = bv.alias("a"), bv.alias("b")
    cands = (
        a.join(b, ["band", "val"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    vecs = s.select("vec_id", "ev")
    pairs = (
        cands.join(vecs.select(F.col("vec_id").alias("vec_a"), F.col("ev").alias("ea")), "vec_a")
        .join(vecs.select(F.col("vec_id").alias("vec_b"), F.col("ev").alias("eb")), "vec_b")
    )
    return (
        pairs.select(
            "vec_a", "vec_b", _pair_cos_r6_vec(F.col("ea"), F.col("eb")).alias("cos_r6")
        )
        .where(F.col("cos_r6") >= threshold)
    )


def simhash(docs: DataFrame) -> DataFrame:
    """SIMHASH_BITS-bit SimHash over all (frequency-weighted) tokens:
    per-bit signed vote -> sign bit. One groupBy; the B per-bit sums are
    map-side combinable."""
    toks = docs.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), C.WS_SPLIT_RE)).alias("tok")
    ).withColumn("x", poly_hash(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("x"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(C.SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    word = None
    for b in range(C.SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        word = bit if word is None else word + bit
    return agg.select("doc_id", word.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = C.SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= d, via pigeonhole
    band blocking instead of a quadratic cross join: the SIMHASH_BITS word is
    cut into ``max_hamming + 1`` bands — a pair within hamming d differs in
    at most d bands, so at least one band matches exactly. Equi-join per
    band on (band_idx, band_val), dedupe candidates, then the exact hamming
    filter. Output is provably identical to the cross join; the DuckDB
    oracle keeps the quadratic formulation and the parity test enforces the
    equivalence."""
    s = simhash(docs)
    n_bands = max_hamming + 1
    width = (C.SIMHASH_BITS + n_bands - 1) // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), j * width).bitwiseAND(mask).alias("val"),
            )
            for j in range(n_bands)
        ]
    )
    bv = s.select("doc_id", "simhash", F.explode(bands).alias("bv")).select(
        "doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a, b = bv.alias("a"), bv.alias("b")
    cands = (
        a.join(b, ["band", "val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        cands.select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_clusters(
    docs: DataFrame, max_iters: int = 20, algorithm: str = "minlabel"
) -> DataFrame:
    """Near-dup CLUSTER RESOLUTION: connected components over the
    MinHash-LSH candidate-pair graph — the step after pair generation in a
    production dedup pipeline (C4/RefinedWeb-style: each duplicate cluster
    keeps one representative; pairs alone can't tell you which docs to
    drop when duplicates chain A~B~C without A~C).

    Algorithm (``algorithm='minlabel'``, default): min-label propagation to
    fixpoint under :func:`.util.iterate`. Each round is one edge-join +
    min-aggregate (a (dst)-keyed and a (src)-keyed shuffle). Rounds needed
    = graph diameter — LSH duplicate clusters are near-cliques, so 2-3 in
    practice; ``max_iters`` bounds the pathological chain.

    ``algorithm='star'`` runs the alternating large-star/small-star rounds
    (:func:`connected_components_star`, Kiveris et al. SoCC 2014) — the
    10^12-doc scale path that shortcuts pathological long chains in
    O(log^2 n) rounds instead of O(diameter); output-identical on every
    graph (tests/test_dedup_clusters.py pins equality on chain / star /
    disjoint / LSH-derived fixtures).  minlabel stays the default because
    gate-scale LSH components are near-cliques where its per-round cost is
    lower; flip to star when duplicate chains are expected.

    Output: one row per document that appears in at least one candidate
    pair — (doc_id, cluster_rep = min doc_id of its component, is_keeper).
    Singleton documents never enter the pair graph and are trivially their
    own keepers, so emitting only clustered docs keeps the output (and the
    shuffle) proportional to the duplicate population, not the corpus.

    The DuckDB oracle computes the same components by recursive transitive
    closure — an independent algorithm, so parity checks the RESULT (the
    partition into components), not the propagation schedule.
    """
    cc = connected_components_star if algorithm == "star" else connected_components
    return cc(minhash_band_pairs(docs), max_iters=max_iters)


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Min-label propagation over an undirected pair graph
    ``(doc_a, doc_b)`` -> ``(doc_id, cluster_rep, is_keeper)``.
    See :func:`dedup_clusters` for the algorithmic contract; factored out
    so chain-shaped graphs (multi-round convergence) are unit-testable
    independent of the LSH pair generator."""
    # pair generation runs ONCE: both orientations read one checkpoint
    p = pairs.select("doc_a", "doc_b").localCheckpoint()
    edges = p.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        return labels.join(nbr_min, labels["node"] == nbr_min["src"], "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )

    # labels only decrease over a fixed node set, so their sum is unchanged
    # exactly when no label changed (decimal: no ANSI overflow)
    labels = iterate(
        edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        ),
        step,
        max_iters,
        signature=F.sum(F.col("label").cast("decimal(38,0)")),
    )
    return labels.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("cluster_rep"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def connected_components_star(pairs: DataFrame, max_iters: int = 60) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris,
    Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    MapReduce and Beyond", SoCC 2014) — the long-chain scale path with the
    SAME (doc_id, cluster_rep, is_keeper) contract as
    :func:`connected_components`.

    Min-label propagation needs O(diameter) rounds (a 10^6-long duplicate
    chain = 10^6 shuffles); the star rounds provably converge in
    O(log^2 n) and empirically ~2·log2(n) on paths (each large-star round
    rewires every node past its neighbor, roughly halving chain length —
    tests/test_dedup_clusters.py pins <= 40 rounds on a 10k-node chain).

    Per round: large-star connects every neighbor larger than ``u`` to
    ``min(N(u) ∪ {u})`` (computed over the undirected view), small-star
    re-points every smaller neighbor (and ``u`` itself) at the round's
    minimum — two groupBy/join pairs over the current EDGE SET, which only
    shrinks toward the final star forest (node -> component minimum).
    Rounds run under :func:`.util.iterate`; convergence is a match of the
    edge set's (count, xxhash64-XOR) signature, observed on each round's
    own checkpoint (the fixpoint star is invariant under both phases)."""
    # pair generation runs ONCE: nodes and edges both read one checkpoint
    raw = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).localCheckpoint()
    # every node that appears in ANY pair gets an output row — including a
    # node whose only pair is a self-loop (same contract as minlabel)
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    def step(e: DataFrame) -> DataFrame:
        # ---- large-star: over the undirected view, for each u connect
        # every neighbor v > u to m = min(N(u) ∪ {u})
        und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("mn"))
        lg = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .distinct()
            # two consumers below (the min and the re-point join)
            .localCheckpoint()
        )
        # ---- small-star: edges are (u > v)-oriented; for each u point
        # every smaller neighbor and u itself at m = min(N(u) ∪ {u})
        mins2 = lg.groupBy("u").agg(F.min("v").alias("mn"))
        sm_nbrs = (
            lg.join(mins2, "u")
            .where(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        sm_self = mins2.select("u", F.col("mn").alias("v"))
        return sm_nbrs.unionByName(sm_self).distinct()

    # working set: oriented (big, small) distinct edges, self-loops dropped;
    # XOR cannot overflow under ANSI, and a distinct set cancels nothing
    e = iterate(
        raw.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct(),
        step,
        max_iters,
        signature=F.struct(
            F.count("*"), F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0))
        ),
    )
    # fixpoint edge set is the star forest (node, component-min root);
    # roots appear only on the v side — they label themselves
    labels = nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("root")), "node", "left"
    ).select("node", F.coalesce("root", F.col("node")).alias("label"))
    return labels.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("cluster_rep"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


# --------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023, arXiv:2303.09540)
# --------------------------------------------------------------------------


def _cents_np(embeddings: DataFrame, n_clusters: int) -> np.ndarray:
    """(n_clusters, EMBED_DIM) int64 fixed-point centroid matrix — the
    first-N stand-in (contract SEM_CLUSTERS; metadata-sized collect, rows
    ordered by cent_id so np.argmax ties resolve to the smallest id)."""
    from .search import fixed_point_vec

    rows = (
        embeddings.where(F.col("vec_id") < n_clusters)
        .select("vec_id", fixed_point_vec(F.col("embedding")).alias("cv"))
        .orderBy("vec_id")
        .collect()
    )
    assert len(rows) == n_clusters, (
        f"semdedup: expected {n_clusters} centroid vectors, got {len(rows)}"
    )
    return np.array([r.cv for r in rows], dtype=np.int64)


def semdedup(
    embeddings: DataFrame,
    n_clusters: int = C.SEM_CLUSTERS,
    eps: float = C.SEM_EPS,
    cents: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then drop
    every vector whose cosine similarity to a BETTER mate in the SAME
    cluster reaches ``eps``.  "Better" = closer to the cluster centroid
    (higher exact int64 dot), tie -> smaller vec_id — a total order, so
    exactly one exemplar of each within-cluster near-dup neighborhood
    survives and the result is deterministic and resumable.

    Output (driver surface, scalars only): one row per vector —
    (vec_id, cent_id, cent_dot_e12, max_better_cos_r6, kept) where
    max_better_cos_r6 = round(max cosine to any better cluster-mate, 6)
    and -1.0 when the vector is its cluster's best (no better mate).

    100-TB shape: the centroid matrix is broadcast METADATA (assignment is
    one narrow Arrow pass, zero shuffle — the pq_assign precedent), and the
    quadratic cosine scan is confined WITHIN clusters (n^2/k, never the
    corpus cross-product — the paper's entire point).  One shuffle total:
    the repartition on cent_id feeding the grouped-map kernel.  At scale
    n_clusters grows with the corpus (paper: 11k clusters for LAION) so
    per-cluster matrices stay bounded; gate-scale uses the 8-cluster
    contract constant.  Per-cluster cost is an exact float64 BLAS matmul
    (products <= 1e12 and dots <= 6.4e13 < 2^53, so every intermediate is
    exactly representable — bit-identical to the int64 form and to the
    DuckDB oracle; the _pair_cos_r6_vec argument).  Rounding to 6dp stays
    JVM-side (F.round) and commutes with max because rounding is monotone.

    Pass ``cents`` to dedup against FROZEN externally-trained centroids
    (e.g. kmeans_centroids output)."""
    from pyspark.sql.functions import pandas_udf

    from .search import fixed_point_vec

    if cents is None:
        cents = _cents_np(embeddings, n_clusters)
    cents_f = cents.astype(np.float64)

    @pandas_udf("struct<cent_id:long, cent_dot_e12:long>")
    def assign(ev: pd.Series) -> pd.DataFrame:
        if ev.empty:
            return pd.DataFrame({"cent_id": [], "cent_dot_e12": []})
        E = np.stack(ev.to_numpy()).astype(np.float64)
        dots = E @ cents_f.T  # exact: |dot| <= 6.4e13 < 2^53
        best = dots.argmax(axis=1)  # first max = smallest cent_id on ties
        return pd.DataFrame(
            {
                "cent_id": best.astype(np.int64),
                "cent_dot_e12": dots[np.arange(len(best)), best].astype(np.int64),
            }
        )

    assigned = (
        embeddings.select(
            "vec_id", fixed_point_vec(F.col("embedding")).alias("ev")
        )
        .withColumn("a", assign(F.col("ev")))
        .select("vec_id", "ev", F.col("a.cent_id").alias("cent_id"),
                F.col("a.cent_dot_e12").alias("cent_dot_e12"))
    )

    def cluster_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        E = np.stack(pdf["ev"].to_numpy()).astype(np.float64)
        vid = pdf["vec_id"].to_numpy()
        cd = pdf["cent_dot_e12"].to_numpy()
        dots = E @ E.T  # exact int values in float64 (< 2^53)
        norms = np.sqrt(np.einsum("ij,ij->i", E, E))
        cos = dots / np.outer(norms, norms)  # same op order as _PAIR_COS
        better = (cd[None, :] > cd[:, None]) | (
            (cd[None, :] == cd[:, None]) & (vid[None, :] < vid[:, None])
        )
        mx = np.where(better, cos, -np.inf).max(axis=1)
        return pd.DataFrame(
            {
                "vec_id": vid,
                "cent_id": pdf["cent_id"].to_numpy(),
                "cent_dot_e12": cd,
                "max_better_cos": np.where(np.isfinite(mx), mx, -1.0),
            }
        )

    shuffle_n = int(embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scanned = (
        assigned.repartition(min(shuffle_n, max(n_clusters, 1)), "cent_id")
        .groupBy("cent_id")
        .applyInPandas(
            cluster_scan,
            "vec_id long, cent_id long, cent_dot_e12 long, max_better_cos double",
        )
    )
    return scanned.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cent_id").cast("long").alias("cent_id"),
        "cent_dot_e12",
        F.round(F.col("max_better_cos"), 6).alias("max_better_cos_r6"),
        (F.round(F.col("max_better_cos"), 6) < F.lit(eps)).alias("kept"),
    )


def semdedup_stats(embeddings: DataFrame) -> DataFrame:
    """Per-cluster SemDeDup attrition: (cent_id, n_vecs, n_kept, n_dropped)
    — the report a pipeline owner reads to tune eps/k.  One hash-agg over
    the per-vector frame (map-side combine; rows = n_clusters)."""
    s = semdedup(embeddings)
    return (
        s.groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.sum((~F.col("kept")).cast("long")).cast("long").alias("n_dropped"),
        )
    )


def knn_dedup_clusters(
    embeddings: DataFrame, k: int = C.KNN_DEDUP_K, max_iters: int = 60
) -> DataFrame:
    """SemDeDup-style GRAPH dedup over the RECIPROCAL nearest-neighbor
    edge set (search.mutual_knn_pairs at k=1, the best-buddies
    criterion): connected components partition the reciprocal-NN graph
    into semantic duplicate groups, min-id keeper per group — the
    cluster-free alternative to :func:`semdedup` (no quantizer to train,
    no cosine threshold to tune; reciprocity at k=1 is the selectivity —
    contract.py documents why larger k is the retrieval-graph setting,
    not the dedup setting).  Runs the large-star/small-star rounds
    because reciprocal-NN graphs CHAIN by construction (a near-dup
    series A~B~C where A,C are not each other's nearest) — exactly the
    long-path shape minlabel is slow on.  Same output contract as
    dedup_clusters: (doc_id, cluster_rep, is_keeper), only clustered
    docs emitted."""
    from .search import mutual_knn_pairs

    pairs = mutual_knn_pairs(embeddings, k=k).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return connected_components_star(pairs, max_iters=max_iters)


def minhash_est_audit(docs: DataFrame) -> DataFrame:
    """MinHash calibration audit: for every LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (`n_agree/K`, the unbiased
    MinHash estimator) next to the EXACT shingle Jaccard and their
    signed error — the report an operator reads before trusting
    MINHASH_K / banding parameters on a new corpus (estimator variance
    ~ 1/sqrt(K); a systematic error means the shingle distribution
    violates the estimator's assumptions, e.g. tiny docs).

    Scale shape: signatures and candidates are the production LSH path
    (never all-pairs); the exact-Jaccard denominator runs the shingle
    self-join ONLY over docs that appear in some candidate pair
    (left-semi prune) — candidate-mass-proportional, not corpus."""
    sig = minhash_signatures(docs).localCheckpoint()
    cands = band_pairs_from_signatures(sig).localCheckpoint()
    # explicit K-term agreement sum (pure codegen column expression)
    terms = [
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("long")
        for i in range(C.MINHASH_K)
    ]
    n_agree = terms[0]
    for t in terms[1:]:
        n_agree = n_agree + t
    est = (
        cands.join(
            sig.alias("a"), F.col("doc_a") == F.col("a.doc_id")
        )
        .join(sig.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )
    sh = doc_shingles(docs)
    cand_docs = cands.select(F.col("doc_a").alias("doc_id")).unionByName(
        cands.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    sh_c = sh.join(F.broadcast(cand_docs), "doc_id").localCheckpoint()
    sizes = sh_c.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    a, b = sh_c.alias("sa"), sh_c.alias("sb")
    inter = (
        a.join(b, "sh")
        .where(F.col("sa.doc_id") < F.col("sb.doc_id"))
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .join(cands, ["doc_a", "doc_b"])
    )
    out = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("inter", F.coalesce("inter", F.lit(0)).cast("long"))
        .join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("n_sh").alias("na"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("n_sh").alias("nb"),
                )
            ),
            "doc_b",
        )
    )
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        "n_agree",
        F.expr(f"n_agree * 1000000L DIV {C.MINHASH_K}").alias("est_e6"),
        "inter",
        F.expr("inter * 1000000L DIV (na + nb - inter)").alias("exact_e6"),
        F.expr(
            f"n_agree * 1000000L DIV {C.MINHASH_K}"
            " - inter * 1000000L DIV (na + nb - inter)"
        ).alias("err_e6"),
    )
