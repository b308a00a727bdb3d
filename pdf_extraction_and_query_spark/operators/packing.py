"""Training-shard packing: assign documents to ~equal-token shards.

The step between a cleaned corpus and a training run: data loaders want
shards of roughly constant token mass, produced deterministically so a
re-run (or a resumed run) shards identically.  Rule: documents are taken
in ``doc_id`` order and the shard id is ``floor(exclusive-prefix-sum(
ws_tokens) / PACK_TOKEN_BUDGET)`` — fixed token boundaries, no
bin-packing heuristics, so the assignment is a pure function of the
corpus (and therefore oracle-expressible).

Scale: a global ordered prefix sum is ONE window task no matter how many
executors — the same doc-serial trap as extraction stage 1 — so this,
like ``epoch_shuffle`` and ``curriculum_order``, runs the one banded
distributed scan ``operators/util.prefix_sums`` (here over
``band = floor(doc_id / PACK_BAND)``).  Token counting itself is the
codegen column expression shared with ``textstats.token_counts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import contract as C
from .util import prefix_sums


def _prefix_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, prefix_excl): exclusive prefix sum of per-doc
    token counts in doc_id order, by the banded ``util.prefix_sums`` over
    ``floor(doc_id / PACK_BAND)`` (the band-offsets window runs over
    #bands rows, never over documents)."""
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.trim(F.col("text")), C.WS_SPLIT_RE))
        .cast("long")
        .alias("n_tokens"),
    )
    return prefix_sums(
        toks,
        {"prefix_excl": F.col("n_tokens")},
        ["doc_id"],
        band=F.floor(F.col("doc_id") / C.PACK_BAND),
    )


def shard_pack(docs: DataFrame, budget: int = C.PACK_TOKEN_BUDGET) -> DataFrame:
    """(doc_id, n_tokens, shard_id): deterministic token-budget sharding.

    ``shard_id = floor(tokens-before-this-doc / budget)`` — a document
    whose tokens straddle a boundary belongs to the shard it started in,
    so every shard holds >= budget tokens except the last (no empty
    shards, no lookahead needed)."""
    return _prefix_tokens(docs).select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("prefix_excl") / budget).cast("long").alias("shard_id"),
    )


def shard_stats(docs: DataFrame, budget: int = C.PACK_TOKEN_BUDGET) -> DataFrame:
    """Per-shard rollup of the packing: doc count + token mass per shard
    (the manifest a training loader reads)."""
    return (
        shard_pack(docs, budget)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


def pack_sequences(docs: DataFrame, seq_len: int = C.SEQ_LEN) -> DataFrame:
    """Pack the corpus into fixed-length training sequences with document
    lineage — the loader-facing twin of ``shard_pack``: documents
    concatenate in doc_id order into one global token stream, sequence s
    owns tokens [s*L, (s+1)*L), and every (sequence, document) overlap
    emits one lineage row:

      (seq_id, doc_id, seq_tok_start, doc_tok_start, n_tokens)

    A document straddling sequence boundaries emits one row per sequence it
    touches (the cross-document attention-mask information a trainer
    needs); the final sequence may be short.  Pure integer arithmetic on
    the banded prefix scan — no data moves, only coordinates: the actual
    token gather at training time is a parquet-range read per sequence."""
    p = _prefix_tokens(docs)
    e = p.select(
        "doc_id",
        "n_tokens",
        "prefix_excl",
        F.explode(
            F.sequence(
                F.floor(F.col("prefix_excl") / seq_len),
                F.floor((F.col("prefix_excl") + F.col("n_tokens") - 1) / seq_len),
            )
        ).alias("seq_id"),
    )
    start = F.greatest(F.col("prefix_excl"), F.col("seq_id") * seq_len)
    end = F.least(
        F.col("prefix_excl") + F.col("n_tokens"), (F.col("seq_id") + 1) * seq_len
    )
    return e.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (start - F.col("seq_id") * seq_len).cast("long").alias("seq_tok_start"),
        (start - F.col("prefix_excl")).cast("long").alias("doc_tok_start"),
        (end - start).cast("long").alias("n_tokens"),
    )


def sequence_stats(docs: DataFrame, seq_len: int = C.SEQ_LEN) -> DataFrame:
    """Per-sequence manifest: every sequence is EXACTLY seq_len tokens
    except possibly the last (the invariant the oracle pins)."""
    return (
        pack_sequences(docs, seq_len)
        .groupBy("seq_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


def _sample_bucket():
    """First 48 md5 bits of (SAMPLE_SALT || doc_id), mod SAMPLE_MOD — the
    deterministic per-row sampling coordinate.  md5, NOT the poly hash:
    sampling needs a UNIFORM coordinate so that ``bucket < rate_micro``
    keeps ~rate fraction of every stratum, and the base-31 poly hash has
    no avalanche — all same-length id strings land in a ~B*9*len-wide
    residue window, which measured as a 0.975 effective keep rate for a
    nominal 0.5 (see tests/test_packing.py).  The salt keeps the
    coordinate decorrelated from content hashes.  DuckDB twin:
    ``('0x' || substr(md5(s),1,12))::BIGINT`` (equality verified in
    tests/test_oracle_parity.py via the paired oracles)."""
    s = F.concat(F.lit(C.SAMPLE_SALT), F.col("doc_id").cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long") % C.SAMPLE_MOD


def _sample_rate():
    """Per-language keep threshold in micro-units (contract table)."""
    rate = F.lit(C.SAMPLE_DEFAULT_MICRO)
    for lang, micro in sorted(C.SAMPLE_RATES_MICRO.items()):
        rate = F.when(F.col("lang") == lang, F.lit(micro)).otherwise(rate)
    return rate


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic hash-based stratified sampling — the corpus-curation
    step that rebalances language/source mix before training.  The keep
    decision is ``md5_bits48(SAMPLE_SALT || doc_id) % SAMPLE_MOD <
    rate_micro(lang)`` — a pure per-row function (no RNG state, no
    shuffle), so the sample is identical across re-runs, executors and
    engines; ``F.rand()`` or ``df.sample()`` would be neither resumable
    nor oracle-checkable."""
    return (
        docs.withColumn("sample_bucket", _sample_bucket().cast("long"))
        .where(F.col("sample_bucket") < _sample_rate())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "sample_bucket",
        )
    )


def source_mix(docs: DataFrame) -> DataFrame:
    """Temperature-scaled source mixing weights — the data-mixing step a
    multi-source training pipeline runs before sampling (the Pile's
    per-set epochs, Gopher/DoReMi's domain weights, public): flatten the
    natural source distribution toward uniform with weight =
    floor(sqrt(n_docs) * 1000), i.e. share ∝ n^alpha at alpha = 1/2
    (contract.MIX_SALT note: sqrt is the one IEEE-correctly-rounded
    power, so the weight is bit-identical across engines — arbitrary
    alpha would need fixed-point pow and is deliberately out of
    contract).  ``keep_rate_e6`` realizes the mix by DOWNSAMPLING
    overrepresented sources only (capped at 1e6 = keep everything):
    upsampling is a training-loader concern (repeat epochs), not a
    corpus rewrite.

    Scale shape (10^12 docs, 10^7 sources): ONE map-side-combined hash
    aggregation on source; the totals are a second aggregate over the
    per-source frame reduced to ONE row and broadcast back — no
    unpartitioned window ever runs over the per-source frame (the
    paginate lesson: |sources| can be millions at web scale)."""
    per = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    per = per.withColumn(
        "weight_e3", F.floor(F.sqrt(F.col("n_docs")) * 1000).cast("long")
    )
    tot = per.agg(
        F.sum("n_docs").alias("tn"), F.sum("weight_e3").alias("tw")
    )
    j = per.crossJoin(F.broadcast(tot))
    j = j.select(
        "source",
        "n_docs",
        "weight_e3",
        F.expr("(1000000 * n_docs) div tn").cast("long").alias(
            "natural_share_e6"
        ),
        F.expr("(1000000 * weight_e3) div tw").cast("long").alias(
            "target_share_e6"
        ),
    )
    return j.withColumn(
        "keep_rate_e6",
        F.least(
            F.lit(1_000_000),
            F.expr(
                "(1000000 * target_share_e6) div greatest(natural_share_e6, 1)"
            ),
        ).cast("long"),
    )


def source_mix_sample(docs: DataFrame) -> DataFrame:
    """Apply :func:`source_mix`'s per-source keep rates with the same
    deterministic md5-bucket rule as :func:`stratified_sample` (salt
    ``MIX_SALT`` keeps the two samples independent).  Pure per-row keep
    decision against a broadcast per-source rate table — re-runs,
    executors and the DuckDB oracle select the identical sample, and a
    resumed job never re-decides a doc differently."""
    rates = source_mix(docs).select("source", "keep_rate_e6")
    s = F.concat(F.lit(C.MIX_SALT), F.col("doc_id").cast("string"))
    bucket = (
        F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")
        % C.SAMPLE_MOD
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .withColumn("sample_bucket", bucket.cast("long"))
        .where(F.col("sample_bucket") < F.col("keep_rate_e6"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            "sample_bucket",
        )
    )


def curate_corpus(docs: DataFrame) -> DataFrame:
    """End-to-end corpus curation in ONE plan: quality filter AND
    stratified sample AND exact-dedup keeper — the composition a
    training-data pipeline actually ships, not three separate passes.

    Order matters for cost and is part of the contract: the two per-row
    predicates (quality, sample) are evaluated FIRST, narrow, on the scan —
    rejected documents never reach the shuffle — and the dedup-keeper
    window (min doc_id per content hash) runs over the survivors only.
    One shuffle total, keyed on the md5 content hash (not the text: the
    projection drops ``text`` before the exchange, so shuffle volume is a
    few scalar columns per surviving doc)."""
    from .dedup import _norm

    t = F.col("text")
    words = F.size(F.split(F.trim(t), C.WS_SPLIT_RE))
    stops = F.regexp_count(t, F.lit(C.QUALITY_STOPWORD_RE))
    base = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            words.cast("long").alias("n_words"),
            ((words >= 10) & (stops / words <= 0.5)).alias("_q"),
            _sample_bucket().cast("long").alias("sample_bucket"),
            (_sample_bucket() < _sample_rate()).alias("_s"),
            F.md5(_norm(t)).alias("_h"),
        )
        .where(F.col("_q") & F.col("_s"))
    )
    w = Window.partitionBy("_h")
    return (
        base.withColumn("_keeper", F.col("doc_id") == F.min("doc_id").over(w))
        .where("_keeper")
        .select("doc_id", "lang", "n_words", "sample_bucket")
    )


def curate_corpus_full(docs: DataFrame) -> DataFrame:
    """Five-signal curation in one plan: per-row quality AND stratified
    sample (narrow, pruned on the scan), corpus-evidence duplicated-passage
    coverage <= CURATE_MAX_DUP_COVERAGE_E6, self-trained LM fluency >=
    CURATE_MIN_FLUENCY_E6, exact-dedup keeper — the composition a real
    pretraining pipeline ships.

    Contract choices: the two aggregate signals (coverage, fluency) are
    computed over the FULL corpus, not the per-row survivors — they are
    corpus evidence, so the verdict on a document cannot depend on which
    other documents the sampler happened to keep.  Coverage joins LEFT
    (absent = 0 = no duplicated passage); fluency joins INNER (a doc with
    no bigram is unscoreable and dropped).  The keeper window runs last,
    over survivors only.

    Scale: the narrow predicates never reach a shuffle; the signal joins
    are doc_id-keyed against per-doc AGGREGATES (corpus-sized inputs, but
    doc-sized join operands); the keeper shuffle carries a few scalar
    columns per surviving doc."""
    from .dedup import _norm
    from .repetition import dup_passage_stats
    from .textstats import lm_fluency

    t = F.col("text")
    words = F.size(F.split(F.trim(t), C.WS_SPLIT_RE))
    stops = F.regexp_count(t, F.lit(C.QUALITY_STOPWORD_RE))
    base = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            words.cast("long").alias("n_words"),
            ((words >= 10) & (stops / words <= 0.5)).alias("_q"),
            (_sample_bucket() < _sample_rate()).alias("_s"),
            F.md5(_norm(t)).alias("_h"),
        )
        .where(F.col("_q") & F.col("_s"))
    )
    cov = dup_passage_stats(docs).select("doc_id", "coverage_e6")
    flu = lm_fluency(docs).select("doc_id", "fluency_e6")
    j = (
        base.join(cov, "doc_id", "left")
        .withColumn(
            "dup_coverage_e6",
            F.coalesce(F.col("coverage_e6"), F.lit(0)).cast("long"),
        )
        .where(F.col("dup_coverage_e6") <= C.CURATE_MAX_DUP_COVERAGE_E6)
        .join(flu, "doc_id")
        .where(F.col("fluency_e6") >= C.CURATE_MIN_FLUENCY_E6)
    )
    w = Window.partitionBy("_h")
    return (
        j.withColumn("_keeper", F.col("doc_id") == F.min("doc_id").over(w))
        .where("_keeper")
        .select("doc_id", "lang", "n_words", "dup_coverage_e6", "fluency_e6")
    )


def curate_corpus_v2(docs: DataFrame) -> DataFrame:
    """Seven-signal curation — :func:`curate_corpus_full`'s five signals
    plus the two model-shaped ones a modern pretraining pipeline adds:
    the quality-classifier verdict (``label = 'keep'``,
    `operators/classifier.py` — fastText/FineWeb-style) and the CCNet
    perplexity bucket (``bucket <> 'tail'`` — head and middle train, tail
    drops; Wenzek et al. 2020).

    Same contract choices as the five-signal form: every aggregate signal
    is computed over the FULL corpus (corpus evidence — the verdict on a
    document never depends on what the sampler kept); classifier and
    bucket join INNER (token-less docs are unscoreable and drop, the
    fluency rule); the exact-dedup keeper window runs LAST over survivors.
    Scale: two more doc_id-keyed joins against per-doc aggregates — the
    shuffles carry scalar signal columns, never text.

    Source-scan sharing (PLANS.md #44, round-4 verdict ask): the four
    word-keyed signal families (base heuristics, lm_fluency bigrams,
    classifier stub, CCNet per-language model) all consume ONE
    materialized ``(doc_id, lang, text, words)`` projection —
    localCheckpointed so every downstream branch reads the persisted
    blocks instead of independently re-scanning + re-tokenizing the
    documents source (multi-consumer recompute, PLANS.md #11).  Only
    dup_passage_stats keeps its own scan: its shingle keying tokenizes
    differently (k-gram stream, not words) and shares nothing.  Plan
    check: tests/test_plan_shapes.py pins the documents-source scan
    count at <= 2 (was 5)."""
    from .classifier import quality_classify
    from .repetition import _words, dup_passage_stats
    from .dedup import _norm
    from .textstats import ccnet_buckets, lm_fluency
    from .util import fan_out

    shared = (
        fan_out(docs)
        .select("doc_id", "lang", "text", _words(F.col("text")).alias("words"))
        .localCheckpoint(eager=False)
    )
    t = F.col("text")
    words = F.size(F.split(F.trim(t), C.WS_SPLIT_RE))
    stops = F.regexp_count(t, F.lit(C.QUALITY_STOPWORD_RE))
    base = (
        shared.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            words.cast("long").alias("n_words"),
            ((words >= 10) & (stops / words <= 0.5)).alias("_q"),
            (_sample_bucket() < _sample_rate()).alias("_s"),
            F.md5(_norm(t)).alias("_h"),
        )
        .where(F.col("_q") & F.col("_s"))
    )
    cov = dup_passage_stats(docs).select("doc_id", "coverage_e6")
    flu = lm_fluency(docs, prepared=shared).select("doc_id", "fluency_e6")
    cls = quality_classify(docs, spec="stub", prepared=shared).select(
        "doc_id", F.col("score_e6").alias("cls_score_e6"), "label"
    )
    cc = ccnet_buckets(docs, prepared=shared).select("doc_id", "bucket")
    j = (
        base.join(cov, "doc_id", "left")
        .withColumn(
            "dup_coverage_e6",
            F.coalesce(F.col("coverage_e6"), F.lit(0)).cast("long"),
        )
        .where(F.col("dup_coverage_e6") <= C.CURATE_MAX_DUP_COVERAGE_E6)
        .join(flu, "doc_id")
        .where(F.col("fluency_e6") >= C.CURATE_MIN_FLUENCY_E6)
        .join(cls, "doc_id")
        .where(F.col("label") == "keep")
        .join(cc, "doc_id")
        .where(F.col("bucket") != "tail")
    )
    w = Window.partitionBy("_h")
    return (
        j.withColumn("_keeper", F.col("doc_id") == F.min("doc_id").over(w))
        .where("_keeper")
        .select(
            "doc_id",
            "lang",
            "n_words",
            "dup_coverage_e6",
            "fluency_e6",
            "cls_score_e6",
            "bucket",
        )
    )


def _split_bucket():
    """First 48 md5 bits of (SPLIT_SALT || doc_id), mod SAMPLE_MOD — the
    per-row split coordinate (uniform for the same avalanche reason as
    :func:`_sample_bucket`; its own salt keeps it independent of the
    sampling and mixing coordinates)."""
    s = F.concat(F.lit(C.SPLIT_SALT), F.col("doc_id").cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long") % C.SAMPLE_MOD


def _split_label(b):
    """val = [0, SPLIT_VAL_MICRO), test = the next SPLIT_TEST_MICRO band,
    train = the rest — band edges are contract constants so the held-out
    sets never drift between waves."""
    v, t = C.SPLIT_VAL_MICRO, C.SPLIT_VAL_MICRO + C.SPLIT_TEST_MICRO
    return (
        F.when(b < v, F.lit("val"))
        .when(b < t, F.lit("test"))
        .otherwise(F.lit("train"))
    )


def dataset_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment — the handoff step between
    curation and training (every pipeline carves held-out sets; doing it
    by salted doc_id hash makes the split stable under re-runs, resumable
    ingestion, and engine changes, where ``df.randomSplit`` is none of
    those).

    Split-by-doc_id is the standard leakage rule ONLY downstream of
    dedup/decontamination (a near-dup pair straddling the cut leaks —
    that is the dedup family's job, not the splitter's; compose as
    curate -> dedup -> split).  Pure per-row arithmetic: no shuffle, no
    RNG state, scales as a narrow scan."""
    return docs.withColumn(
        "split_bucket", _split_bucket().cast("long")
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "split_bucket",
        _split_label(F.col("split_bucket")).alias("split"),
    )


def dataset_split_stats(docs: DataFrame) -> DataFrame:
    """Per-(lang, split) report of :func:`dataset_split` — doc counts and
    the token mass each split carries (what a training run logs before it
    starts).  ONE map-side-combined hash agg over one narrow scan (split
    coordinate and token count computed inline — no join back); token
    counts reuse the packing tokenizer's whitespace rule."""
    toks = F.size(F.split(F.trim(F.col("text")), C.WS_SPLIT_RE)).cast("long")
    d = docs.select(
        "lang", toks.alias("n_tokens"), _split_bucket().cast("long").alias("split_bucket")
    ).withColumn("split", _split_label(F.col("split_bucket")))
    return d.groupBy("lang", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("split_bucket").cast("long").alias("min_bucket"),
        F.max("split_bucket").cast("long").alias("max_bucket"),
    )


def curation_funnel(docs: DataFrame) -> DataFrame:
    """The documents-side attrition report (the training twin of the crawl
    side's ``corpus_funnel``), ONE row of stage counts a pipeline owner
    reads before launching a run: docs in the pool -> quality pass ->
    sample keep -> dedup keeper -> token mass kept -> train/val/test
    membership of the kept set.  Every stage reuses the EXACT predicate /
    hash / band arithmetic of its standalone operator (curate_corpus,
    dataset_split), so the funnel can never disagree with the operators
    it summarizes.

    Scale shape (10^12 docs): one narrow scan reduces every doc to a
    summary row (flags + md5 + buckets, no text) which is
    localCheckpointed ONCE — the pre-filter counts and the keeper window
    both consume it (independent planning, PLANS.md #11); the keeper
    window is the same single content-hash exchange curate_corpus pays;
    both consumers end in 1-row aggregates crossJoined back together."""
    from .dedup import _norm

    t = F.col("text")
    words = F.size(F.split(F.trim(t), C.WS_SPLIT_RE))
    stops = F.regexp_count(t, F.lit(C.QUALITY_STOPWORD_RE))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        words.cast("long").alias("n_words"),
        ((words >= 10) & (stops / words <= 0.5)).alias("q"),
        (_sample_bucket() < _sample_rate()).alias("s"),
        F.md5(_norm(t)).alias("h"),
        _split_label(_split_bucket().cast("long")).alias("split"),
    ).localCheckpoint()
    stages = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("q").cast("long")).cast("long").alias("n_quality"),
        F.sum((F.col("q") & F.col("s")).cast("long"))
        .cast("long")
        .alias("n_sampled"),
    )
    w = Window.partitionBy("h")
    kept = (
        base.where(F.col("q") & F.col("s"))
        .withColumn("keeper", F.col("doc_id") == F.min("doc_id").over(w))
        .where("keeper")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("n_words").cast("long").alias("n_tokens_kept"),
            F.sum((F.col("split") == "train").cast("long"))
            .cast("long")
            .alias("n_train"),
            F.sum((F.col("split") == "val").cast("long"))
            .cast("long")
            .alias("n_val"),
            F.sum((F.col("split") == "test").cast("long"))
            .cast("long")
            .alias("n_test"),
        )
    )
    return stages.crossJoin(F.broadcast(kept))


def epoch_shuffle(
    docs: DataFrame,
    n_epochs: int = C.EPOCH_N,
    n_shards: int = C.EPOCH_SHARDS,
) -> DataFrame:
    """Deterministic epoch-wise training shuffle: for each epoch, every
    document gets a fresh pseudorandom order key ``h = md5_bits48(
    EPOCH_SALT || epoch || ':' || doc_id)``, a shard ``h % n_shards``
    and its 1-based position within that shard under (h, doc_id) order
    — the data-order-reproducibility contract a training stack needs
    (the same (corpus, epoch) always yields the same loader order, so a
    resumed run never re-sees or skips documents).

    Scale shape: the rank within an (epoch, shard) is NOT one global
    window task — it is the exclusive count of ``util.prefix_sums`` over
    hash-order bands ``h >> EPOCH_BAND_SHIFT``, whose windows are
    ~n/(shards·4096) rows, plus band offsets cumulated over the
    band-count frame (≤ epochs·shards·4096 rows, broadcast back).  The
    DuckDB oracle computes the same positions with the plain global
    window — an independent algorithm pinning the banded scan."""
    epochs = F.array(*[F.lit(i).cast("long") for i in range(n_epochs)])
    e = docs.select(F.col("doc_id").cast("long").alias("doc_id")).withColumn(
        "epoch", F.explode(epochs)
    )
    s = F.concat(
        F.lit(C.EPOCH_SALT),
        F.col("epoch").cast("string"),
        F.lit(":"),
        F.col("doc_id").cast("string"),
    )
    t = e.withColumn(
        "h", F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")
    ).withColumn("shard", (F.col("h") % n_shards).cast("long"))
    return prefix_sums(
        t,
        {"pos": F.lit(1)},
        ["h", "doc_id"],
        keys=["epoch", "shard"],
        band=F.shiftright(F.col("h"), C.EPOCH_BAND_SHIFT),
    ).select("doc_id", "epoch", "shard", (F.col("pos") + 1).alias("pos"))


def unimax_alloc(docs: DataFrame) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, public):
    waterfill the training token budget across languages with a
    per-language epoch cap — the multilingual sampling step that replaces
    temperature mixing (:func:`source_mix`) when low-resource languages
    must not be over-epoched.

    Closed form (contract.py UNIMAX_* note): rank languages ascending by
    capacity ``cap = n_tokens * UNIMAX_MAX_EPOCHS``; a language is capped
    iff ``cap * (L - rank + 1) <= B - sum(smaller caps)`` (capped
    languages form a prefix of the ascending order, provably); everyone
    else splits the leftover evenly, the integer-div remainder going +1
    to the first uncapped ranks so ``sum(alloc_tokens) == B`` exactly.

    Scale shape: one map-side-combined hash agg over the corpus reduces
    it to the per-language frame (bounded ~10^2..10^4 rows — languages,
    not sources), then ONE ranked window over that tiny frame; the
    budget/leftover scalars ride a broadcast 1-row crossJoin, never a
    second pass over documents."""
    toks = F.size(F.split(F.trim(F.col("text")), C.WS_SPLIT_RE)).cast("long")
    per = docs.select("lang", toks.alias("t")).groupBy("lang").agg(
        F.sum("t").cast("long").alias("n_tokens")
    )
    per = per.withColumn(
        "cap_tokens", (F.col("n_tokens") * C.UNIMAX_MAX_EPOCHS).cast("long")
    )
    # budget in integer div (a float divide would go inexact past 2^53
    # at real corpus token masses)
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("tt"),
    ).select(
        "n_langs",
        F.expr(f"(tt * {C.UNIMAX_BUDGET_E6}) div 1000000")
        .cast("long")
        .alias("budget"),
    )
    w = Window.orderBy("cap_tokens", "lang")
    ranked = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "smaller_caps",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "capped",
            F.col("cap_tokens") * (F.col("n_langs") - F.col("rank") + 1)
            <= F.col("budget") - F.col("smaller_caps"),
        )
    )
    # the ranked frame is consumed twice (the leftover aggregate + the
    # final select) and Spark plans shared subtrees independently
    # (PLANS.md #11) — pin the corpus aggregation once; the frame is L
    # rows, so the checkpoint is metadata-sized
    ranked = ranked.localCheckpoint()
    # leftover after the capped prefix + how many languages share it:
    # 1-row aggregate of the tiny ranked frame, broadcast back
    rem = ranked.agg(
        (
            F.max("budget")
            - F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap_tokens"))), F.lit(0)
            )
        )
        .cast("long")
        .alias("leftover"),
        F.sum((~F.col("capped")).cast("long")).cast("long").alias("n_unc"),
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.lit(1)).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("n_capped"),
    )
    alloc = F.when(F.col("capped"), F.col("cap_tokens")).otherwise(
        F.expr("leftover div greatest(n_unc, 1)").cast("long")
        + (
            (F.col("rank") - F.col("n_capped"))
            <= F.col("leftover") % F.greatest(F.col("n_unc"), F.lit(1))
        ).cast("long")
    )
    return (
        ranked.crossJoin(F.broadcast(rem))
        .select(
            "lang",
            "n_tokens",
            "cap_tokens",
            "rank",
            "capped",
            alloc.cast("long").alias("alloc_tokens"),
        )
        .withColumn(
            "epochs_e3",
            F.expr("(1000 * alloc_tokens) div greatest(n_tokens, 1)").cast(
                "long"
            ),
        )
    )


def pad_efficiency(docs: DataFrame) -> DataFrame:
    """Length-bucketed batching padding-waste report (contract PAD_*):
    per power-of-two bucket, how many docs land there, the real token
    mass, the padding the bucket would add, truncated tokens, and the
    bucket utilization in ppm — the report a trainer reads to pick
    sequence-length buckets.  ONE narrow scan + one map-side-combined
    hash agg on a ~6-value key; the bucket ladder is a bounded CASE
    chain (never float log2, contract note)."""
    n = F.size(F.split(F.trim(F.col("text")), C.WS_SPLIT_RE)).cast("long")
    edges = []
    b = C.PAD_MIN_BUCKET
    while b <= C.PAD_MAX_LEN:
        edges.append(b)
        b *= 2
    bucket = F.when(n <= edges[0], F.lit(edges[0]))
    for e in edges[1:]:
        bucket = bucket.when(n <= e, F.lit(e))
    bucket = bucket.otherwise(F.lit(C.PAD_MAX_LEN)).cast("long")
    kept = F.least(n, F.lit(C.PAD_MAX_LEN)).cast("long")
    d = docs.select(
        bucket.alias("bucket"),
        kept.alias("kept"),
        (n - kept).cast("long").alias("trunc"),
    )
    g = d.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_tokens"),
        (F.first("bucket") * F.count(F.lit(1)) - F.sum("kept"))
        .cast("long")
        .alias("n_pad"),
        F.sum("trunc").cast("long").alias("n_trunc"),
    )
    return g.withColumn(
        "util_e6",
        F.expr("(1000000 * n_tokens) div (n_tokens + n_pad)").cast("long"),
    )


def split_leakage(docs: DataFrame) -> DataFrame:
    """Cross-split near-duplicate leakage audit: MinHash-LSH candidate
    pairs (the EXACT banding arithmetic of ``dedup.minhash_band_pairs``)
    labeled with each side's train/val/test assignment (the EXACT salted
    coordinate of :func:`dataset_split`) — ``leak`` marks pairs that
    straddle a split boundary, the contamination a doc-id split cannot
    see (the dataset_split docstring's stated composition contract,
    made checkable).

    Scale shape: the pair side is the LSH (band, val) equi-join — never
    all-pairs; the split coordinate is pure per-row arithmetic folded
    into the tiny pair frame by two joins against the (doc_id, split)
    projection (broadcast at report scale; doc_id-keyed equi-joins at
    10^12)."""
    from .dedup import minhash_band_pairs

    pairs = minhash_band_pairs(docs)
    splits = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _split_label(_split_bucket().cast("long")).alias("split"),
    )
    a = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leak"),
        )
    )


def split_leakage_stats(docs: DataFrame) -> DataFrame:
    """One-row rollup of :func:`split_leakage` — candidate pairs total,
    leaking pairs, and how many distinct val/test documents have a
    TRAIN-side near-dup (the number a pipeline owner checks before
    trusting held-out loss; a val-test pair leaks but contaminates no
    eval metric, so it counts toward ``n_leaks`` only).

    The pair frame is referenced ONCE: both sides of each pair explode
    from one array-of-structs (a doc can be doc_a in one pair and doc_b
    in another, so the distinct must run over the union of sides —
    and two selects of the same pair subtree would plan the LSH twice,
    PLANS.md #11), with pair-level counts recovered exactly as
    side-count div 2."""
    lk = split_leakage(docs)
    sides = lk.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("d"),
                    F.col("split_a").alias("s"),
                    F.col("split_b").alias("o"),
                    F.col("leak"),
                ),
                F.struct(
                    F.col("doc_b").alias("d"),
                    F.col("split_b").alias("s"),
                    F.col("split_a").alias("o"),
                    F.col("leak"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    eval_doc = F.when(
        F.col("leak")
        & F.col("s").isin("val", "test")
        & (F.col("o") == "train"),
        F.col("d"),
    )
    return sides.agg(
        F.expr("count(1) div 2").cast("long").alias("n_pairs"),
        F.expr("coalesce(sum(cast(leak as long)), 0) div 2")
        .cast("long")
        .alias("n_leaks"),
        F.count_distinct(eval_doc).cast("long").alias("n_eval_contaminated"),
    )


def curriculum_order(docs: DataFrame) -> DataFrame:
    """Deterministic easy-to-hard training curriculum (contract
    CURR_BAND_E3 note): (doc_id, flesch_e3, pos) with pos a permutation
    of 0..n-1 ordered by (flesch_e3 DESC, doc_id) — curriculum learning
    wants the most readable documents first, and a training loader
    needs the order to be a pure function of the corpus (resumable,
    engine-independent) like :func:`epoch_shuffle`.

    The score reuses the readability operator's exact arithmetic
    (:func:`..textstats.readability` docstring) so the curriculum can
    never disagree with the published signal. ``pos`` is the exclusive
    count of ``util.prefix_sums`` over bands ``(-flesch_e3) div
    CURR_BAND_E3``, which never decrease along the DESC order."""
    t = F.col("text")
    n_sent = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    n_words = F.size(F.split(F.trim(t), C.WS_SPLIT_RE)).cast("long")
    n_syll = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")).cast("long")
    base = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            n_sent.alias("ns"),
            n_words.alias("nw"),
            n_syll.alias("sy"),
        )
        .where(F.col("nw") > 0)
        .select(
            "doc_id",
            F.expr(
                "206835 - 1015 * nw DIV ns - 84600 * sy DIV nw"
            ).cast("long").alias("flesch_e3"),
        )
    )
    return prefix_sums(
        base,
        {"pos": F.lit(1)},
        [F.desc("flesch_e3"), F.asc("doc_id")],
        band=F.expr(f"(-flesch_e3) div {C.CURR_BAND_E3}"),
    )


def exact_sample(docs: DataFrame, k: int = C.EXACT_SAMPLE_K) -> DataFrame:
    """Deterministic exact-count sample (contract EXACT_SAMPLE note):
    bottom-k by salted md5 coordinate, TakeOrderedAndProject plan
    (plan-asserted in tests/test_plan_shapes.py), rank window only over
    the k surviving rows."""
    key = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(C.EXACT_SAMPLE_SALT),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    top = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            key.alias("sample_key"),
        )
        .orderBy(F.asc("sample_key"), F.asc("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.asc("sample_key"), F.asc("doc_id"))
    return top.withColumn(
        "rank", (F.row_number().over(w)).cast("long")
    )
