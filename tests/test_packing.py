"""Token-budget shard packing: the banded prefix scan must agree with a
plain single-window prefix sum ACROSS band boundaries (the driver-gate
corpus has doc_ids < PACK_BAND, so oracle parity alone never exercises the
band-totals carry), and boundary docs must belong to the shard they start
in."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from pdf_extraction_and_query_spark import contract as C
from pdf_extraction_and_query_spark.operators.packing import (
    shard_pack,
    source_mix,
    source_mix_sample,
    stratified_sample,
)


def _docs(spark, ids_and_words):
    rows = [(i, " ".join(f"w{k}" for k in range(n))) for i, n in ids_and_words]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_banded_prefix_sum_matches_plain_window_across_bands(spark):
    # doc_ids straddle three PACK_BAND ranges with gaps (sparse ids)
    ids = [1, 7, C.PACK_BAND - 1, C.PACK_BAND, C.PACK_BAND + 3,
           2 * C.PACK_BAND + 10, 3 * C.PACK_BAND - 1]
    docs = _docs(spark, [(i, 40 + (i % 7) * 13) for i in ids])
    got = {r["doc_id"]: (r["n_tokens"], r["shard_id"])
           for r in shard_pack(docs, budget=100).collect()}

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    plain = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"])
        for r in docs.select(
            "doc_id",
            F.size(F.split(F.trim("text"), C.WS_SPLIT_RE)).cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 100)
            .cast("long")
            .alias("shard_id"),
        )
        .collect()
    }
    assert got == plain


def test_prefix_sums_equal_plain_window_for_every_band_width(spark):
    """util.prefix_sums is the plain exclusive running-sum window whatever
    the banding: two key groups, sparse bands (k 0-4, 20-21 and 1000-1001
    leave empty bands between filled ones at width 3), zero and negative
    values, two sums at once; and a DESC order with a ``(-x) div w`` band
    (the curriculum_order shape)."""
    from pdf_extraction_and_query_spark.operators.util import prefix_sums

    ks = [0, 1, 2, 3, 4, 20, 21, 1000, 1001]
    rows = [
        (g, k, (k * 7 + i) % 5 - 2, 0 if k % 4 == 0 else -3 * k)
        for i, g in enumerate(("a", "b"))
        for k in (ks if g == "a" else ks[2:7])
    ]
    df = spark.createDataFrame(rows, "g string, k long, x long, y long")
    sums = {"sx": F.col("x"), "sy": F.col("y")}

    w = Window.partitionBy("g").orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    plain = df.select(
        "*",
        F.coalesce(F.sum("x").over(w), F.lit(0)).alias("sx"),
        F.coalesce(F.sum("y").over(w), F.lit(0)).alias("sy"),
    )
    expected = sorted(map(tuple, plain.collect()))
    assert any(r[4] < 0 for r in expected) and any(r[5] < 0 for r in expected)
    for band in (None, F.expr("k div 1"), F.expr("k div 3"), F.expr(f"k div {10**6}")):
        got = prefix_sums(df, sums, ["k"], keys=["g"], band=band)
        assert got.columns == [*df.columns, "sx", "sy"]
        assert sorted(map(tuple, got.collect())) == expected, band

    w_desc = Window.partitionBy("g").orderBy(F.desc("x"), F.asc("k")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    plain_desc = df.select(
        "*", F.coalesce(F.sum("y").over(w_desc), F.lit(0)).alias("sy")
    )
    got = prefix_sums(
        df, {"sy": F.col("y")}, [F.desc("x"), F.asc("k")], keys=["g"],
        band=F.expr("(-x) div 2"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain_desc.collect()))


def test_boundary_doc_belongs_to_starting_shard(spark):
    docs = _docs(spark, [(0, 80), (1, 80), (2, 10)])  # doc 1 straddles 100
    got = {r["doc_id"]: r["shard_id"] for r in shard_pack(docs, budget=100).collect()}
    assert got == {0: 0, 1: 0, 2: 1}


def test_stratified_sample_is_deterministic_and_stratified(spark):
    docs = spark.createDataFrame(
        [(i, "t", "en" if i % 2 == 0 else "de") for i in range(400)],
        "doc_id long, text string, lang string",
    )
    a = {r["doc_id"] for r in stratified_sample(docs).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs).collect()}
    assert a == b and len(a) > 0
    en = sum(1 for i in a if i % 2 == 0) / 200
    de = sum(1 for i in a if i % 2 == 1) / 200
    # rates: en 0.5, others 0.9 — allow hash noise at n=200
    assert abs(en - 0.5) < 0.15, en
    assert abs(de - 0.9) < 0.1, de


def test_pack_sequences_boundary_semantics(spark):
    from pdf_extraction_and_query_spark.operators.packing import (
        pack_sequences,
        sequence_stats,
    )

    # L=5; docs of 3, 4, 2, 7 tokens -> stream of 16 tokens -> seqs 0..3
    rows = [
        (0, "a b c"),            # [0,3)   -> seq 0 only
        (1, "d e f g"),          # [3,7)   -> seq 0 (tokens 3,4) + seq 1 (5,6)
        (2, "h i"),              # [7,9)   -> seq 1
        (3, "j k l m n o p"),    # [9,16)  -> seq 1 (9), seq 2 (10..14), seq 3 (15)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(map(tuple, pack_sequences(docs, seq_len=5).collect()))
    # (seq_id, doc_id, seq_tok_start, doc_tok_start, n_tokens)
    assert out == [
        (0, 0, 0, 0, 3),
        (0, 1, 3, 0, 2),
        (1, 1, 0, 2, 2),
        (1, 2, 2, 0, 2),
        (1, 3, 4, 0, 1),
        (2, 3, 0, 1, 5),
        (3, 3, 0, 6, 1),
    ]
    # per-doc contributions are contiguous and cover the doc
    by_doc = {}
    for seq_id, doc_id, _, dstart, n in out:
        by_doc.setdefault(doc_id, []).append((dstart, n))
    for doc_id, parts in by_doc.items():
        parts.sort()
        pos = 0
        for dstart, n in parts:
            assert dstart == pos
            pos += n
    stats = sorted(map(tuple, sequence_stats(docs, seq_len=5).collect()))
    # (seq_id, n_docs, n_tokens, first_doc, last_doc): all full except last
    assert stats == [(0, 2, 5, 0, 1), (1, 3, 5, 1, 3), (2, 1, 5, 3, 3), (3, 1, 1, 3, 3)]


def test_curate_corpus_full_drops_each_violator_class(spark):
    from pdf_extraction_and_query_spark import contract as C
    from pdf_extraction_and_query_spark.operators.packing import (
        curate_corpus_full,
        stratified_sample,
    )

    rows = []
    # fluency violators: 40 two-word docs sharing the left token -> each
    # bigram P = 1e6//40 = 25_000 < CURATE_MIN_FLUENCY_E6
    for i in range(40):
        rows.append((i, "en", f"x u{i}"))
    # coverage violators: an identical 12-word pair -> coverage 1e6 (also
    # exact dups, but the coverage filter kills BOTH before the keeper)
    dup = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    rows += [(100, "en", dup), (101, "en", dup)]
    # quality violator: < 10 words (and fluent: unique bigrams)
    rows.append((200, "en", "q1 q2 q3"))
    # candidates that pass quality+coverage+fluency: 12 unique words each
    for i in range(300, 310):
        rows.append((i, "en", " ".join(f"w{i}_{j}" for j in range(12))))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = {r.doc_id for r in curate_corpus_full(docs).collect()}
    assert kept.isdisjoint(set(range(40))), "fluency violators kept"
    assert kept.isdisjoint({100, 101}), "coverage violators kept"
    assert 200 not in kept, "quality violator kept"
    # every kept doc also passed the sampler (composition consistency)
    sampled = {r.doc_id for r in stratified_sample(docs).collect()}
    assert kept <= sampled
    assert kept <= set(range(300, 310))


def test_source_mix_downsamples_the_overrepresented_source(spark):
    # the gate corpus has uniform sources, so the interesting branch
    # (keep_rate < 1e6 on the dominant source) only runs here: 900 A docs
    # vs 100 B docs, alpha=1/2 -> weights 30000/10000, target shares
    # 750000/250000, natural 900000/100000 -> A is downsampled to
    # 833333, B capped at 1e6.
    docs = spark.createDataFrame(
        [(i, "t", "A" if i < 900 else "B") for i in range(1000)],
        "doc_id long, text string, source string",
    )
    mix = {r["source"]: r.asDict() for r in source_mix(docs).collect()}
    assert mix["A"]["weight_e3"] == 30000 and mix["B"]["weight_e3"] == 10000
    assert mix["A"]["natural_share_e6"] == 900000
    assert mix["A"]["target_share_e6"] == 750000
    assert mix["A"]["keep_rate_e6"] == (1_000_000 * 750_000) // 900_000
    assert mix["B"]["keep_rate_e6"] == 1_000_000


def test_source_mix_sample_is_deterministic_and_realizes_the_rates(spark):
    docs = spark.createDataFrame(
        [(i, "t", "A" if i < 900 else "B") for i in range(1000)],
        "doc_id long, text string, source string",
    )
    a = {r["doc_id"] for r in source_mix_sample(docs).collect()}
    b = {r["doc_id"] for r in source_mix_sample(docs).collect()}
    assert a == b
    kept_a = sum(1 for i in a if i < 900) / 900
    kept_b = sum(1 for i in a if i >= 900) / 100
    assert abs(kept_a - 0.8333) < 0.08, kept_a  # hash noise at n=900
    assert kept_b == 1.0  # rate 1e6 keeps every B doc, no noise allowed


def test_dataset_split_bands_and_independence(spark):
    from pdf_extraction_and_query_spark import contract as C
    from pdf_extraction_and_query_spark.operators.packing import (
        _sample_bucket,
        dataset_split,
        dataset_split_stats,
    )

    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1), "en") for i in range(4000)],
        "doc_id long, text string, lang string",
    )
    s = dataset_split(docs)
    rows = s.collect()
    # band semantics pinned exactly
    v, t = C.SPLIT_VAL_MICRO, C.SPLIT_VAL_MICRO + C.SPLIT_TEST_MICRO
    for r in rows:
        want = "val" if r.split_bucket < v else ("test" if r.split_bucket < t else "train")
        assert r.split == want
    # every doc assigned exactly once; deterministic across runs
    assert len(rows) == 4000
    assert sorted(map(tuple, rows)) == sorted(map(tuple, dataset_split(docs).collect()))
    # the split coordinate is independent of the SAMPLING coordinate: if
    # they correlated, sampling would bias the held-out sets
    both = (
        docs.select("doc_id")
        .withColumn("sb", _sample_bucket())
        .join(s.select("doc_id", "split_bucket"), "doc_id")
        .collect()
    )
    same = sum(1 for r in both if r.sb == r.split_bucket)
    assert same <= 2  # chance collisions only
    # stats roll up the same assignment (token mass conserved)
    st = {(r.lang, r.split): r for r in dataset_split_stats(docs).collect()}
    assert sum(r.n_docs for r in st.values()) == 4000
    n_val = sum(1 for r in rows if r.split == "val")
    assert st.get(("en", "val"), None) is None and n_val == 0 or st[("en", "val")].n_docs == n_val
