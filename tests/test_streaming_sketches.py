"""Streaming sketch maintenance: merged cells/registers must equal the
one-shot sketches over everything ingested (the merge laws make this
EXACT equality), replays must be exactly-once (CMS cells sum — not
idempotent), compaction must not change a row, and the live estimates
must equal the batch-side read tails."""

from pdf_extraction_and_query_spark.operators.sketches import (
    cms_estimate,
    cms_sketch,
    hll_registers,
)
from pdf_extraction_and_query_spark.streaming.sketches import (
    DOCS_SCHEMA,
    cms_estimate_merged,
    cms_merged,
    hll_estimate_merged,
    hll_registers_merged,
    make_sketch_batch_processor,
    sketch_compact,
    sketch_init,
)
from pdf_extraction_and_query_spark.streaming.deltaindex import start_maintenance

_BASE = [(0, "apple banana apple cherry"), (1, "banana durian banana")]
_B1 = [(2, "cherry cherry apple fig"), (3, "grape banana fig fig kiwi")]
_B2 = [(4, "mango apple kiwi kiwi")]


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _setup(spark, tmp_path):
    root = str(tmp_path / "sk")
    sketch_init(_docs(spark, _BASE), root)
    return root


def _cells(df):
    return sorted(map(tuple, df.collect()))


def test_merged_equals_one_shot(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_sketch_batch_processor(root)
    proc(_docs(spark, _B1), 0)
    proc(_docs(spark, _B2), 1)
    every = _docs(spark, _BASE + _B1 + _B2)
    assert _cells(cms_merged(spark, root)) == _cells(cms_sketch(every))
    assert _cells(hll_registers_merged(spark, root)) == _cells(
        hll_registers(every)
    )


def test_replay_exactly_once_and_compact_preserving(spark, tmp_path):
    root = _setup(spark, tmp_path)
    proc = make_sketch_batch_processor(root)
    proc(_docs(spark, _B1), 0)
    once = _cells(cms_merged(spark, root))
    proc(_docs(spark, _B1), 0)  # crash-replay: cells must NOT double
    assert _cells(cms_merged(spark, root)) == once
    sketch_compact(spark, root)
    assert _cells(cms_merged(spark, root)) == once
    assert _cells(hll_registers_merged(spark, root)) == _cells(
        hll_registers(_docs(spark, _BASE + _B1))
    )
    # replay of an already-FOLDED batch must also be a no-op (watermark)
    proc(_docs(spark, _B1), 0)
    assert _cells(cms_merged(spark, root)) == once


def test_live_estimates_match_batch_tails(spark, tmp_path):
    root = _setup(spark, tmp_path)
    make_sketch_batch_processor(root)(_docs(spark, _B1), 0)
    every = _docs(spark, _BASE + _B1)
    toks = ["apple", "fig", "neverseen"]
    live = _cells(cms_estimate_merged(spark, root, toks))
    batch = _cells(cms_estimate(cms_sketch(every), toks))
    assert live == batch
    assert ("neverseen", 0) in live
    live_est = hll_estimate_merged(spark, root).collect()[0]
    assert live_est["est"] > 0
    assert "exact_distinct" not in live_est.asDict()


def test_available_now_end_to_end(spark, tmp_path):
    root = _setup(spark, tmp_path)
    inp = tmp_path / "in"
    inp.mkdir()
    _docs(spark, _B1).write.parquet(str(inp / "b1"))
    q = start_maintenance(
        spark,
        DOCS_SCHEMA,
        str(inp) + "/*",
        make_sketch_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    every = _docs(spark, _BASE + _B1)
    assert _cells(cms_merged(spark, root)) == _cells(cms_sketch(every))
    assert _cells(hll_registers_merged(spark, root)) == _cells(
        hll_registers(every)
    )


def test_bloom_merged_equals_one_shot_and_probe(spark, tmp_path):
    from pdf_extraction_and_query_spark.operators.dedup import doc_shingles
    from pdf_extraction_and_query_spark.operators.sketches import bloom_build
    from pdf_extraction_and_query_spark.streaming.sketches import (
        bloom_merged,
        bloom_probe_merged,
    )

    root = _setup(spark, tmp_path)
    proc = make_sketch_batch_processor(root)
    long_docs = [
        (10, "alpha beta gamma delta epsilon zeta"),
        (11, "eta theta iota kappa lambda mu"),
    ]
    proc(_docs(spark, long_docs), 0)
    every = _docs(spark, _BASE + long_docs)
    whole = bloom_build(
        doc_shingles(every).select("sh").distinct().withColumnRenamed("sh", "key")
    )
    assert _cells(bloom_merged(spark, root)) == _cells(whole)
    got = {
        r["key"]: r["maybe"]
        for r in bloom_probe_merged(
            spark, root, ["alpha beta gamma", "beta gamma delta", "never seen this"]
        ).collect()
    }
    assert got["alpha beta gamma"] and got["beta gamma delta"]
    assert not got["never seen this"]


# ------------------------------------------------ HDR value sketch (events)
import datetime as _dt

from pdf_extraction_and_query_spark.operators.sketches import (
    hdr_estimates_from_sketch,
    hdr_sketch,
)
from pdf_extraction_and_query_spark.streaming.sketches import (
    EVENTS_SCHEMA,
    hdr_estimates_merged,
    hdr_merged,
    make_value_sketch_batch_processor,
    value_sketch_compact,
    value_sketch_init,
)

_EV_BASE = [(0, "click", 1.23), (1, "click", 45.6), (2, "error", 0.0)]
_EV_B1 = [(3, "click", 512.0), (4, "error", 45.6), (5, "view", 7.89)]
_EV_B2 = [(6, "click", 1.23), (7, "view", 260.01)]


def _events(spark, rows):
    base = _dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, base + _dt.timedelta(seconds=i), i % 3, t, v, "{}")
            for (i, t, v) in rows
        ],
        EVENTS_SCHEMA,
    )


def test_hdr_merged_equals_one_shot_and_replay(spark, tmp_path):
    root = str(tmp_path / "vsk")
    value_sketch_init(_events(spark, _EV_BASE), root)
    proc = make_value_sketch_batch_processor(root)
    proc(_events(spark, _EV_B1), 0)
    proc(_events(spark, _EV_B2), 1)
    every = _events(spark, _EV_BASE + _EV_B1 + _EV_B2)
    assert _cells(hdr_merged(spark, root)) == _cells(hdr_sketch(every))
    # live estimates == batch read tail over everything
    assert _cells(hdr_estimates_merged(spark, root)) == _cells(
        hdr_estimates_from_sketch(hdr_sketch(every))
    )
    # crash-replay must not double-count (sum merge is not idempotent)
    once = _cells(hdr_merged(spark, root))
    proc(_events(spark, _EV_B2), 1)
    assert _cells(hdr_merged(spark, root)) == once
    value_sketch_compact(spark, root)
    assert _cells(hdr_merged(spark, root)) == once
    proc(_events(spark, _EV_B2), 1)  # folded-batch replay: watermark no-op
    assert _cells(hdr_merged(spark, root)) == once


def test_hdr_available_now_end_to_end(spark, tmp_path):
    root = str(tmp_path / "vsk2")
    inp = tmp_path / "in"
    inp.mkdir()
    value_sketch_init(_events(spark, _EV_BASE), root)
    _events(spark, _EV_B1).coalesce(1).write.mode("append").parquet(str(inp))
    q = start_maintenance(
        spark,
        EVENTS_SCHEMA,
        str(inp),
        make_value_sketch_batch_processor(root),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    every = _events(spark, _EV_BASE + _EV_B1)
    assert _cells(hdr_merged(spark, root)) == _cells(hdr_sketch(every))


# ------------------------------------------------ theta sample (source docs)
from pdf_extraction_and_query_spark.operators.sketches import (
    theta_sample,
    theta_source_overlap,
)
from pdf_extraction_and_query_spark.streaming.sketches import (
    THETA_DOCS_SCHEMA,
    make_theta_batch_processor,
    theta_compact,
    theta_init,
    theta_overlap_merged,
    theta_sample_merged,
)

# enough tokens that the 1/8 sample is non-empty per source
_T_BASE = [
    (0, " ".join(f"tok{i}" for i in range(120)), "a"),
    (1, " ".join(f"tok{i}" for i in range(60, 180)), "b"),
]
_T_B1 = [
    (2, " ".join(f"new{i}" for i in range(120)), "a"),
    (3, " ".join(f"tok{i}" for i in range(200, 320)), "c"),
]


def _tdocs(spark, rows):
    return spark.createDataFrame(rows, THETA_DOCS_SCHEMA)


def test_theta_merged_equals_one_shot_and_replay_idempotent(spark, tmp_path):
    root = str(tmp_path / "th")
    theta_init(_tdocs(spark, _T_BASE), root)
    proc = make_theta_batch_processor(root)
    proc(_tdocs(spark, _T_B1), 0)
    every = _tdocs(spark, _T_BASE + _T_B1)
    assert _cells(theta_sample_merged(spark, root)) == _cells(
        theta_sample(every)
    )
    # union is idempotent: a crash-replay of the same batch is a no-op
    proc(_tdocs(spark, _T_B1), 0)
    assert _cells(theta_sample_merged(spark, root)) == _cells(
        theta_sample(every)
    )
    theta_compact(spark, root)
    assert _cells(theta_sample_merged(spark, root)) == _cells(
        theta_sample(every)
    )


def test_theta_overlap_read_tail_matches_batch(spark, tmp_path):
    root = str(tmp_path / "th2")
    theta_init(_tdocs(spark, _T_BASE), root)
    make_theta_batch_processor(root)(_tdocs(spark, _T_B1), 0)
    every = _tdocs(spark, _T_BASE + _T_B1)
    assert _cells(theta_overlap_merged(spark, root)) == _cells(
        theta_source_overlap(every)
    )
