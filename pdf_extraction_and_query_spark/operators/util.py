"""Shared operator plumbing."""

from __future__ import annotations

from typing import Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import WindowSpec


def _parse_bytes(s: str | int) -> int:
    """Spark byte-size conf string ('32m', '128MB', '4194304b', plain int)
    -> bytes."""
    s = str(s).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgtp":
        mult = 1024 ** ("kmgtp".index(s[-1]) + 1)
        s = s[:-1]
    return int(float(s)) * mult


def _scan_cost_at_least(docs: DataFrame, files: list[str], target: int) -> bool:
    """True when the scan's file-planning cost guarantees >= ``target``
    input partitions. Mirrors FilePartition planning: each file costs
    (length + openCostInBytes) and a partition holds at most
    maxSplitBytes <= maxPartitionBytes of cost, so
    total_cost >= target * maxPartitionBytes  =>  partitions >= target.
    Driver-side metadata only (the same FileSystem listing the scan planner
    performs); EARLY-EXITS once the bound is met, so an at-scale table
    stats only the first ~target*maxPartitionBytes worth of files instead
    of converting the frame to an RDD (the previous implementation forced a
    plan->RDD conversion on every call — planning overhead on every
    token-family query)."""
    sess = docs.sparkSession
    maxp = _parse_bytes(sess.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _parse_bytes(sess.conf.get("spark.sql.files.openCostInBytes", "4m"))
    need = target * maxp
    jvm = sess._jvm
    hconf = sess._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    Path = jvm.org.apache.hadoop.fs.Path
    fs = None
    total = 0
    for f in files:
        p = Path(f)
        if fs is None:
            fs = p.getFileSystem(hconf)
        try:
            total += fs.getFileStatus(p).getLen() + open_cost
        except Exception:  # noqa: BLE001 — file listed but unreadable: skip
            continue
        if total >= need:
            return True
    return total >= need


def fan_out(docs: DataFrame, target: int | None = None) -> DataFrame:
    """Guarantee at least cluster-parallelism input partitions before a
    compute-amplifying narrow stage (n-gram/shingle/posting explodes
    multiply work ~5-10x over input BYTES).

    Spark sizes scan tasks by bytes (``maxPartitionBytes``), so a
    compressed documents table that is physically few files/row-groups
    runs the whole explode + map-side partial aggregation — the expensive
    part of every token-family operator — in that many tasks no matter how
    many cores exist.  Measured on this repo's gate corpus (a SINGLE
    0.6 MB parquet file): repetition_metrics scaled 1.1x from local[2] to
    local[8] before this guard and ~3x after; see PLANS.md #13.

    The repartition is CONDITIONAL: when the scan's planning cost already
    guarantees >= target partitions (any real at-scale table — checked
    from file metadata with an early exit, no RDD conversion), this is a
    no-op and costs nothing.  When it fires, the shuffle moves raw text
    once — cheaper per byte than letting the single task later shuffle the
    ~6x-amplified gram stream from one core.  The explicit partition count
    keeps AQE from coalescing it back down by size."""
    sc = docs.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    files = docs.inputFiles()
    if files and _scan_cost_at_least(docs, files, target):
        return docs
    # small scan, or an in-memory source with no file metadata: fan out
    return docs.repartition(target)


def _tuple_columns(schema: str | StructType) -> tuple[StructType, Callable]:
    """``schema`` (a DDL string or a StructType) as a StructType, and the
    function turning output tuples in its order into one Arrow array per
    field."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    types = [f.type for f in to_arrow_schema(st)]

    def arrays(tuples):
        cols = list(zip(*tuples)) or [()] * len(types)
        return [pa.array(c, t) for c, t in zip(cols, types)]

    return st, arrays


def arrow_rows(
    df: DataFrame,
    args: Sequence[str],
    schema: str | StructType,
    rows: Callable[..., Iterable[tuple]],
    carry: Sequence[str] = (),
) -> DataFrame:
    """One narrow ``mapInArrow`` pass that calls Python once per input row:
    ``rows(*values of args)`` yields output tuples in ``schema`` order (a
    DDL string or a StructType). Each ``carry`` column is copied to every
    tuple its row yields by an Arrow ``take`` on the input column, so its
    nulls and 64-bit values cross the Python boundary untouched (a nullable
    bigint through pandas becomes float64 and rounds above 2^53). Output
    columns: ``schema``'s, then ``carry``'s with their input types."""
    import pyarrow as pa

    st, arrays = _tuple_columns(schema)
    names = st.names + list(carry)

    def run(batches):
        for batch in batches:
            out, idx = [], []
            values = zip(*(batch.column(a).to_pylist() for a in args))
            for i, vals in enumerate(values):
                for t in rows(*vals):
                    out.append(t)
                    idx.append(i)
            take = pa.array(idx, pa.int32())
            yield pa.RecordBatch.from_arrays(
                arrays(out)
                + [batch.column(c).take(take) for c in carry],
                names=names,
            )

    out_schema = StructType(st.fields + [df.schema[c] for c in carry])
    return df.select(*dict.fromkeys([*args, *carry])).mapInArrow(run, out_schema)


def arrow_groups(
    df: DataFrame,
    keys: Sequence[str],
    args: Sequence[str],
    schema: str | StructType,
    rows: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """One ``groupBy(keys).applyInArrow`` pass that calls Python once per
    group: ``rows(key values, *columns of args)`` gets the group's key as a
    tuple and each ``args`` column as a list, and returns output tuples in
    ``schema`` order (a DDL string or a StructType).

    The groups are hash-repartitioned on ``keys`` first, into 4x the
    cluster's cores at most. AQE's byte-based coalescing is blind to
    per-group Python cost (on a small corpus it collapsed a grouped-map
    exchange to 1 partition: 33 s for work 32 cores do in ~1 s); the
    explicit count is AQE-immune and Catalyst elides the groupBy's own
    exchange. The cap: 200 near-empty tasks (the untuned shuffle default) on
    an 8-core session paid ~5x pure task-launch overhead."""
    import pyarrow as pa

    st, arrays = _tuple_columns(schema)
    spark = df.sparkSession
    parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        4 * spark.sparkContext.defaultParallelism,
    )

    def run(key, table):
        out = rows(
            tuple(k.as_py() for k in key), *(table.column(a).to_pylist() for a in args)
        )
        return pa.Table.from_arrays(arrays(out), names=st.names)

    return df.repartition(parts, *keys).groupBy(*keys).applyInArrow(run, st)


def _exclusive_sums(
    values: Iterable[Column | str], w: WindowSpec, names: Sequence[str]
) -> list[Column]:
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    return [F.coalesce(F.sum(v).over(w), F.lit(0)).alias(n) for v, n in zip(values, names)]


def prefix_sums(
    df: DataFrame,
    sums: Mapping[str, Column],
    order: Sequence[str | Column],
    keys: Sequence[str] = (),
    band: Column | None = None,
) -> DataFrame:
    """``df``'s columns plus one bigint column per ``name: value`` in
    ``sums``: the exclusive running sum of the (integral) ``value`` over
    the rows before this one within ``keys`` in ``order``, 0 on a group's
    first row. ``order`` must be a total order within ``keys``.

    Without ``band`` this is one window per ``keys`` group, which runs as
    one task per group. With ``band`` the scan is distributed, the
    two-level scan of Blelloch (1990): ``band`` must never decrease along
    ``order`` within ``keys``. Each row takes its local exclusive sum
    inside its ``(keys, band)`` window plus its band's offset. The offsets
    come from the raw values, summed per ``(keys, band)`` with map-side
    partial aggregation, cumulated over that one-row-per-band frame and
    broadcast-joined back, so the rows themselves are windowed once."""
    names, values = list(sums), list(sums.values())
    if band is None:
        w = Window.partitionBy(*keys).orderBy(*order)
        return df.select("*", *_exclusive_sums(values, w, names))
    tot = [f"_ps_total{i}" for i in range(len(names))]
    loc = [f"_ps_local{i}" for i in range(len(names))]
    t = df.withColumn("_band", band)
    w_bands = Window.partitionBy(*keys).orderBy("_band")
    offs = (
        t.groupBy(*keys, "_band")
        .agg(*[F.sum(v).alias(c) for v, c in zip(values, tot)])
        .select(*keys, "_band", *_exclusive_sums(tot, w_bands, tot))
    )
    w_local = Window.partitionBy(*keys, "_band").orderBy(*order)
    local = t.select("*", *_exclusive_sums(values, w_local, loc))
    return local.join(F.broadcast(offs), [*keys, "_band"]).select(
        *df.columns, *[(F.col(a) + F.col(b)).alias(n) for a, b, n in zip(tot, loc, names)]
    )


def iterate(
    state: DataFrame, step: Callable, rounds: int, signature: Column | None = None
) -> DataFrame:
    """Run ``state = step(state)`` for at most ``rounds`` rounds; the one
    place that truncates lineage, tests convergence and bounds rounds.
    Without ``signature``: exactly ``rounds`` rounds, each localCheckpointed
    but the last, which stays lazy (its one consumer materializes it).
    With ``signature``, an aggregate Column equal on two states exactly when
    they are equal, the initial state and each round are materialized by
    ``observe(signature).localCheckpoint()`` (convergence costs no extra
    job): returns the first round whose signature equals the previous one,
    raises RuntimeError after ``rounds`` rounds without one."""
    if signature is None:
        for r in range(rounds):
            state = step(state.localCheckpoint() if r else state)
        return state

    def materialize(df: DataFrame) -> tuple:
        obs = Observation()
        df = df.observe(obs, signature.alias("sig")).localCheckpoint()
        return df, obs.get["sig"]

    state, sig = materialize(state)
    for _ in range(rounds):
        prev = sig
        state, sig = materialize(step(state))
        if sig == prev:
            return state
    raise RuntimeError(f"iterate: no fixpoint within {rounds} rounds")
