"""Delta-index engine: the one storage discipline under every streaming
maintainer in this package.

An index is a versioned base plus one delta partition per micro-batch:

  <root>/index/v<N>               the base; N is the highest batch_id
                                  folded into it (the watermark), -1 at init
  <root>/delta/batch_id=B[/...]   micro-batch B's rows

(``root`` may instead be an explicit ``(base, delta)`` pair of table
idents, for a base that a batch builder writes: ``fts_build``,
``ivfpq_build``; a base with no ``v<N>`` child reads as version -1.)

* ``write_delta`` clears then overwrites its batch partition, so a crashed
  attempt's partial partition vanishes on replay.
* ``read_merged`` reads the current base and the deltas above its
  watermark — a literal ``batch_id > N`` filter, so folded partitions are
  pruned, never scanned — through the index's ``merge_fn``.  A batch
  replayed after a compact folded it lands at or below N and is ignored,
  which keeps even count-carrying indexes exactly-once.
* ``compact`` folds ONE eagerly pinned snapshot of the unfolded deltas
  into version ``max(snapshot batch ids)`` and publishes it with one
  directory rename (``tables.replace_versioned``), THEN clears exactly the
  snapshot's partitions (plus stale folded leftovers), THEN drops older
  versions.  A failure before the publish leaves the old version current
  and every delta in place; a failure after it leaves folded partitions
  that the new watermark hides until the next compact clears them.  A
  micro-batch landing mid-compact is above the new watermark (batch ids
  are monotone within a checkpoint lineage), so it is neither folded nor
  cleared.

Durability contract: ``root`` and the streaming checkpoint directory form
ONE durable unit — batch ids are only unique within a checkpoint lineage,
so after checkpoint loss rebuild the index.  One compactor per index at a
time.

A maintainer supplies its columns, its ``merge_fn`` (``None``: the
identity union, for row indexes; otherwise an associative aggregate
DataFrame → one row per key) and the ``partition_cols`` its base and
deltas are laid out by (``cent_id``, ``bucket``; deltas put ``batch_id``
first).  Everything here moves summary rows only — never the raw stream.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources import tables

MergeFn = Callable[[DataFrame], DataFrame]
Root = str | tuple[str, str]


def _paths(root: Root) -> tuple[str, str]:
    return root if isinstance(root, tuple) else (f"{root}/index", f"{root}/delta")


def _merge(df: DataFrame, merge_fn: MergeFn | None) -> DataFrame:
    return df if merge_fn is None else merge_fn(df)


def init_index(summary: DataFrame, root: Root, partition_cols=()) -> None:
    """Write the base from a one-shot summary as version -1 (nothing
    folded yet), replacing any earlier index at ``root``."""
    base, _ = _paths(root)
    tables.replace_versioned(summary, base, -1, partition_cols)
    tables.drop_versions(summary.sparkSession, base, -1)


def write_delta(
    summary: DataFrame, root: Root, batch_id: int, partition_cols=()
) -> None:
    """Land one micro-batch's rows as its ``batch_id`` delta partition."""
    _, delta = _paths(root)
    bid = int(batch_id)
    tables.clear_partitions(summary.sparkSession, delta, "batch_id", [bid])
    tables.overwrite_partitions(
        summary.withColumn("batch_id", F.lit(bid).cast("long")),
        delta,
        ["batch_id", *partition_cols],
    )


def read_merged(
    spark: SparkSession,
    root: Root,
    cols: Sequence[str],
    merge_fn: MergeFn | None = None,
    below: int | None = None,
) -> DataFrame:
    """Base ∪ unfolded deltas through ``merge_fn`` — row-identical to the
    one-shot summary over everything ingested (append-only contract).
    ``below`` keeps only deltas under that batch id (a batch processor
    reading the index as it stood before its own batch)."""
    base, delta = _paths(root)
    df, version = tables.read_versioned(spark, base)
    out = df.select(*cols)
    d = tables.read_optional(spark, delta)
    if d is not None:
        keep = F.col("batch_id") > version
        if below is not None:
            keep = keep & (F.col("batch_id") < below)
        out = out.unionByName(d.where(keep).select(*cols))
    return _merge(out, merge_fn)


def compact(
    spark: SparkSession,
    root: Root,
    cols: Sequence[str],
    merge_fn: MergeFn | None = None,
    partition_cols=(),
) -> None:
    """Fold the unfolded deltas into a new base version, then clear exactly
    the folded (and stale already-folded) partitions, then drop older
    versions — see the module docstring for the crash windows."""
    base, delta = _paths(root)
    d = tables.read_optional(spark, delta)
    if d is None:
        return
    df, version = tables.read_versioned(spark, base)
    snapshot = d.where(F.col("batch_id") > version).localCheckpoint(eager=True)
    fold = [int(r[0]) for r in snapshot.select("batch_id").distinct().collect()]
    stale = [
        int(r[0])
        for r in d.where(F.col("batch_id") <= version)
        .select("batch_id")
        .distinct()
        .collect()
    ]
    if fold:
        version = max(fold)
        merged = df.select(*cols).unionByName(snapshot.select(*cols))
        tables.replace_versioned(
            _merge(merged, merge_fn), base, version, partition_cols
        )
    tables.clear_partitions(spark, delta, "batch_id", fold + stale)
    tables.drop_versions(spark, base, version)
    for path in (base, delta):
        spark.catalog.refreshByPath(path)


def start_maintenance(
    spark: SparkSession,
    schema: str,
    input_dir: str,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Watch ``input_dir`` for new parquet files of ``schema`` and feed each
    micro-batch to ``process_batch`` (a maintainer's ``make_*_batch_
    processor``); run the maintainer's compactor on a maintenance
    cadence."""
    writer = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
