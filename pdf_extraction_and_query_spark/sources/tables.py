"""Table catalog shim: Iceberg when a catalog is configured, parquet layout
otherwise.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar (verified: /opt/spark/jars has none, no network to fetch one), so the
default backend is parquet with an Iceberg-compatible layout (partition
columns, append/overwrite-by-partition semantics). Every call site goes
through this module, so pointing ``SPARK_GRAFT_CATALOG`` at a configured
Iceberg catalog (e.g. ``spark.sql.catalog.lake = org.apache.iceberg...``)
switches the storage layer without touching operator code.

API surface used by the engine:
  * ``exists(spark, ident)``              — does the table exist yet
  * ``read_table(spark, ident)``          — scan
  * ``append(df, ident)``                 — append rows
  * ``overwrite_partitions(df, ident, cols)`` — idempotent dynamic overwrite
  * ``clear_partitions(spark, ident, col, values)`` — drop partitions
  * ``read_versioned`` / ``replace_versioned`` / ``drop_versions``
                                          — atomically swapped versioned
                                            base (streaming/deltaindex)
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

CATALOG = os.environ.get("SPARK_GRAFT_CATALOG", "")  # "" -> parquet backend


def _is_iceberg() -> bool:
    return bool(CATALOG)


def read_table(spark: SparkSession, ident: str) -> DataFrame:
    if _is_iceberg():
        return spark.read.table(f"{CATALOG}.{ident}")
    return spark.read.parquet(ident)


def exists(spark: SparkSession, ident: str) -> bool:
    """Whether ``ident`` exists, asked without a failing read (once a
    session holds an ``Observation``, every failed query logs a listener
    error)."""
    if _is_iceberg():
        return spark.catalog.tableExists(f"{CATALOG}.{ident}")
    fs, Path = _fs(spark, ident)
    return bool(fs.exists(Path(ident)))


def read_optional(spark: SparkSession, ident: str) -> DataFrame | None:
    """:func:`read_table`, or ``None`` when the table does not exist yet
    (e.g. a streaming delta sidecar before the first micro-batch lands)."""
    from pyspark.sql.utils import AnalysisException

    try:
        return read_table(spark, ident)
    except AnalysisException:
        return None


def append(df: DataFrame, ident: str) -> None:
    if _is_iceberg():
        df.writeTo(f"{CATALOG}.{ident}").append()
    else:
        df.write.mode("append").parquet(ident)


def replace_table(df: DataFrame, ident: str) -> None:
    """Full-table replace for UNPARTITIONED artifacts (e.g. the PQ code
    table, whose ADC scan always reads every code — there is no pruning
    dimension to partition by)."""
    if _is_iceberg():
        df.writeTo(f"{CATALOG}.{ident}").createOrReplace()
    else:
        df.write.mode("overwrite").parquet(ident)


VERSION_PROPERTY = "folded_max"  # Iceberg table property holding the version
_VERSION_DIR = re.compile(r"v(-?\d+)")


def _fs(spark: SparkSession, ident: str):
    """(Hadoop FileSystem of ``ident``, the ``Path`` class)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(ident).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def read_versioned(spark: SparkSession, ident: str) -> tuple[DataFrame, int]:
    """The current version of a versioned table and its number.  Parquet:
    the highest ``<ident>/v<N>`` directory; a table with no ``v<N>`` child
    (a plain :func:`replace_table` or batch-builder layout) reads whole as
    version -1.  Iceberg: the table and its ``folded_max`` property."""
    if _is_iceberg():
        props = spark.sql(f"SHOW TBLPROPERTIES {CATALOG}.{ident}").collect()
        version = {r["key"]: r["value"] for r in props}.get(VERSION_PROPERTY, -1)
        return read_table(spark, ident), int(version)
    fs, Path = _fs(spark, ident)
    root = Path(ident)
    versions = [
        int(m.group(1))
        for st in (fs.listStatus(root) if fs.exists(root) else [])
        if st.isDirectory()
        and (m := _VERSION_DIR.fullmatch(st.getPath().getName()))
    ]
    if not versions:
        return read_table(spark, ident), -1
    n = max(versions)
    return spark.read.parquet(f"{ident}/v{n}"), n


def replace_versioned(
    df: DataFrame, ident: str, version: int, partition_cols=()
) -> None:
    """Publish ``df`` as version ``version`` of ``ident`` in one atomic
    step: a reader sees the previous version or this one, never a partial
    or empty table.  Parquet: a cluster-parallel write under a hidden temp
    name, then ONE directory rename to ``<ident>/v<version>`` (atomic on
    HDFS and local filesystems, not on object stores; older versions stay
    until :func:`drop_versions`).  Iceberg: ``createOrReplace`` carrying
    the version as a table property."""
    if _is_iceberg():
        writer = df.writeTo(f"{CATALOG}.{ident}").tableProperty(
            VERSION_PROPERTY, str(version)
        )
        if partition_cols:
            writer = writer.partitionedBy(*partition_cols)
        writer.createOrReplace()
        return
    import uuid

    tmp = f"{ident}/_v{version}.{uuid.uuid4().hex[:8]}"
    writer = df.write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp)
    fs, Path = _fs(df.sparkSession, ident)
    dst = Path(f"{ident}/v{version}")
    fs.delete(dst, True)  # only a re-init re-publishes an existing version
    if not fs.rename(Path(tmp), dst):
        raise IOError(f"versioned replace: rename {tmp} -> {dst} failed")


def drop_versions(spark: SparkSession, ident: str, keep: int) -> None:
    """Delete everything under ``ident`` but ``v<keep>``: older versions, a
    pre-versioning plain layout, temp directories of crashed writes.  A
    no-op until ``v<keep>`` exists, and on Iceberg (snapshot expiry is the
    catalog's maintenance)."""
    if _is_iceberg():
        return
    fs, Path = _fs(spark, ident)
    if not fs.exists(Path(f"{ident}/v{keep}")):
        return
    for st in fs.listStatus(Path(ident)):
        if st.getPath().getName() != f"v{keep}":
            fs.delete(st.getPath(), True)


def overwrite_partitions(df: DataFrame, ident: str, partition_cols: list[str]) -> None:
    """Replace exactly the partitions present in ``df`` (the idempotent
    checkpoint-wave write). The dynamic mode is a PER-WRITE option — never a
    session conf mutation, which would silently change the semantics of any
    later partitioned overwrite in the same session."""
    if _is_iceberg():
        df.writeTo(f"{CATALOG}.{ident}").overwritePartitions()
    else:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(ident)
        )


# chars Spark escapes in partition directory names
# (sql/catalyst ExternalCatalogUtils.charToEscape: ASCII control chars plus
# the Hive-reserved path set), encoded as %XX uppercase hex
_ESCAPE_CHARS = frozenset(
    {chr(c) for c in range(0x01, 0x20)} | set('"#%\'*/:=?\\{[]^') | {chr(0x7F)}
)
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_partition_value(v) -> str:
    """Partition value -> directory-name fragment, exactly as Spark writes
    it (ExternalCatalogUtils.getPartitionPathString): null/empty becomes the
    Hive default-partition name, reserved chars are %XX-escaped."""
    if v is None:
        return _HIVE_DEFAULT_PARTITION
    s = str(v)
    if s == "":
        return _HIVE_DEFAULT_PARTITION
    return "".join(f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in s)


def clear_partitions(spark: SparkSession, ident: str, col: str, values: list) -> None:
    """Drop the listed partitions outright. Needed before a dynamic
    partition-overwrite that may legitimately produce ZERO rows for some
    partitions — dynamic overwrite only replaces partitions present in the
    written frame, so a stale half-written partition from a crashed prior
    attempt would otherwise survive an empty re-run. Values are escaped the
    way Spark escapes partition directory names, so string values with
    spaces/slashes/etc. resolve to the directory Spark actually wrote
    (tests/test_tables.py proves the round-trip)."""
    if not values:
        return
    if _is_iceberg():
        def lit(v) -> str:
            if isinstance(v, str):
                return "'" + v.replace("'", "''") + "'"
            return str(v)

        in_list = ", ".join(lit(v) for v in values)
        spark.sql(f"DELETE FROM {CATALOG}.{ident} WHERE {col} IN ({in_list})")
        return
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for v in values:
        path = jvm.org.apache.hadoop.fs.Path(
            f"{ident}/{col}={_escape_partition_value(v)}"
        )
        fs = path.getFileSystem(hconf)
        fs.delete(path, True)  # no-op (returns False) if absent
