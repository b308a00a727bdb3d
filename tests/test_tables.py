"""Table-catalog shim: partition clearing and conf hygiene of the
dynamic-overwrite path."""

from pyspark.sql import functions as F


def test_overwrite_partitions_leaves_session_conf_alone(spark, tmp_path_factory):
    """The dynamic mode must be a per-write option, not a session conf
    mutation that changes later writes' semantics."""
    from pdf_extraction_and_query_spark.sources import tables

    path = str(tmp_path_factory.mktemp("tbl") / "part")
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    )
    tables.overwrite_partitions(df, path, ["bucket"])
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before

    # idempotent: re-writing a subset replaces only that subset
    tables.overwrite_partitions(df.where("bucket = 1"), path, ["bucket"])
    assert spark.read.parquet(path).count() == 100


def test_clear_partitions_removes_stale_empty_buckets(spark, tmp_path_factory):
    """A partition absent from a dynamic-overwrite frame survives the write;
    clear_partitions is the explicit pre-delete that restores the
    'wave re-run replaces everything' invariant for empty buckets."""
    from pdf_extraction_and_query_spark.sources import tables

    path = str(tmp_path_factory.mktemp("tbl") / "wave")
    df = spark.range(40).select(F.col("id"), (F.col("id") % 4).alias("bucket"))
    tables.overwrite_partitions(df, path, ["bucket"])

    # simulate a re-run where bucket 2 now produces zero rows
    rerun = df.where("bucket != 2")
    tables.clear_partitions(spark, path, "bucket", [0, 1, 2, 3])
    tables.overwrite_partitions(rerun, path, ["bucket"])
    got = spark.read.parquet(path)
    assert got.where("bucket = 2").count() == 0
    assert got.count() == 30


def test_clear_partitions_escapes_string_values(spark, tmp_path_factory):
    """String partition values with reserved chars (space, slash, colon,
    '=') must resolve to the directory Spark actually wrote — unescaped
    f-string paths would silently delete nothing."""
    from pdf_extraction_and_query_spark.sources import tables

    path = str(tmp_path_factory.mktemp("tbl") / "esc")
    vals = ["plain", "a b", "x/y:z", "q=r", "pct%40"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, part string"
    )
    tables.overwrite_partitions(df, path, ["part"])
    assert spark.read.parquet(path).count() == len(vals)

    tables.clear_partitions(spark, path, "part", ["a b", "x/y:z", "q=r"])
    left = {r["part"] for r in spark.read.parquet(path).collect()}
    assert left == {"plain", "pct%40"}, left
