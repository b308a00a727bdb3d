"""Iceberg-branch routing of the table-catalog shim. No Iceberg runtime jar
exists in this sandbox, so these tests pin the CONTRACT of the catalog
branch — which Spark API each shim call routes to, and the exact SQL it
issues — against mocks. Pointing SPARK_GRAFT_CATALOG at a real configured
catalog exercises the same code paths."""

from unittest import mock

import pytest

from pdf_extraction_and_query_spark.sources import tables


@pytest.fixture(autouse=True)
def fake_catalog(monkeypatch):
    monkeypatch.setattr(tables, "CATALOG", "lake")


def test_read_table_routes_to_catalog():
    spark = mock.MagicMock()
    tables.read_table(spark, "db.docs")
    spark.read.table.assert_called_once_with("lake.db.docs")


def test_append_routes_to_writeTo_append():
    df = mock.MagicMock()
    tables.append(df, "db.docs")
    df.writeTo.assert_called_once_with("lake.db.docs")
    df.writeTo.return_value.append.assert_called_once_with()


def test_overwrite_partitions_routes_to_overwritePartitions():
    df = mock.MagicMock()
    tables.overwrite_partitions(df, "db.docs", ["bucket"])
    df.writeTo.assert_called_once_with("lake.db.docs")
    df.writeTo.return_value.overwritePartitions.assert_called_once_with()
    # and never touches the parquet writer or session conf
    df.write.mode.assert_not_called()
    df.sparkSession.conf.set.assert_not_called()


def test_clear_partitions_issues_partition_delete():
    spark = mock.MagicMock()
    tables.clear_partitions(spark, "db.docs", "bucket", [3, 7])
    spark.sql.assert_called_once_with(
        "DELETE FROM lake.db.docs WHERE bucket IN (3, 7)"
    )


def test_replace_versioned_carries_version_as_table_property():
    df = mock.MagicMock()
    tables.replace_versioned(df, "db.idx", 7, ["bucket"])
    df.writeTo.assert_called_once_with("lake.db.idx")
    prop = df.writeTo.return_value.tableProperty
    prop.assert_called_once_with("folded_max", "7")
    prop.return_value.partitionedBy.assert_called_once_with("bucket")
    replace = prop.return_value.partitionedBy.return_value.createOrReplace
    replace.assert_called_once_with()
    df.write.parquet.assert_not_called()


def test_read_versioned_reads_version_property():
    spark = mock.MagicMock()
    spark.sql.return_value.collect.return_value = [
        {"key": "format-version", "value": "2"},
        {"key": "folded_max", "value": "7"},
    ]
    df, version = tables.read_versioned(spark, "db.idx")
    spark.sql.assert_called_once_with("SHOW TBLPROPERTIES lake.db.idx")
    assert version == 7 and df is spark.read.table.return_value


def test_exists_asks_the_catalog():
    spark = mock.MagicMock()
    spark.catalog.tableExists.return_value = False
    assert tables.exists(spark, "db.ledger") is False
    spark.catalog.tableExists.assert_called_once_with("lake.db.ledger")
    spark.read.table.assert_not_called()
