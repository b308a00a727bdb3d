"""Registry-wide driver-contract guards.

1. Scalar-only outputs — the driver's canonicalizer sorts the raw result
   frame and dies on array/map cells (CLAUDE.md invariant #6; the round-1
   stub_embed/process_documents failure class). Guarding the SCHEMA catches
   a regression at test time instead of at the driver gate. The schema
   checks here cover the rows-only queries (no oracle twin);
   tests/test_oracle_parity.py checks every oracle-paired query on the
   frame it already builds, so each query plan is built once per suite.
2. Every oracle has a query (the inverse is fine: rows-only by design).
3. Oracle SQL parses and binds in DuckDB against empty same-schema views —
   catches dialect typos without paying a full data comparison.
"""

import duckdb
import pytest
from pyspark.sql import types as T

from pdf_extraction_and_query_spark.plans.registry import ORACLE_SQL, QUERIES

SF = "/root/testdata/sf0.001"
TABLES = ("documents", "embeddings", "events")


@pytest.fixture(scope="module")
def schemas(spark):
    return {
        name: QUERIES[name](spark, SF).schema
        for name in QUERIES
        if name not in ORACLE_SQL
    }


def non_scalar_columns(schema: T.StructType) -> list:
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def assert_unique_columns(name: str, schema: T.StructType) -> None:
    names = [f.name for f in schema.fields]
    assert len(names) == len(set(names)), (name, names)


def test_every_output_column_is_scalar(schemas):
    offenders = {
        name: non_scalar_columns(schema) for name, schema in schemas.items()
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, f"non-scalar driver outputs: {offenders}"


def test_no_duplicate_output_columns(schemas):
    for name, schema in schemas.items():
        assert_unique_columns(name, schema)


def test_oracles_parse_and_bind(spark):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet' WHERE false"
        )
    for name, sql in ORACLE_SQL.items():
        try:
            con.sql(sql).fetchdf()  # empty inputs: binder + executor smoke
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"oracle {name} failed on empty views: {exc}")
