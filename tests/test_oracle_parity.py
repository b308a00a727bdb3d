"""Mirror of the driver's correctness gate: run every SQL-checkable query
from the registry on Spark AND its DuckDB oracle twin over the same parquet
tables, and compare row count + schema (column names) + exact values.
The registry's driver-schema checks (scalar-only, unique column names;
tests/test_registry_contract.py) run here too, on the same built frame.

Column comparison mirrors the driver: columns sorted by name, rows sorted by
all columns, exact value equality (all ranking keys are integer fixed-point
by contract, so no tolerance is needed; float columns are rounded by the
queries themselves).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pdf_extraction_and_query_spark.plans.registry import ORACLE_SQL, QUERIES
from tests.test_registry_contract import assert_unique_columns, non_scalar_columns

import os
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("documents", "embeddings", "events")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or hasattr(v, "tolist")).any():
            df[c] = df[c].map(lambda v: tuple(v.tolist() if hasattr(v, "tolist") else v))
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(name, spark, duck):
    df = QUERIES[name](spark, SF_DIR)
    assert not non_scalar_columns(df.schema), (name, df.schema)
    assert_unique_columns(name, df.schema)
    spark_pdf = df.toPandas()
    duck_pdf = duck.sql(ORACLE_SQL[name]).fetchdf()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), name
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


def test_all_queries_have_entry_or_are_rows_only():
    missing = set(ORACLE_SQL) - set(QUERIES)
    assert not missing, f"oracle without query: {missing}"
