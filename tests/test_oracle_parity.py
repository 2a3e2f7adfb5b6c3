"""Every oracle-declared query must match the DuckDB oracle at the test
scale factor — the local twin of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from lakeflow import claims, registry
from tests.oracle_harness import compare, duck_connection

ORACLED = sorted(name for name, (_, sql) in registry.ALL_QUERIES.items() if sql)
ROWS_ONLY = sorted(name for name, (_, sql) in registry.ALL_QUERIES.items() if not sql)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, sf_dir, duck, name):
    fn, sql = registry.ALL_QUERIES[name]
    compare(fn(spark, sf_dir), duck, sql, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    fn, _ = registry.ALL_QUERIES[name]
    df = fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_claims_raw_matches_oracle(spark, sf_dir, duck):
    """Every column of the derived raw claims (the dirty input the
    silver transform cleans) against ORACLE_CTE's independent
    derivation — no registry query selects them all."""
    compare(
        claims.claims_raw(spark, sf_dir),
        duck,
        claims.oracle("SELECT * FROM claims_raw"),
        "claims_raw",
    )


def test_silver_schema_pinned(spark, sf_dir):
    """The silver tier's column order and Spark types, literally (the
    oracle comparison sorts columns and normalizes values)."""
    assert [(f.name, f.dataType) for f in claims.silver_claims(spark, sf_dir).schema] == [
        ("claim_id", T.StringType()),
        ("member_id", T.StringType()),
        ("provider_name", T.StringType()),
        ("claim_amount", T.DoubleType()),
        ("service_date", T.DateType()),
        ("service_year", T.IntegerType()),
        ("service_month", T.IntegerType()),
        ("service_day", T.IntegerType()),
        ("claim_amount_category", T.StringType()),
        ("processing_timestamp", T.TimestampNTZType()),
        ("data_quality_score", T.DoubleType()),
        ("ingestion_timestamp", T.TimestampNTZType()),
        ("source_file", T.StringType()),
        ("batch_id", T.StringType()),
    ]
