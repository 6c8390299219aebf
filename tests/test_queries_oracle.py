"""SQL conformance: every declared query vs the DuckDB oracle (SURVEY §5.2)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from model_presto_spark.io import TABLES, table_path
from model_presto_spark.plans.queries import QUERIES
from model_presto_spark.testing import compare_query, duckdb_con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, oracle, sf_dir, name):
    problems = compare_query(spark, oracle, QUERIES[name], sf_dir)
    assert not problems, f"{name}: {problems}"


@pytest.fixture(scope="module")
def empty_dir(sf_dir, tmp_path_factory):
    """Zero-row copies of every catalog table, same schemas."""
    out = str(tmp_path_factory.mktemp("empty_catalog"))
    for t in TABLES:
        if os.path.exists(table_path(sf_dir, t)):
            schema = pq.read_schema(table_path(sf_dir, t))
            pq.write_table(schema.empty_table(), table_path(out, t))
    return out


# queries whose driver-side steps once crashed on empty tables
@pytest.mark.parametrize(
    "name",
    [
        "q147_ks_test",  # int(None) on the sample totals
        "q187_psi_drift",  # iterated NULL reference quantiles
        "q242_markov_attribution",  # no START state
        "q315_bradley_terry",  # mean over zero event types
    ],
)
def test_query_on_empty_tables(spark, empty_dir, name):
    with duckdb_con(empty_dir) as con:
        problems = compare_query(spark, con, QUERIES[name], empty_dir)
    assert not problems, f"{name}: {problems}"
