"""SQL conformance: every declared query vs the DuckDB oracle (SURVEY §5.2)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from model_presto_spark.io import TABLES, table_path
from model_presto_spark.plans.queries import QUERIES
from model_presto_spark.testing import compare_query, duckdb_con, write_wide_catalog


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


@pytest.fixture(scope="module")
def wide_dir(spark, sf_dir, tmp_path_factory):
    """Every catalog table as 2 x defaultParallelism part files."""
    out = str(tmp_path_factory.mktemp("wide_catalog"))
    write_wide_catalog(sf_dir, out, 2 * spark.sparkContext.defaultParallelism)
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


def test_q94_ab_test_on_empty_tables(spark, empty_dir):
    """A recorded divergence: with no events the oracle returns one row
    of zero counts and NULL statistics, while ab_test refuses an input
    without its two groups, with a message that says so."""
    with pytest.raises(ValueError, match="needs exactly 2 groups"):
        QUERIES["q94_ab_test"].fn(spark, empty_dir)


# headline queries with a spread() call that keeps its input on the
# wide copy (tools/spread_traffic.py --wide): the scan's own
# partitioning, not a round-robin exchange, feeds the operator there
@pytest.mark.parametrize(
    "name",
    [
        "q23_knn",
        "q32_minhash_lsh",
        "q33_simhash",
        "q34_ngram_jaccard",
        "q35_cosine_topk",
        "q36_lang_id",
        "q37_quality",
        "q40_ann_lsh",
        "q45_knn_classify",
        "q46_mask_budget",
        "q54_embedding_dups",
        "q60_contamination",
        "q61_repetition",
    ],
)
def test_query_on_wide_catalog(spark, wide_dir, name):
    with duckdb_con(wide_dir) as con:
        problems = compare_query(spark, con, QUERIES[name], wide_dir)
    assert not problems, f"{name}: {problems}"
