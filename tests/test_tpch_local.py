"""TPC-H q2/q11/q20 over the locally generated partsupp fixture.

The driver testdata carries no partsupp, so these three queries live in
plans.tpch_extra.LOCAL_QUERIES (outside the driver registry) and verify
here + in the committed dev_diff evidence. The fixture regenerates
deterministically if absent (scripts/gen_scale_data.py)."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, ".localdata", "sf0.001ps")


@pytest.fixture(scope="module")
def fixture_dir():
    if not os.path.exists(os.path.join(FIXTURE, "partsupp.parquet")):
        sys.path.insert(0, os.path.join(REPO, "scripts"))
        from gen_scale_data import fixture_with_partsupp

        os.makedirs(FIXTURE, exist_ok=True)
        fixture_with_partsupp("/root/testdata/sf0.001", FIXTURE)
    return FIXTURE


def _local_names():
    from dwh_with_dask_spark.plans.tpch_extra import LOCAL_QUERIES

    return sorted(LOCAL_QUERIES)


@pytest.mark.parametrize("name", _local_names())
def test_local_tpch_matches_duckdb(spark, fixture_dir, name):
    from dwh_with_dask_spark.plans.tpch_extra import (
        LOCAL_ORACLES,
        LOCAL_QUERIES,
    )
    from tests.conftest import make_duck
    from tests.test_driver_contract import canon

    df = LOCAL_QUERIES[name](spark, fixture_dir)
    duck = make_duck(fixture_dir)
    want_rel = duck.sql(LOCAL_ORACLES[name])
    want_cols = [d[0] for d in want_rel.description]
    want = want_rel.fetchall()
    got = [tuple(r) for r in df.collect()]
    assert sorted(df.columns) == sorted(want_cols)
    assert canon(got, df.columns) == canon(want, want_cols)


def test_fixture_declared_schemas_match_footers(spark, fixture_dir):
    """The locally generated tables (DuckDB copies plus partsupp) carry
    exactly the catalog's declared schemas."""
    from dwh_with_dask_spark.catalog import OPTIONAL_TABLES, TABLES
    from tests.test_catalog import schema_drift

    assert schema_drift(spark, fixture_dir, TABLES + OPTIONAL_TABLES) == {}


def test_partsupp_has_four_distinct_suppliers_per_part(spark, fixture_dir):
    import duckdb

    con = duckdb.connect()
    bad = con.sql(
        f"""SELECT count(*) FROM (
              SELECT ps_partkey, count(DISTINCT ps_suppkey) c,
                     count(*) n
              FROM read_parquet('{fixture_dir}/partsupp.parquet')
              GROUP BY 1) WHERE c <> n OR c < 1"""
    ).fetchone()[0]
    assert bad == 0
