"""Output-type contract over every registry entry (``functions/exact.py``).

For each entry, no final column is DECIMAL in either engine, and the Arrow
type of every column is the same in Spark (``to_arrow_schema(df.schema)``)
and in DuckDB (the oracle's ``.arrow().schema``). Plan-only: the Spark side
reads the schema of the built plan and the DuckDB side binds the oracle
under ``LIMIT 0``; no result is computed (some entries still run their
plan-time jobs while the plan is built).
"""

from __future__ import annotations

import pytest

from openstreetmapio_jl_spark.plans import entry_queries as EQ
from tools.check_oracle import duck_views, type_faults

SF_DIR = "/root/testdata/sf0.001"
REGISTRY = EQ.registry()


@pytest.fixture(scope="module")
def con():
    # the OSM oracles read the generator's truth parquet at the oracle scale
    EQ.ensure_fixtures(f"/root/testdata/{EQ.ORACLE_SF_NAME}")
    return duck_views(SF_DIR)


@pytest.mark.parametrize("name", list(REGISTRY))
def test_final_columns_are_typed_alike_and_not_decimal(spark, con, name):
    fn, sql = REGISTRY[name]
    df = fn(spark, SF_DIR)
    rel = con.sql(sql)
    assert sorted(df.columns) == sorted(rel.columns)
    assert type_faults(df.schema, rel.limit(0).arrow().schema) == []
