"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``openstreetmapio_jl_spark.plans.entry_queries`` — the query
registry pairing every implemented operator (SURVEY.md §2) with its DuckDB oracle
SQL. The driver runs ``entry`` as a smoke check and each ``queries()[name]`` vs
``oracle_sql()[name]`` at sf=0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openstreetmapio_jl_spark.plans import entry_queries as EQ


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PBF decode → polygon assembly → page geocode → cell-keyed PIP
    join → hits per polygon, on sf0.001."""
    return EQ.q_pip_hits_per_polygon(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in EQ.registry().items()}


def oracle_sql() -> dict[str, str]:
    # materialize the oracle-scale fixtures up-front (pure python, idempotent) so
    # the SQL's read_parquet() targets exist regardless of evaluation order
    EQ.ensure_fixtures(f"/root/testdata/{EQ.ORACLE_SF_NAME}")
    return {
        name: sql for name, (_fn, sql) in EQ.registry().items() if sql is not None
    }
