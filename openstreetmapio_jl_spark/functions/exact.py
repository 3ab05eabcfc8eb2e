"""The output-type rule: decimal-exact arithmetic inside, DOUBLE or BIGINT out.

A double sum depends on addition order, and a double near a ranking tie
depends on the last ulps of libm. So a metric that two engines (or two
partitionings) must agree on is rounded to ``scale`` decimals and cast to
``decimal(18, scale)`` before it is summed or ranked: decimal addition is
exact and order-independent, and equal decimals sort equal
(:func:`exact_decimal`).

No final column is DECIMAL. What an operator or a registry query emits is
that rounded decimal cast to DOUBLE (:func:`exact_double`), or an integer
cast to BIGINT. The DOUBLE cast adds no rounding of its own: it yields the
double nearest to the decimal, the same one in every IEEE engine.

Each Column helper has a SQL twin that emits the same expression as text for
the DuckDB oracle, so the Spark plan and the oracle cannot drift.
:func:`sql_exact_bigint` has no Column twin: DuckDB widens ``sum(BIGINT)`` to
HUGEINT, Spark keeps ``sum(bigint)`` a bigint.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_decimal(col: Column | str, scale: int) -> Column:
    """``round(col, scale)`` as ``decimal(18, scale)``: the internal form of
    a metric, for a sum term or a ranking key. Never a final column."""
    return F.round(col, scale).cast(f"decimal(18,{scale})")


def exact_double(col: Column | str, scale: int) -> Column:
    """The final form of a metric: :func:`exact_decimal` cast to DOUBLE."""
    return exact_decimal(col, scale).cast("double")


def sql_exact_decimal(expr: str, scale: int) -> str:
    """SQL twin of :func:`exact_decimal`."""
    return f"cast(round({expr}, {scale}) as decimal(18,{scale}))"


def sql_exact_double(expr: str, scale: int) -> str:
    """SQL twin of :func:`exact_double`."""
    return f"cast({sql_exact_decimal(expr, scale)} as double)"


def sql_exact_bigint(expr: str) -> str:
    """``cast(expr as bigint)``: an integer sum or count as BIGINT, not
    DuckDB's HUGEINT."""
    return f"cast({expr} as bigint)"
