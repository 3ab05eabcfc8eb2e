"""Driver-mimic: run every __spark_entry__ query against its DuckDB oracle.

Per entry it requires, in this order:
- the same column names (compared as sorted sets);
- the same Arrow type per column (Spark ``to_arrow_schema(df.schema)`` vs the
  DuckDB result's ``.arrow().schema``) and no DECIMAL final column: the output
  contract is DOUBLE/BIGINT out (``functions/exact.py``);
- the same row count;
- the same multiset of rows, each cell compared as its raw ``str()`` (no
  rounding), so a value that prints differently is a failure.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pyarrow as pa

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per driver table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def type_faults(spark_schema, duck_schema: pa.Schema) -> list[str]:
    """Columns whose Arrow type differs between the engines, or is DECIMAL.

    ``spark_schema`` is a Spark ``StructType``; ``duck_schema`` the Arrow schema
    of the DuckDB result. Columns present on one side only are left to the
    column-name check."""
    from pyspark.sql.pandas.types import to_arrow_schema

    s = {f.name: f.type for f in to_arrow_schema(spark_schema)}
    d = {f.name: f.type for f in duck_schema}
    out = []
    for name in sorted(s.keys() & d.keys()):
        if s[name] != d[name]:
            out.append(f"{name}: spark {s[name]} vs duckdb {d[name]}")
        elif pa.types.is_decimal(s[name]):
            out.append(f"{name}: decimal final column {s[name]}")
    return out


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # the package first: __spark_entry__ prepends a fixed checkout path, and
    # this tool must check the checkout it lives in
    from openstreetmapio_jl_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duck_views(sf_dir)
    qs = E.queries()
    oracles = E.oracle_sql()
    passed = failed = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            srows = df.collect()
            scols = df.columns
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {str(exc)[:200]}")
            failed += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only, n={len(srows)}")
            skipped += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            oschema = rel.limit(0).arrow().schema
            orows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {str(exc)[:200]}")
            failed += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            failed += 1
            continue
        faults = type_faults(df.schema, oschema)
        if faults:
            print(f"FAIL  {name}: types: {'; '.join(faults)}")
            failed += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(orows)}")
            failed += 1
            continue
        s = rowset(scols, [[r[c] for c in scols] for r in srows])
        o = rowset(ocols, orows)
        if s != o:
            ndiff = sum(1 for a, b in zip(s, o) if a != b)
            print(f"FAIL  {name}: values differ ({ndiff} of {len(s)} rows)")
            for a, b in zip(s, o):
                if a != b:
                    print(f"   spark: {a}\n   duck : {b}")
                    break
            failed += 1
            continue
        print(f"ok    {name}: {len(srows)} rows")
        passed += 1
    print(f"\n{passed} ok, {failed} fail, {skipped} weak")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
