"""Source guards for operators/dedup.py (no Spark session needed)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import openstreetmapio_jl_spark
from openstreetmapio_jl_spark.operators import dedup
from openstreetmapio_jl_spark.plans import entry_queries as EQ


def test_minhash_shape_has_one_home():
    """The MinHash-LSH shape lives only in dedup's SHINGLE_N / NUM_HASHES /
    BAND_SIZE constants: no function of the package or the jobs takes it as a
    parameter, and both DuckDB twins emit SHINGLE_N-wide shingles, exactly
    NUM_HASHES minhash columns and N_BANDS bands of BAND_SIZE minhashes
    (sub-split signatures: twice that)."""
    pkg = Path(openstreetmapio_jl_spark.__file__).parent
    shape = {"shingle_n", "num_hashes", "band_size"}
    offenders = []
    for path in sorted([*pkg.rglob("*.py"), *(pkg.parent / "jobs").glob("*.py")]):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = {x.arg for x in [*a.posonlyargs, *a.args, *a.kwonlyargs]}
                offenders += [
                    f"{path.relative_to(pkg.parent)}:{node.lineno}: {n}"
                    for n in sorted(names & shape)
                ]
    assert not offenders, "MinHash shape parameters:\n" + "\n".join(offenders)

    for name, sql, sig_widths in (
        ("_sql_minhash_lsh", EQ._sql_minhash_lsh(), {"band_sig": dedup.BAND_SIZE}),
        (
            "_sql_membership_ctes",
            EQ._sql_membership_ctes(),
            {"band_sig": dedup.BAND_SIZE, "sub_sig": 2 * dedup.BAND_SIZE},
        ),
    ):
        widths = re.findall(r", i, (\d+)\)", sql)
        assert widths and set(map(int, widths)) == {dedup.SHINGLE_N}, name
        mh = re.findall(r"\bas mh(\d+)\b", sql)
        assert sorted(map(int, mh)) == list(range(dedup.NUM_HASHES)), name
        bands = re.findall(r"band_idx := (\d+)", sql)
        assert sorted(map(int, bands)) == list(range(dedup.N_BANDS)), name
        for field, width in sig_widths.items():
            sigs = re.findall(rf"{field} := md5\(([^)]*)\)", sql)
            assert len(sigs) == dedup.N_BANDS, (name, field)
            assert {s.count("::varchar") for s in sigs} == {width}, (name, field)
