"""Deterministic stratified corpus rebalancing (CCNet/RedPajama-style).

Training corpora rarely arrive at the language/source mix the model should
see; the standard fix is downsample-only rebalancing toward a target
distribution. Given per-stratum target fractions ``t_s`` and observed counts
``n_s``, the largest total M reachable WITHOUT upsampling is
``M = min_s(n_s / t_s)`` (the binding stratum is kept almost whole), and
each stratum keeps ``k_s = floor(t_s · M)`` documents.

WHICH documents survive is deterministic, not random: rows rank by
``md5(key)`` inside their stratum and the first ``k_s`` win — re-running on
the same corpus (or on any engine) selects the identical document set, so
the sample is reproducible, diffable, and oracle-checkable. md5 of a unique
key has no ties; the key itself is the formal tiebreak.

Scale shape: one map-side-combined count per stratum (tiny), the plan
frame broadcast back, and ONE per-stratum ranking window — the sort is
partition-local (each stratum sorts independently after the hash exchange;
no global sort). The rank filter compares against the broadcast per-stratum
``n_keep`` COLUMN, so Spark's WindowGroupLimit pushdown (literal limits
only) does not apply — the per-stratum sort is the honest cost, and it is
the same cost any top-k-per-group carries. Strata are languages/sources:
tens to thousands of groups — the natural partitioning at 100 TB. Float
math is one division + min + one multiply + floor on identical doubles —
engine-portable.

Strata present in the corpus but absent from ``targets`` are dropped
(target share zero). Strata named in ``targets`` but absent from the corpus
make the target unreachable — that is an error, not a silent skew.

The reference has no sampling surface; closest analog is its callback
early-exit filtering (take-first-N semantics in
``/root/reference/src/load_pbf.jl`` callbacks), which is scan-order
dependent — this is the order-independent form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _targets_df(docs: DataFrame, targets: dict) -> DataFrame:
    if not targets:
        raise ValueError("targets must be non-empty")
    tot = sum(targets.values())
    if not 0.999 <= tot <= 1.001:
        raise ValueError(f"target fractions must sum to 1, got {tot}")
    if any(t <= 0 for t in targets.values()):
        raise ValueError("every target fraction must be > 0")
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        "lang string, target double",
    )


def rebalance_plan(docs: DataFrame, targets: dict) -> DataFrame:
    """→ ``(lang, n_in, target, n_keep)``: the downsample-only plan per
    ``lang`` stratum.
    Raises if a targeted stratum has no rows (the target mix is then
    unreachable)."""
    tdf = _targets_df(docs, targets)
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_in"))
    joined = tdf.join(counts, "lang", "left")
    missing = [
        r["lang"] for r in joined.filter(F.col("n_in").isNull()).collect()
    ]
    if missing:
        raise ValueError(
            f"targeted strata absent from the corpus: {sorted(missing)}"
        )
    m = joined.agg(
        F.min(F.col("n_in").cast("double") / F.col("target")).alias("m")
    )
    return (
        joined.crossJoin(F.broadcast(m))
        .select(
            "lang",
            "n_in",
            "target",
            F.floor(F.col("target") * F.col("m")).cast("long").alias("n_keep"),
        )
    )


def rebalance(
    docs: DataFrame,
    targets: dict,
    *,
    key_col: str = "doc_id",
) -> DataFrame:
    """→ the surviving rows (original columns): per stratum, the ``n_keep``
    documents with the smallest ``md5(key)`` — a deterministic,
    engine-independent selection. Rows whose stratum is not targeted drop."""
    plan = rebalance_plan(docs, targets).select("lang", "n_keep")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        docs.join(F.broadcast(plan), "lang")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("n_keep"))
        .drop("_rk", "n_keep")
    )
