"""Spatial statistics over tile aggregates: Getis-Ord Gi* hotspot scores.

The hotspot-detection pillar of the tiler stack: after pages are binned into
XYZ tiles (``pages_tile_counts``), "which tiles are statistically hot, not
just big?" is the Getis-Ord Gi* question (Getis & Ord 1992, the public
local-spatial-autocorrelation statistic): per tile, the 3×3-neighborhood sum
standardized against the global mean — a z-score that separates one loud
tile from a genuinely clustered hot region.

Scale shape: everything is tiles-sized, never points-sized. The neighbor
sum is the same bounded delta-explode equi-join the grid clusterer uses
(the XYZ key packs (z, x, y) as ``z·2^58 + x·2^29 + y``, so the 3×3
neighborhood is 9 constant key deltas — ≤9 edges per tile, no spatial
cross-join); global moments are ONE one-row aggregate broadcast back.

Cross-engine determinism (the registry/oracle framing): tile counts are
integers, so the global moments Σx and Σx² and every neighborhood sum are
EXACT BIGINT aggregates — order-independent. The only float math is a fixed
per-row expression tree over those exact integers (mean, variance, the Gi*
ratio), identical IEEE ops in identical order in both engines, rounded to
DECIMAL at the very end.

Statistical conventions, pinned: the universe is the OBSERVED tiles (empty
tiles are not zero-valued observations — web-page geotags are sparse on the
ocean, and a 2^2z dense universe would be its own scale bug); weights are
binary over the 3×3 neighborhood INCLUDING self (the * in Gi*); missing
neighbors simply don't contribute (w_i = observed neighborhood size);
variance is the population form (÷n); tiles where the denominator
degenerates (all tiles in one neighborhood, or zero variance) get NULL.
No antimeridian wrap: x=0 and x=2^z-1 are not neighbors (tile-space
convention, mirrored by the oracle).

The reference has no statistics surface; its closest analog is the manual
bbox "interesting region" constants in its examples — this ranks regions by
evidence instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions.cells import tile_key_offset

# the 3x3 neighborhood INCLUDING self, as XYZ-key deltas
GI_DELTAS = [tile_key_offset(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def gi_star(tile_counts: DataFrame, *, key_col: str = "tile", x_col: str = "n") -> DataFrame:
    """→ ``(tile, n, w, neigh_sum, gi_z)``: per observed tile, its count, the
    observed 3×3 neighborhood size ``w`` (incl. self), the exact neighborhood
    sum, and the Gi* z-score rounded to DECIMAL(18,6) (NULL where the
    statistic degenerates). Input: one row per observed tile."""
    t = tile_counts.select(
        F.col(key_col).cast("long").alias("tile"),
        F.col(x_col).cast("long").alias("n"),
    )
    totals = t.agg(
        F.count("*").alias("n_tiles"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    neigh = (
        t.select(
            F.col("tile").alias("center0"),
            F.explode(F.array([F.lit(d) for d in GI_DELTAS])).alias("d"),
        )
        .select((F.col("center0") - F.col("d")).alias("tile"), "center0")
        .join(t, "tile")
        .groupBy(F.col("center0").alias("tile"))
        .agg(F.count("*").alias("w"), F.sum("n").alias("neigh_sum"))
    )
    xbar = F.col("sx").cast("double") / F.col("n_tiles")
    s2 = F.col("sxx").cast("double") / F.col("n_tiles") - xbar * xbar
    w = F.col("w").cast("double")
    nt = F.col("n_tiles").cast("double")
    denom = F.sqrt(s2) * F.sqrt((nt * w - w * w) / (nt - 1.0))
    z = (F.col("neigh_sum").cast("double") - xbar * w) / denom
    return (
        t.join(neigh, "tile")
        .crossJoin(F.broadcast(totals))
        .select(
            "tile",
            "n",
            "w",
            "neigh_sum",
            # degeneracy guard on the PRE-sqrt quantities (s2 and the
            # neighborhood factor), never on the sqrt'd denominator: float
            # error can push s2 to -eps, sqrt(-eps) is NaN, and the engines
            # DISAGREE on NaN comparisons (DuckDB sorts NaN above all
            # values, Spark's NaN > 0 is false) — comparing before the sqrt
            # keeps both sides on ordinary ordered doubles
            F.when(
                (F.col("n_tiles") > 1)
                & (s2 > 0.0)
                & ((nt * w - w * w) > 0.0),
                F.round(z, 6),
            )
            .cast("decimal(18,6)")
            .alias("gi_z"),
        )
    )
