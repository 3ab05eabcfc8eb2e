"""Cell-ring expanding k-nearest-neighbor join.

The reference's only proximity operator is the server-side Overpass
``around:radius`` query (``/root/reference/src/load_overpass.jl:55-60``); this
operator implements proximity natively, generalized to kNN.

Algorithm (driver-coordinated rounds, all data work distributed):

1. corpus points are keyed by XYZ tile at ``zoom``;
2. round r: each unresolved query explodes its (2r+1)×(2r+1) tile neighborhood →
   hash equi-join with the corpus on ``tile`` → haversine distance →
   ``row_number() over (partition by query order by dist, id)`` top-k;
3. a query RESOLVES when it has ≥k candidates AND its k-th distance is ≤ the
   guaranteed-covered radius of the searched neighborhood (no unseen point can be
   closer); unresolved queries continue with doubled r.

Determinism: ties broken by (dist, id) — required for identical output at
different parallelism levels (BASELINE.md measurement protocol).

Scale: each round is one shuffle join keyed by tile; candidate volume is bounded
by neighborhood size × tile density; hot tiles can be pre-salted by the caller.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import geo
from openstreetmapio_jl_spark.functions.cells import tile_keys_col, xyz_cols, xyz_tile_key_col
from openstreetmapio_jl_spark.functions.exact import exact_double

EQUATOR_M = 40_075_016.686


def _neighbor_tiles(lat_col, lon_col, z: int, r: int):
    """ARRAY<BIGINT> tile keys of the (2r+1)^2 neighborhood (x wraps around the
    antimeridian via pmod; y clamps at the poles)."""
    n = 1 << z
    x, y = xyz_cols(lat_col, lon_col, z)
    xs = F.transform(F.sequence(x - r, x + r), lambda xx: F.pmod(xx, F.lit(n)))
    ys = F.sequence(F.greatest(y - r, F.lit(0)), F.least(y + r, F.lit(n - 1)))
    return tile_keys_col(xs, ys, z)


def _safe_radius_m(lat_col, z: int, r: int):
    """Distance guaranteed covered by the ring-r neighborhood: any point outside
    is at least r tile-extents away. Tile ground width at latitude φ is
    EQUATOR·cos(φ)/2^z; rows are taller than wide off the equator, so width is the
    conservative bound."""
    tile_w = F.lit(EQUATOR_M) * F.cos(F.radians(lat_col)) / F.lit(float(1 << z))
    return F.lit(float(r)) * tile_w


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    *,
    zoom: int = 12,
    max_rounds: int = 5,
    handles: list | None = None,
) -> DataFrame:
    """→ (query columns…, neighbor_id, dist_m, rank) with rank ∈ [1, k].

    Queries that exhaust ``max_rounds`` return their best-effort top-k (flagged
    via ``resolved = false``).

    Storage discipline: each round's survivor set persists and STAYS persisted
    until the returned DataFrame has been consumed — pass ``handles`` (a list)
    to receive every persisted handle and ``unpersist()`` them afterwards.
    Mid-run unpersisting of superseded rounds was measured and rejected: the
    final output's plan reads every round's cached survivors, and Spark's
    CacheManager reacts to ``unpersist()`` of an ancestor by re-caching (i.e.
    CLEARING) every dependent cached plan (``recacheByPlan``), which re-executed
    the full accumulated lineage — 4-7× slower end-to-end at sf0.1. The pinned
    footprint is benign anyway: survivor sets shrink geometrically (each round
    removes the resolved queries), so total cached bytes stay ≤ corpus +
    2×|queries| REGARDLESS of round count — flat in bytes, O(rounds) only in
    handle count, and ``max_rounds`` is small by construction (the ring radius
    doubles per round)."""
    q_lat, q_lon = F.col("q.lat"), F.col("q.lon")
    c = corpus.select(
        F.col("id").alias("neighbor_id"),
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
    ).withColumn("tile", xyz_tile_key_col(F.col("c_lat"), F.col("c_lon"), zoom))
    c = c.persist()
    if handles is not None:
        handles.append(c)

    remaining = queries.persist()  # round 0 + final union re-read it
    if handles is not None:
        handles.append(remaining)
    resolved_parts: list[DataFrame] = []
    r = 1
    for _round in range(max_rounds):
        cand = (
            remaining.alias("q")
            .withColumn("tile", F.explode(_neighbor_tiles(q_lat, q_lon, zoom, r)))
            .join(c, "tile", "inner")
            .withColumn("dist_m", geo.haversine_m_col(q_lat, q_lon, F.col("c_lat"), F.col("c_lon")))
        )
        w = Window.partitionBy("q.query_id").orderBy("dist_m", "neighbor_id")
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn(
                "n_found",
                F.count("*").over(Window.partitionBy("q.query_id")),
            )
            .withColumn(
                "kth_dist",
                F.max("dist_m").over(Window.partitionBy("q.query_id")),
            )
            .withColumn(
                "resolved",
                (F.col("n_found") >= k)
                & (F.col("kth_dist") <= _safe_radius_m(q_lat, zoom, r)),
            )
        )
        done = topk.filter(F.col("resolved")).drop(
            "tile", "c_lat", "c_lon", "n_found", "kth_dist"
        )
        resolved_parts.append(done)
        done_ids = topk.filter(F.col("resolved")).select("q.query_id").distinct()
        # persist each round's survivor set: the isEmpty() action below (and every
        # later round, and the final union) would otherwise re-execute the whole
        # accumulated join lineage — including the caller's upstream plan (e.g. a
        # PBF decode) — once per round. Kept persisted until the caller is done
        # (see docstring: mid-run unpersist triggers recacheByPlan re-execution).
        remaining = remaining.join(done_ids, "query_id", "left_anti").persist()
        if handles is not None:
            handles.append(remaining)
        if remaining.isEmpty():
            remaining = None
            break
        r *= 2
    if remaining is not None:
        # exact brute-force fallback for stragglers (sparse regions): broadcast the
        # (small) remaining query set against the full corpus — guaranteed exact k
        cand = (
            F.broadcast(remaining).alias("q")
            .crossJoin(c.drop("tile"))
            .withColumn(
                "dist_m",
                geo.haversine_m_col(q_lat, q_lon, F.col("c_lat"), F.col("c_lon")),
            )
        )
        w = Window.partitionBy("q.query_id").orderBy("dist_m", "neighbor_id")
        resolved_parts.append(
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("resolved", F.lit(True))
            .drop("c_lat", "c_lon")
        )
    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out


IDW_W_SCALE = 1e12  # weight scaling before the per-term DECIMAL rounding
IDW_DP = 6  # decimals of each weight term and of the estimate
IDW_K = 3  # neighbors per estimate


def idw_interpolate(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    value_col: str,
    power: int = 2,
    eps_m: float = 1.0,
    max_rounds: int = 5,
    handles: list | None = None,
) -> DataFrame:
    """Inverse-distance-weighted interpolation (Shepard's method, public
    textbook form) of ``corpus.value_col`` at each query point:
    ``est = Σ v_j·w_j / Σ w_j`` over the k nearest neighbors, with
    ``w = S/(d+eps)^power`` — the spatial-interpolation operator composed
    from the cell-ring expanding :func:`knn_join` (candidate generation is
    the certified kNN path; this adds only the weighted aggregate).

    Determinism across engines and partitionings, the registry bar:

    - the haversine distance is QUANTIZED to whole meters first
      (``round(dist_m)→BIGINT``): raw libm-built doubles may differ between
      engines in the last ulps, and a weight computed from them would wobble
      in its low decimals; integer meters are exact on both sides, so every
      arithmetic step after the quantization is IEEE ops on equal inputs —
      bit-equal weights (meter resolution is far inside the operator's
      accuracy envelope; geodesic distances are themselves only ~0.5%
      spherical-model-true);
    - ``power`` must be a small positive INTEGER — the weight denominator is
      built by repeated IEEE multiplication, never libm ``pow`` (whose
      rounding may differ between engines);
    - each term ``v·w`` and each weight is rounded → DECIMAL BEFORE the sum
      (decimal addition is exact and order-independent — the BM25 summation
      discipline); weights are pre-scaled by ``S = 1e12`` so meter-scale
      distances keep ≥6 significant digits through the rounding;
    - the final estimate is ONE double division + round of identical
      decimal sums.

    ``eps_m`` guards the zero-distance singularity (a query sitting exactly
    on a corpus point): with the default 1 m, a coincident neighbor gets
    weight S/1 and dominates smoothly instead of dividing by zero.

    Returns ``(query_id, n_neighbors, est)``; queries with no neighbor in
    range produce no row (nothing to interpolate from)."""
    if not (isinstance(power, int) and 1 <= power <= 4):
        raise ValueError(f"power must be an integer in [1, 4], got {power}")
    if eps_m <= 0:
        raise ValueError(f"eps_m must be > 0, got {eps_m}")
    nn = knn_join(queries, corpus, IDW_K, max_rounds=max_rounds, handles=handles)
    vals = corpus.select(
        F.col("id").alias("neighbor_id"),
        F.col(value_col).cast("double").alias("_v"),
    )
    d = F.round(F.col("dist_m"), 0).cast("long").cast("double") + F.lit(
        float(eps_m)
    )
    denom = d
    for _ in range(power - 1):
        denom = denom * d
    w = F.lit(IDW_W_SCALE) / denom
    # 38-digit sum terms: an S-scaled weight at 6 dp can exceed 18 digits
    dec = f"decimal(38,{IDW_DP})"
    joined = nn.join(vals, "neighbor_id").select(
        "query_id",
        F.round(w, IDW_DP).cast(dec).alias("_w"),
        F.round(w * F.col("_v"), IDW_DP).cast(dec).alias("_wv"),
    )
    est = F.sum("_wv").cast("double") / F.sum("_w").cast("double")
    return joined.groupBy("query_id").agg(
        F.count("*").cast("int").alias("n_neighbors"),
        exact_double(est, IDW_DP).alias("est"),
    )
