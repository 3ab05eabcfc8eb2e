"""Similarity search over embedding columns (ARRAY<FLOAT>).

- :func:`cosine_topk` — exact brute-force top-k via higher-order functions
  (``zip_with`` dot product in codegen). The correctness baseline; O(|Q|·|C|).
- :func:`lsh_cosine_topk` — random-hyperplane LSH bucketing as the scale path:
  sign-bit signatures from D deterministic hyperplanes (seeded NumPy, shipped as
  literal arrays — no Python at execution time), candidates = same-bucket pairs,
  exact re-rank inside buckets. Sub-linear candidate volume at 100 TB; recall
  traded via number of planes/tables.

Determinism: cosine rounded to 6 dp before ranking, ties by neighbor id — output
is stable across engines (DuckDB oracle) and parallelism levels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """→ (query_id, neighbor_id, cos, rank). Broadcast the query side; corpus
    streams through — one pass, no shuffle until the top-k window."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (shared by signature + tests)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


# The LSH shape of lsh_cosine_topk (table 0) and embedding_near_duplicates
# (all tables); the registry's DuckDB oracles build their buckets from the
# same arrays.
EMBED_DIM = 64  # width of the fixture embeddings
LSH_PLANES = 8  # sign bits per bucket: single-table recall ~(1-θ/π)^8
LSH_TABLES = 2  # independent tables whose candidates are unioned
LSH_SUB_PLANES = 4  # extra planes that sub-split an over-cap bucket
PLANE_TABLES = [hyperplanes(EMBED_DIM, LSH_PLANES, seed=42 + t) for t in range(LSH_TABLES)]
SUB_PLANE_TABLES = [
    hyperplanes(EMBED_DIM, LSH_SUB_PLANES, seed=4242 + t) for t in range(LSH_TABLES)
]
IVF_NPROBE = 2  # inverted lists probed per query


def lsh_signature_col(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: bit p set iff plane_p · vec > 0. Planes enter the plan
    as array literals — evaluated in codegen, no Python."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec, plane_col) > 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + bit
    return sig


def lsh_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket, exact
    cosine re-rank within. → (query_id, neighbor_id, cos, rank)."""
    planes = PLANE_TABLES[0]
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        lsh_signature_col(F.col("embedding"), planes).alias("bucket"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        lsh_signature_col(F.col("embedding"), planes).alias("bucket"),
    )
    pairs = q.join(c, "bucket", "inner").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def centroids(dim: int, n_lists: int) -> np.ndarray:
    """Deterministic coarse-quantizer centroids (seeded standard normal). A
    production build would k-means these on a sample; fixed seeded centroids
    keep the operator fully deterministic and oracle-checkable while exercising
    the identical plan shape (the join structure doesn't care how centroids
    were fit)."""
    rng = np.random.default_rng(7)
    return rng.standard_normal((n_lists, dim))


def _centroid_scores(vec: Column, cents: np.ndarray) -> list[Column]:
    # score_i = dot(v, c_i) / ||c_i||: the ||v|| factor is common to every i so
    # argmax/top-nprobe don't need it; centroid norms are plan-time literals
    out = []
    for c in cents:
        cc = F.array(*[F.lit(float(x)) for x in c])
        out.append(_dot(vec, cc) / F.lit(float(np.linalg.norm(c))))
    return out


def ivf_list_col(vec: Column, cents: np.ndarray) -> Column:
    """Inverted-list assignment: argmax-cosine centroid (ties → smallest id)."""
    scores = _centroid_scores(vec, cents)
    best = F.greatest(*scores)
    r = F.when(scores[0] == best, F.lit(0))
    for i in range(1, len(scores)):
        r = r.when(scores[i] == best, F.lit(i))
    return r.cast("int")


def ivf_probe_lists_col(vec: Column, cents: np.ndarray, nprobe: int) -> Column:
    """ARRAY<INT> of the ``nprobe`` nearest centroid ids (score desc, id asc)."""
    scores = _centroid_scores(vec, cents)
    arr = F.array(
        *[
            F.struct((-s).alias("ns"), F.lit(i).alias("i"))
            for i, s in enumerate(scores)
        ]
    )
    return F.slice(F.transform(F.array_sort(arr), lambda x: x["i"]), 1, nprobe)


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    *,
    n_lists: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF approximate top-k — the second scale path next to hyperplane LSH:
    corpus vectors land in ONE inverted list (their nearest centroid); each
    query probes its ``IVF_NPROBE`` nearest lists; exact cosine re-rank within
    the probed candidates. Candidate volume ≈ |C|·nprobe/n_lists per query (vs |C|
    brute force); the join is a plain equi-join on the list id, so AQE/skew
    machinery applies. A pair can meet at most once (corpus rows have one list,
    probe lists are distinct) — no dedup needed."""
    cents = centroids(dim, n_lists)
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        ivf_list_col(F.col("embedding"), cents).alias("list"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(ivf_probe_lists_col(F.col("embedding"), cents, IVF_NPROBE)).alias("list"),
    )
    pairs = q.join(c, "list", "inner").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    *,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, cos >= threshold) via multi-table LSH buckets
    + exact verify — the embedding analog of MinHash-LSH text dedup.

    ``LSH_TABLES`` independent hash tables (planes seeded ``42+t``) union their
    candidate pairs before the exact re-rank: single-table recall at 8 planes is
    ~(1-θ/π)^8 and misses moderate-similarity pairs; each extra table multiplies
    the miss probability. Candidate ids are deduped BEFORE vectors are re-attached
    so the (heavy) embedding arrays never ride the candidate shuffle twice.

    ``max_bucket_df`` bounds (t, bucket) group cardinality before the
    self-join — one degenerate bucket (zero/near-zero embeddings all hashing
    to the same sign pattern) otherwise goes O(n²) at corpus scale; salting
    can't reduce the pair count, only bounding the bucket can. Over-cap
    buckets SUB-SPLIT on ``LSH_SUB_PLANES`` EXTRA hyperplanes (seeded apart from
    the bucket planes, ``operators/dedup.py:_cap_bucket_df``): a retained
    hot-bucket pair must agree on LSH_PLANES + LSH_SUB_PLANES sign bits, so
    genuinely-parallel near-dup vectors stay co-located while a diverse hot
    bucket scatters; pieces still over cap (identical sign patterns the extra
    planes can't separate either) are dropped — the residual hard bound."""
    v = vectors.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    parts = []
    for t, (planes, sub_planes) in enumerate(zip(PLANE_TABLES, SUB_PLANE_TABLES)):
        parts.append(
            v.select(
                "id",
                F.lit(t).alias("t"),
                lsh_signature_col(F.col("v"), planes).alias("bucket"),
                lsh_signature_col(F.col("v"), sub_planes).alias("sub_bucket"),
            )
        )
    sig = parts[0]
    for p in parts[1:]:
        sig = sig.unionByName(p)
    from openstreetmapio_jl_spark.operators.dedup import _cap_bucket_df

    sig = _cap_bucket_df(sig, ["t", "bucket"], max_bucket_df, sub_col="sub_bucket")
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._piece") == F.col("b._piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
