"""Deterministic cardinality sketches: HyperLogLog as Catalyst column math.

COUNT(DISTINCT x) at 100 TB is a full-cardinality shuffle — every distinct
value crosses the wire once. The sketch shape is a map-side-combined MAX per
(group, register-bucket): at most ``m`` (here 512) rows per group ever move,
regardless of cardinality, and registers MERGE by max — sketches built per
partition / per day / per table union for free and re-estimate without
touching the raw data (``hll_merge`` + exact-equality test). This is the
mergeable-aggregate architecture of Flajolet–Fusy–Gandouet–Meunier 2007
(the public HyperLogLog paper), with two portability choices so an
independent engine (the DuckDB oracle) reproduces estimates BIT-IDENTICALLY:

- the hash is the first 15 hex chars of md5 (a 60-bit positive integer —
  engine-portable, unlike ``xxhash64``/``hash()``); bucket = top ``p`` bits,
  rho = leading-zero rank of the remaining ``60-p`` bits computed by
  bit-smear + ``bit_count`` (pure integer ops — no float ``log2`` whose
  libm rounding could disagree between engines);
- the harmonic denominator Σ 2^(-reg) is summed SCALED BY 2^(61-p) as exact
  BIGINT arithmetic (each term 2^k is double-exact, the sum is
  order-independent integer addition), so the only cross-engine float ops
  are one literal-parsed constant, one IEEE division, and the final
  round() — all deterministic. (A raw double Σ 2^(-reg) would depend on
  addition order across 512 registers.)

Spark's own ``approx_count_distinct`` is HLL++ with an engine-private hash —
fine in production, impossible to oracle-check. This one is both.

The reference repo has no sketch surface; its closest analog is the exact
tag-count dictionaries its callbacks accumulate (``src/load_pbf.jl``) —
this is the bounded-memory form of the same question.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions.exact import exact_double

HLL_P_DEFAULT = 9  # 512 registers → relative standard error ≈ 1.04/√512 ≈ 4.6%
HLL_EST_DP = 2  # decimals of the emitted estimate (the oracle rounds the same)


def _alpha_m2_scaled(p: int) -> float:
    """alpha_m · m² · 2^(61-p) — the whole numerator as ONE Python double,
    inlined as a literal in both engines so no cross-engine constant
    arithmetic happens."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * (2.0 ** (61 - p))


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    *,
    p: int = HLL_P_DEFAULT,
) -> DataFrame:
    """→ ``(*group_cols, bucket, reg)``: the sketch itself — per group, the
    max leading-zero rank seen in each of the 2^p register buckets. The agg
    is a map-side-combined MAX: the shuffle moves ≤ 2^p rows per group.
    NULL values are skipped (COUNT DISTINCT semantics)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    nbits = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    d = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, h.alias("h")
    )
    d = d.select(
        *group_cols,
        F.shiftright("h", nbits).alias("bucket"),
        (F.col("h") - F.shiftleft(F.shiftright("h", nbits), nbits)).alias("w"),
    )
    # leading-zero rank without float log2: smear all bits below the MSB
    # (the RUNNING value, so the 6 shifts cover all 51 positions), then
    # popcount. w == 0 → rho = nbits+1 (all-zero suffix).
    smear = F.col("w")
    for k in (1, 2, 4, 8, 16, 32):
        smear = smear.bitwiseOR(F.shiftright(smear, k))
    rho = F.lit(nbits + 1) - F.bit_count(smear)
    return (
        d.select(*group_cols, "bucket", rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Union two register tables (same p!) into one sketch: per-bucket MAX.
    sketch(A) ⊕ sketch(B) == sketch(A ∪ B) EXACTLY — registers are
    deterministic functions of the value set, so this is equality, not
    approximation (test-pinned)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("reg").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: tuple[str, ...] = (),
    *,
    p: int = HLL_P_DEFAULT,
) -> DataFrame:
    """→ ``(*group_cols, est_distinct)``: the HLL estimate with the standard
    small-range linear-counting correction (E ≤ 2.5m with empty registers →
    m·ln(m/V)), a double rounded to ``HLL_EST_DP`` decimals. All
    register-sum arithmetic is exact BIGINT; see module docstring for why
    the result is bit-identical cross-engine."""
    m = 1 << p
    scale = 61 - p  # max rho = (60-p)+1 → max exponent scale-0 ≤ 2^(61-p)
    per_term = F.pow(F.lit(2.0), F.lit(scale) - F.col("reg")).cast("long")
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("nonempty"),
        F.sum(per_term).alias("sum_scaled"),
    )
    # empty registers contribute 2^scale each (2^-0, scaled); V of them
    v = F.lit(m) - F.col("nonempty")
    denom = F.col("sum_scaled") + v * F.lit(1 << scale)
    e_raw = F.lit(_alpha_m2_scaled(p)) / denom.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(*group_cols, exact_double(est, HLL_EST_DP).alias("est_distinct"))


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One-shot convenience: registers + estimate."""
    regs = hll_registers(df, value_col, group_cols)
    return hll_estimate(regs, group_cols)


# ===========================================================================
# HDR-histogram quantile sketch — the rank-statistics sibling of the HLL
# cardinality sketch above. Exact per-group quantiles at 100 TB require a
# full per-group sort (percentile() buffers every value); this keeps a
# bounded histogram instead: non-negative integers bucket by (msb, next-k
# bits) — Gil Tene's public High-Dynamic-Range histogram layout — giving
# relative error ≤ 2^-k with at most (63-k)·2^k + 2^k buckets, counts merge
# by SUM (per-partition/per-day sketches union for free), and EVERYTHING is
# integer arithmetic: msb = length(bin(x))-1 (exact in any engine, no float
# log2), sub-bucket and representative values via exact power-of-two
# division (pow(2,e) is a dyadic IEEE exact), ranks by one double multiply
# + ceil. The estimate is therefore bit-identical cross-engine and
# DuckDB-oracle-checkable — the same portability bar as the HLL above.
# ===========================================================================

HDR_K_DEFAULT = 5  # 32 sub-buckets per octave → relative error ≤ 1/32 ≈ 3.1%


def _hdr_bucket_col(x, k: int):
    """HDR bucket id for non-negative BIGINT ``x``: values < 2^k map to
    themselves (the exact region); above, id = (msb-k+1)·2^k + next-k-bits.
    Pure integer ops — msb via length(bin(x)) (no float log)."""
    b = 1 << k
    m = (F.length(F.bin(x)) - 1).cast("int")
    shift = (m - F.lit(k)).cast("double")
    div = F.pow(F.lit(2.0), shift).cast("long")  # 2^(m-k), IEEE-exact dyadic
    sub = (x / div).cast("long") - b  # x div 2^(m-k) is exact: div > 0
    return F.when(x < b, x.cast("long")).otherwise(
        ((m - k + 1) * b + sub).cast("long")
    )


def _hdr_rep_col(bucket, k: int):
    """Representative value (bucket-range midpoint, floor) for a bucket id —
    the inverse of :func:`_hdr_bucket_col` up to the guaranteed relative
    error. Integer arithmetic only."""
    b = 1 << k
    e = (bucket / b).cast("long") - 1  # octave exponent m-k
    width = F.pow(F.lit(2.0), e.cast("double")).cast("long")  # 2^e exact
    lo = (b + (bucket % b)) * width
    return F.when(bucket < b, bucket).otherwise(lo + ((width - 1) / 2).cast("long"))


def hdr_buckets(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    *,
    k: int = HDR_K_DEFAULT,
) -> DataFrame:
    """→ ``(*group_cols, bucket, cnt)``: the sketch — a map-side-combined
    COUNT per (group, HDR bucket); at most a few thousand rows per group
    ever shuffle regardless of value count or range. Input contract:
    non-negative integers ≤ 2^52 (lengths, counts, latencies — the dyadic
    divisions stay exact); NULLs are skipped."""
    if not 0 <= k <= 16:
        raise ValueError(f"k must be in [0, 16], got {k}")
    x = F.col(value_col).cast("long")
    d = df.filter(x.isNotNull())
    return (
        d.select(*group_cols, _hdr_bucket_col(x, k).alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def hdr_merge(
    a: DataFrame, b: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Union two bucket tables (same k!) into one sketch: per-bucket SUM.
    sketch(A) ⊕ sketch(B) == sketch(A ⊎ B) exactly (counts are additive;
    test-pinned)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def hdr_quantiles(
    buckets: DataFrame,
    qs: tuple[float, ...],
    group_cols: tuple[str, ...] = (),
    *,
    k: int = HDR_K_DEFAULT,
) -> DataFrame:
    """→ ``(*group_cols, q, est)``: per group and quantile, the
    representative value of the first bucket whose cumulative count reaches
    rank ceil(q·n) (the lower-quantile convention, pinned). The walk is a
    cumulative-sum window ordered by the integer bucket id + a min over the
    qualifying reps — reps increase with id, so min(rep) IS the first
    qualifying bucket. One double multiply + ceil per (group, q); all else
    integer."""
    from pyspark.sql import Window

    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1], got {qs}")
    spark = buckets.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in sorted(qs)], "q double")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = buckets.select(
        *group_cols,
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(*group_cols).orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    r = F.ceil(F.col("q") * F.col("total").cast("double")).cast("long")
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= r)
        .groupBy(*group_cols, "q")
        .agg(F.min(_hdr_rep_col(F.col("bucket"), k)).alias("est"))
    )


def hdr_quantile_sketch(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...],
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One-shot convenience: buckets + quantile walk."""
    b = hdr_buckets(df, value_col, group_cols)
    return hdr_quantiles(b, qs, group_cols)


# ===========================================================================
# Bloom membership filter — the third mergeable sketch next to HLL
# (cardinality) and HDR (quantiles): set membership in bounded space.
# The 100-TB pattern: build the filter over a key corpus ONCE (it is just a
# (word, bits) table, OR-mergeable per partition / per day), then probe an
# incoming batch with a words-sized join — the corpus itself is never
# rescanned for a membership question. Spark's own runtime bloom filters
# (AQE injected) use engine-private hashes; this one is md5-based
# Kirsch-Mitzenmacher double hashing (the same public construction the
# MinHash stack uses), pure integer bit math, so the filter WORDS are
# bit-identical cross-engine and a DuckDB oracle can rebuild and probe the
# identical filter. Words are 32-bit (stored in BIGINT) so no set bit ever
# touches the sign bit.
# ===========================================================================

BLOOM_M_DEFAULT = 1 << 16  # bits; ~8 KiB of words
BLOOM_K_DEFAULT = 5  # hash functions


def _bloom_positions(value, m: int, k: int):
    """→ array of k bit positions for ``value`` (may contain repeats —
    consumers aggregate per word, which handles collisions naturally):
    h_i = (h1 + i·h2) mod m over the two md5 60-bit halves."""
    s = F.md5(value.cast("string"))
    h1 = F.conv(F.substring(s, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(s, 17, 15), 16, 10).cast("long")
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]
    )


def _check_bloom_params(m: int, k: int) -> None:
    if not (64 <= m <= (1 << 30) and m % 32 == 0):
        raise ValueError(f"m must be a multiple of 32 in [64, 2^30], got {m}")
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16], got {k}")


def bloom_build(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    *,
    m: int = BLOOM_M_DEFAULT,
    k: int = BLOOM_K_DEFAULT,
) -> DataFrame:
    """→ ``(*group_cols, word, bits)``: the filter — per group, the OR of
    all set bits in each 32-bit word (word = pos div 32). Map-side-combined
    BIT_OR: at most m/32 rows per group ever shuffle, regardless of input
    size. NULL values are skipped."""
    _check_bloom_params(m, k)
    v = F.col(value_col)
    pos = df.filter(v.isNotNull()).select(
        *group_cols, F.explode(_bloom_positions(v, m, k)).alias("p")
    )
    return (
        pos.select(
            *group_cols,
            (F.col("p") / 32).cast("long").alias("word"),
            (F.col("p") % 32).cast("int").alias("b"),
        )
        .select(
            *group_cols,
            "word",
            F.expr("shiftleft(cast(1 as bigint), b)").alias("bit"),
        )
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_merge(
    a: DataFrame, b: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Union two filters (same m, k!): per-word BIT_OR.
    bloom(A) ⊕ bloom(B) == bloom(A ∪ B) EXACTLY (test-pinned)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bloom_probe(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    *,
    probe_id: str,
    m: int = BLOOM_M_DEFAULT,
    k: int = BLOOM_K_DEFAULT,
) -> DataFrame:
    """→ probes + ``might_contain``: true iff EVERY one of the value's k
    bits is set (no false negatives by construction; false-positive rate is
    the standard (1-e^{-kn/m})^k). The probe is a words-sized LEFT join:
    per probe value, its needed bits collapse to one mask per touched word
    (≤ k rows), each word checked with one AND — the sketch side is ≤ m/32
    rows, broadcastable at any corpus size."""
    _check_bloom_params(m, k)
    v = F.col(value_col)
    need = (
        probes.select(
            F.col(probe_id).alias("_pid"),
            F.explode(_bloom_positions(v, m, k)).alias("p"),
        )
        .select(
            "_pid",
            (F.col("p") / 32).cast("long").alias("word"),
            (F.col("p") % 32).cast("int").alias("b"),
        )
        .select("_pid", "word", F.expr("shiftleft(cast(1 as bigint), b)").alias("bit"))
        .groupBy("_pid", "word")
        .agg(F.bit_or("bit").alias("mask"))
    )
    checked = need.join(F.broadcast(sketch), "word", "left").select(
        "_pid",
        (
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
            == F.col("mask")
        ).alias("ok"),
    )
    verdict = checked.groupBy("_pid").agg(
        F.min(F.col("ok").cast("int")).alias("_all_ok")
    )
    return probes.join(
        verdict, probes[probe_id] == verdict["_pid"], "left"
    ).select(
        *probes.columns,
        (F.coalesce(F.col("_all_ok"), F.lit(0)) == 1).alias("might_contain"),
    )
