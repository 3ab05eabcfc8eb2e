"""Deduplication operators for web-scale training-data pipelines.

All hashing is built from ``md5`` so every operator has an exact ANSI-SQL twin in
DuckDB (the driver's correctness oracle) and stays engine-portable — engine-native
``hash()``/``xxhash64()`` differ between Spark and DuckDB and would break the
differential check. Everything below is pure ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python UDFs anywhere.

Operators:
- exact dedup (normalized-text fingerprint groupBy),
- MinHash + LSH banding (shingle → NUM_HASHES minhashes → N_BANDS bands →
  bucket join): one signature step, one band-signature rule and one exact
  verify feed every candidate path, with the shape fixed as module constants,
- SimHash (32-bit, md5-prefix token hashes, per-bit majority vote),
- n-gram Jaccard similarity (shingle-join candidate pairs, exact Jaccard),
- embedding-cosine near-duplicates (see operators/similarity.py),
- pairs → clusters → survivor selection (duplicate_clusters, via
  operators/graph.py connected components),
- INCREMENTAL dedup of incoming batches against a persisted bucketed
  signature index (build_dedup_index / incremental_dedup_pairs /
  extend_dedup_index — the continuous-ingest loop), with an
  aggregation-free per-row signature form (minhash_band_sig_cols) for the
  Structured-Streaming prefilter.

Hot buckets (boilerplate text, degenerate signatures) are SUB-SPLIT on a
finer signature before any candidate self-join (_cap_bucket_df): true
near-dups stay co-located, unrelated members scatter, and pieces no signature
can separate (byte-identical clones) drop under the residual hard cap.
"""

from __future__ import annotations

from uuid import uuid4

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared primitives
# ---------------------------------------------------------------------------

def normalized_text(col: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """md5 of normalized text — the exact-dup key."""
    return F.md5(F.encode(normalized_text(col), "UTF-8"))


# MinHash-LSH shape, shared by every candidate path, the streaming prefilter and
# both DuckDB twins (plans/entry_queries.py): 5-char shingles, 8 minhashes,
# 4 bands of 2. Fixed, not options: a per-call value could only make the
# engine and its oracle disagree.
SHINGLE_N = 5
NUM_HASHES = 8
BAND_SIZE = 2
N_BANDS = NUM_HASHES // BAND_SIZE
# prime > 2^32 for Kirsch-Mitzenmacher double hashing: h_i(s) = (h1 + i*h2) mod P
MINHASH_PRIME = 4294967311


def char_shingles(col: Column, n: int = SHINGLE_N) -> Column:
    """ARRAY<STRING> of overlapping character n-grams of the normalized text.

    Texts shorter than ``n`` yield an EMPTY array. The length gate is load-bearing:
    ``F.sequence(1, stop)`` with ``stop <= 0`` counts DOWN (``sequence(1,0) ==
    [1, 0]``), which would fabricate two truncated shingles for short docs and
    diverge from DuckDB's ``generate_series(1, 0)`` (empty)."""
    txt = normalized_text(col)
    return F.when(
        F.length(txt) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - (n - 1)),
            lambda i: F.substring(txt, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# MinHash-LSH: one derivation for every candidate path
# ---------------------------------------------------------------------------

def _shingle_hash(s: Column, half: int) -> Column:
    """32-bit half ``half`` (0 or 1) of a shingle's md5, as BIGINT. ONE md5 per
    shingle feeds all NUM_HASHES minhash families via double hashing."""
    return F.conv(F.substring(F.md5(s), 1 + 8 * half, 8), 16, 10).cast("long")


def _minhash(h1: Column, h2: Column, i: int) -> Column:
    return F.pmod(h1 + F.lit(i + 1) * h2, F.lit(MINHASH_PRIME))


def _band_sig(mh: list[Column], b: int, width: int) -> Column:
    """The one band-signature rule: md5 over ``width`` consecutive minhashes
    from band ``b``'s first, wrapping. ``width == BAND_SIZE`` is the bucket
    key; ``2 * BAND_SIZE`` is the finer hot-bucket sub-split signature."""
    return F.md5(
        F.concat_ws(
            "_",
            *[mh[(b * BAND_SIZE + j) % NUM_HASHES].cast("string") for j in range(width)],
        )
    )


def _minhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """→ (id, mh0, mh1, …): the batch MinHash signature of each doc.

    Explodes shingle POSITIONS (an int sequence) and slices inside the same
    codegen stage rather than exploding a materialized ARRAY<STRING> of
    n-grams: the string array allocates |text| small strings per doc before
    the generate, which measured ~6x slower than substring-after-explode.
    Repeated shingles leave the min unchanged. The length gate runs BEFORE the
    explode: ``sequence(1, stop<=0)`` counts DOWN in Spark (``[1, 0]``) and
    would fabricate truncated shingles; docs shorter than the shingle width
    get no signature (they belong to the exact-dedup path). The
    explode→groupBy aggregates map-side, so the shuffle carries only
    NUM_HASHES longs per document."""
    sh = (
        docs.select(F.col(id_col).alias("id"), normalized_text(F.col(text_col)).alias("t"))
        .filter(F.length("t") >= SHINGLE_N)
        .select(
            "id",
            "t",
            F.explode(F.sequence(F.lit(1), F.length("t") - (SHINGLE_N - 1))).alias("i"),
        )
        .select("id", F.substring(F.col("t"), F.col("i").cast("int"), SHINGLE_N).alias("s"))
    )
    hashed = sh.select(
        "id",
        _shingle_hash(F.col("s"), 0).alias("h1"),
        _shingle_hash(F.col("s"), 1).alias("h2"),
    )
    return hashed.groupBy("id").agg(
        *[
            F.min(_minhash(F.col("h1"), F.col("h2"), i)).alias(f"mh{i}")
            for i in range(NUM_HASHES)
        ]
    )


def _band_rows(sigs: DataFrame, **widths: int) -> DataFrame:
    """(id, mh…) → one row per (id, band): ``band_idx`` plus, per keyword, the
    :func:`_band_sig` of that width (``band_sig=BAND_SIZE``, …)."""
    mh = [F.col(f"mh{i}") for i in range(NUM_HASHES)]
    bands = [
        F.struct(
            F.lit(b).alias("band_idx"),
            *[_band_sig(mh, b, w).alias(name) for name, w in widths.items()],
        )
        for b in range(N_BANDS)
    ]
    return sigs.select("id", F.explode(F.array(*bands)).alias("band")).select(
        "id", "band.*"
    )


def _verified_pairs(cand: DataFrame, texts: DataFrame, threshold: float) -> DataFrame:
    """The one exact verify: (id_a, id_b) candidates + (id, text) → (id_a,
    id_b, jaccard) for shingle-set Jaccard ≥ ``threshold``, rounded to 6
    places as the oracle rounds. Shingle sets are built from ``texts`` only,
    so a caller passing candidate texts keeps the verify candidate-bounded."""
    shs = texts.select("id", F.array_distinct(char_shingles(F.col("text"))).alias("sh"))
    sa = shs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

def exact_duplicates(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (fp, n_docs, keep_id): one row per duplicate-group (n_docs >= 1), keeping
    the smallest id (deterministic survivor)."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def minhash_lsh_buckets(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (band_idx, band_sig, n_docs, min_id, max_id) for buckets with >= 2 docs —
    the LSH candidate-duplicate groups. Bands are md5 over ``BAND_SIZE``
    consecutive minhashes. At scale this is one explode + one groupBy shuffle keyed
    by (band_idx, band_sig); hot buckets (boilerplate text) are the skew case the
    salting helper handles."""
    # Shingling explodes each doc ~|text| ways, so the stage's cost is sized by
    # its OUTPUT, not its input — if the input arrives in fewer partitions than
    # cores (one small parquet file, a coalesced upstream), the whole expansion
    # serializes. Rebalance by id first, but only when actually under-partitioned.
    # The probe must be AQE-safe: touching ``.rdd`` on a derived (joined/
    # filtered) frame materializes its AQE query stages — executing the upstream
    # plan just to read a partition count (the same defect commit 09b4ece fixed
    # in both sinks). ``inputFiles()`` comes from the analyzed plan (no job):
    # fewer leaf files than cores ⇒ under-partitioned scan ⇒ rebalance. Non-file
    # frames report zero files and are treated as already parallel (local test
    # frames parallelize to defaultParallelism; at real scale the corpus always
    # has >= cores splits and no reshuffle happens either way). Two blind spots
    # the file count can't see without running the plan: a `.coalesce(n)`
    # upstream (files plentiful, runtime partitions few — under-rebalanced) and
    # a single LARGE splittable file (1 file, many maxPartitionBytes splits —
    # one needless reshuffle).
    dp = docs.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(docs.inputFiles())
    except Exception:  # non-file plans (streams, pure-local relations)
        n_files = 0
    if 0 < n_files < dp:
        docs = docs.repartition(dp * 2, id_col)
    bands = _band_rows(_minhash_signatures(docs, id_col, text_col), band_sig=BAND_SIZE)
    return (
        bands.groupBy("band_idx", "band_sig")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def simhash(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """→ (id, simhash): 32-bit SimHash. Token hash = first 8 hex digits of md5 →
    BIGINT; bit j of the signature is the sign of sum over tokens of ±1 on that
    bit. Near-dups have small Hamming distance. All-JVM: explode + 32 conditional
    sums + bit recombination."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
        ).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return votes.select(F.col(id_col), sig.alias("simhash"))


def _cap_bucket_df(
    memberships: DataFrame,
    keys: list[str],
    cap: int | None,
    sub_col: str | None = None,
) -> DataFrame:
    """Bound LSH/band bucket cardinality BEFORE the candidate self-join, by
    SUB-SPLITTING hot buckets on a finer deterministic signature instead of
    dropping them outright. Salting cannot fix a hot bucket — it spreads the
    rows but the O(n²) pair count inside the bucket survives; bounding the
    bucket is the only scale-safe move.

    Mechanics: buckets (grouped by ``keys``) holding ≤ ``cap`` members pass
    untouched (``_piece = ''``). Over-cap buckets split into pieces keyed by
    ``sub_col`` — a FINER signature the caller derives from the same sketch
    (double-width MinHash band, the neighboring SimHash band, extra
    hyperplanes): unrelated co-bucketed members (boilerplate shell around
    distinct content) scatter across pieces, while true near-duplicates — which
    agree on the finer signature with high probability — stay co-located and
    their pairs are RETAINED. Pieces still exceeding ``cap`` after the split
    (typically byte-identical clones, which no signature can separate) are
    dropped — the residual hard bound that keeps pair volume ≤ cap·|members|
    (documented recall trade; such groups belong to the exact-dedup path).

    Returns ``memberships`` with ``_piece`` appended — callers MUST include
    ``_piece`` in the candidate self-join keys (constant ``''`` when ``cap`` is
    None, so the join condition is uniform). Both groupBys key on the same
    columns the self-join shuffles on, so AQE folds the exchanges."""
    if cap is None:
        out = memberships.withColumn("_piece", F.lit(""))
        return out.drop(sub_col) if sub_col else out
    dfc = memberships.groupBy(*keys).agg(F.count("*").alias("_df"))
    m = memberships.join(dfc, keys)
    if sub_col is None:
        return (
            m.filter(F.col("_df") <= cap).drop("_df").withColumn("_piece", F.lit(""))
        )
    m = m.withColumn(
        "_piece",
        F.when(F.col("_df") <= cap, F.lit("")).otherwise(F.col(sub_col).cast("string")),
    ).drop("_df", sub_col)
    cold = (
        m.groupBy(*keys, "_piece")
        .agg(F.count("*").alias("_pdf"))
        .filter(F.col("_pdf") <= cap)
        .drop("_pdf")
    )
    return m.join(cold, [*keys, "_piece"])


def minhash_band_memberships(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ (id, band_idx, band_sig, sub_sig): one row per (doc, LSH band).

    ``band_sig`` is md5 over the band's ``BAND_SIZE`` consecutive minhashes —
    the bucket key. ``sub_sig`` is md5 over the DOUBLE-width window starting at
    the same hash (wrapping): the finer signature the hot-bucket sub-split
    (:func:`_cap_bucket_df`) pieces over-cap buckets by — a pair with Jaccard s
    collides on it with probability s^(2·BAND_SIZE) instead of s^BAND_SIZE, so
    boilerplate-shell buckets scatter while true near-dups stay co-located.

    Shared by :func:`jaccard_via_lsh` (self-join corpus dedup) and the
    incremental path (:func:`build_dedup_index` persists exactly these rows)."""
    return _band_rows(
        _minhash_signatures(docs, id_col, text_col),
        band_sig=BAND_SIZE,
        sub_sig=2 * BAND_SIZE,
    )


def jaccard_via_lsh(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, jaccard): the PLANET-SCALE composition the Jaccard
    operator's docstring prescribes — MinHash-LSH buckets generate the
    candidate pairs (sub-quadratic; only same-band-signature docs ever pair),
    then exact shingle-set Jaccard verifies each candidate. Versus
    :func:`ngram_jaccard_pairs` (whose shingle equi-join IS the prefilter),
    the candidate count here is bounded by bucket co-membership, not by
    shared-shingle document frequency — the property that survives 100 TB.
    Approximation is one-sided: every reported pair carries its EXACT Jaccard;
    pairs can only be MISSED (LSH recall), never wrongly scored.

    ``max_bucket_df`` bounds bucket cardinality before the self-join: over-cap
    buckets SUB-SPLIT on the double-width band signature (true near-dups stay
    co-located; unrelated boilerplate-shell members scatter), with a residual
    hard drop for pieces no signature can separate (byte-identical clones) —
    see :func:`_cap_bucket_df`. Without the guard one degenerate bucket
    produces O(n²) pairs at corpus scale."""
    bands = _cap_bucket_df(
        minhash_band_memberships(docs, id_col=id_col, text_col=text_col),
        ["band_idx", "band_sig"],
        max_bucket_df,
        sub_col="sub_sig",
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a._piece") == F.col("b._piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    texts = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return _verified_pairs(cand, texts, threshold)


def simhash_neardup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 32,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, hamming) for pairs with SimHash Hamming distance ≤
    ``max_hamming`` (id_a < id_b).

    Candidate generation by the pigeonhole banding trick: the ``bits``-bit
    signature splits into ``max_hamming + 1`` bands — two signatures within
    distance ``max_hamming`` MUST agree exactly on at least one band, so
    candidates are the union of per-band equi-join buckets (never all-pairs).
    Exact verify = ``bit_count(xor)`` on the full signature; a pair matching in
    several bands is deduped by grouping before the verify.

    ``max_bucket_df`` bounds band-bucket cardinality before the self-join —
    the boilerplate-text hot bucket otherwise goes quadratic, and salting
    can't help (it spreads rows, not the pair count). Over-cap buckets
    SUB-SPLIT on the NEXT band's value (:func:`_cap_bucket_df`): a retained
    hot-bucket pair must then agree on two adjacent bands (≥ 2·band_bits
    matching bits) — diverse hot buckets scatter, near-identical pairs stay;
    pieces still over cap (identical signatures) are dropped."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    sig = simhash(docs, id_col=id_col, text_col=text_col, bits=bits).select(
        F.col(id_col).alias("id"), "simhash"
    )

    def _band_val(b: int) -> Column:
        return F.shiftright(F.col("simhash"), (b % n_bands) * band_bits).bitwiseAND(
            F.lit((1 << band_bits) - 1)
        )

    bands = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        _band_val(b).alias("band_val"),
                        _band_val(b + 1).cast("string").alias("sub_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_idx", "band.band_val", "band.sub_val")
    bands = _cap_bucket_df(
        bands, ["band_idx", "band_val"], max_bucket_df, sub_col="sub_val"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._piece") == F.col("b._piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .agg(
            F.first("a.simhash").alias("sig_a"),
            F.first("b.simhash").alias("sig_b"),
        )
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, jaccard) for pairs above threshold (id_a < id_b).

    Candidate generation by shingle equi-join (docs sharing no shingle never
    pair), exact Jaccard = |∩| / (|A| + |B| − |∩|). At planet scale the shingle
    join is preceded by LSH pre-filtering; here the shingle join IS the
    pre-filter.

    ``max_shingle_df`` is the hot-shingle guard: shingles appearing in more than
    that many documents (site boilerplate, navigation chrome) are dropped from
    the shingle SETS — they generate O(df²) candidate-pair blowup in the
    self-join while carrying no discriminative signal. Jaccard is then computed
    over the filtered sets (a documented stopword-shingle semantics, applied
    identically in the DuckDB oracle). ``None`` disables the guard."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(char_shingles(F.col(text_col)))).alias("s"),
    )
    if max_shingle_df is not None:
        # One extra groupBy on the shingle key; the join back is on the same key
        # so with AQE it plans as a co-partitioned (or broadcast, when the cold
        # set is small) join with no additional shuffle of the big side.
        cold = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("s")
        )
        sh = sh.join(cold, "s")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_band_sig_cols(text: Column) -> list[Column]:
    """Per-ROW band signatures — the same md5/Kirsch-Mitzenmacher minhashes
    and :func:`_band_sig` rule as :func:`minhash_band_memberships`, computed
    entirely with higher-order functions (``transform``/``zip_with``/
    ``array_min``) instead of explode+groupBy. Returns ``N_BANDS`` Columns
    (band 0..n-1); each is NULL for texts shorter than the shingle width
    (such docs have no memberships in the batch derivation either).

    The groupBy form is preferred for batch (map-side combine keeps the
    shuffle at NUM_HASHES longs/doc); this form exists because it is
    AGGREGATION-FREE — legal inside Structured Streaming plans where a
    stream-side groupBy would be a stateful operator
    (``streaming/pipelines.py:novel_pages_stream``). Equality with the batch
    derivation is test-pinned."""
    sh = F.array_distinct(char_shingles(text))
    h1 = F.transform(sh, lambda s: _shingle_hash(s, 0))
    h2 = F.transform(sh, lambda s: _shingle_hash(s, 1))
    mh = [
        F.array_min(F.zip_with(h1, h2, lambda a, b: _minhash(a, b, i)))
        for i in range(NUM_HASHES)
    ]
    return [F.when(F.size(sh) >= 1, _band_sig(mh, b, BAND_SIZE)) for b in range(N_BANDS)]


def build_dedup_index(
    spark,
    corpus_docs: DataFrame,
    *,
    table_prefix: str = "dedup_idx",
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist a corpus's MinHash signature INDEX as bucketed tables so that
    incoming batches dedup against it WITHOUT rescanning the corpus
    (:func:`incremental_dedup_pairs`). A 100-TB training pipeline ingests
    batches continuously; recomputing signatures over the full corpus per
    batch (what :func:`jaccard_via_lsh` does) would re-read 100 TB every
    time — the index is written once, extended per batch, and is
    signatures-sized (a few hundred bytes/doc), not corpus-sized.

    Tables (same ``saveAsTable``-bucketing pattern as
    ``sources/pbf_source.py:pbf_to_bucketed_tables``):

    - ``<prefix>_memberships`` (id, band_idx, band_sig, sub_sig) — bucketed +
      sorted by ``band_sig``, the candidate-join key, so the join needs no
      shuffle of the index side;
    - ``<prefix>_bucket_stats`` (band_idx, band_sig, sub_sig, cnt, batch_key)
      — per-sub-bucket membership counts, letting a batch compute UNION bucket
      cardinality (for the hot-bucket cap/sub-split) from aggregates instead
      of re-counting index memberships. PARTITIONED BY ``batch_key`` (the base
      build writes partition ``__base__``): each extension contributes its own
      batch-sized partition and never rescans the corpus signatures
      (:func:`extend_dedup_index`); readers sum ``cnt`` over partitions;
    - ``<prefix>_docs`` (id, text) — bucketed by ``id`` for the exact-Jaccard
      verify, which fetches ONLY candidate ids' texts.

    Idempotent (drop + rewrite). Doc ids in later batches must be disjoint
    from indexed ids (standard: key by content hash or URL upstream)."""
    import os
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    # bucket_stats_staging: a pre-r5 extension artifact, dropped on rebuild;
    # band_sigs: the streaming prefilter's probe table (stale after a rebuild)
    for suffix in (
        "memberships", "bucket_stats", "bucket_stats_staging", "docs",
        "batches", "band_sigs",
    ):
        name = f"{table_prefix}_{suffix}"
        spark.sql(f"drop table if exists {name}")
        loc = os.path.join(warehouse, name)
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    m = minhash_band_memberships(corpus_docs, id_col=id_col, text_col=text_col)
    (
        m.write.mode("overwrite")
        .bucketBy(n_buckets, "band_sig")
        .sortBy("band_sig")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_memberships")
    )
    stats = (
        spark.table(f"{table_prefix}_memberships")
        .groupBy("band_idx", "band_sig", "sub_sig")
        .agg(F.count("*").alias("cnt"))
        .withColumn("batch_key", F.lit("__base__"))
    )
    (
        stats.write.mode("overwrite")
        .partitionBy("batch_key")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_bucket_stats")
    )
    (
        corpus_docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "id")
        .sortBy("id")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_docs")
    )
    # extension exactly-once markers (see extend_dedup_index's batch_key)
    spark.createDataFrame([], "batch_key string").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{table_prefix}_batches")


def extend_dedup_index(
    spark,
    docs: DataFrame,
    *,
    table_prefix: str = "dedup_idx",
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_key: str | None = None,
) -> str:
    """Append a processed batch to an existing signature index — the
    continuous-ingest loop: ``incremental_dedup_pairs(batch)`` → keep
    survivors → ``extend_dedup_index(survivors)`` → next batch dedups against
    corpus ∪ batch. Appends batch memberships and texts to the bucketed tables
    (``n_buckets``/keys must match :func:`build_dedup_index`'s — Spark
    validates the bucket spec on append) and contributes the batch's OWN band
    counts as a new ``batch_key`` partition of ``<prefix>_bucket_stats`` — an
    O(batch) aggregate over the batch's just-computed signatures. Nothing in
    the extension reads the memberships or docs tables (test-pinned): at
    10^11 indexed docs a per-batch corpus-signature rescan would dominate the
    ingest loop, violating the module's "the corpus is touched only where the
    batch lands" contract. After extension,
    :func:`incremental_dedup_pairs` against the index equals full recompute
    over everything indexed so far (test-pinned across two batches).

    CRASH SAFETY: pass ``batch_key`` (a stable batch identifier) to make the
    extension exactly-once — if the key is already in ``<prefix>_batches`` the
    call is a no-op (returns ``"skipped"``); otherwise the three tables are
    written and the marker commits LAST. A crash mid-extension therefore
    reruns the whole extension: the stats write is idempotent (dynamic
    partition overwrite replaces only this batch's own partition — never a
    double count), while the duplicate membership/doc rows a partial first
    attempt appended are harmless by construction: candidate pairs pass
    through ``.distinct()`` and the verify-side text fetch deduplicates on id
    (``incremental_dedup_pairs``); cap decisions read stats, which count each
    batch exactly once. Without ``batch_key`` no exactly-once is promised and
    the stats partition gets a synthetic unique key. Returns ``"extended"``
    or ``"skipped"``."""
    if batch_key is not None:
        done = (
            spark.table(f"{table_prefix}_batches")
            .filter(F.col("batch_key") == batch_key)
            .limit(1)
            .count()
        )
        if done:
            return "skipped"
    # lazy localCheckpoint: the frame is materialized once (at the memberships
    # append) and the stats aggregate below reuses the checkpoint instead of
    # recomputing the minhash pass over the batch text
    m = minhash_band_memberships(
        docs, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)
    (
        m.write.mode("append")
        .bucketBy(n_buckets, "band_sig")
        .sortBy("band_sig")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_memberships")
    )
    (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .write.mode("append")
        .bucketBy(n_buckets, "id")
        .sortBy("id")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_docs")
    )
    # O(batch) stats maintenance: ONLY the batch's band counts are aggregated
    # and land in this batch's own stats partition; `insertInto` under DYNAMIC
    # partition-overwrite makes a crash-rerun replace (not double-count) it.
    # Readers sum cnt across partitions (incremental_candidate_pairs). The
    # dynamic mode must be set as the SESSION conf — the per-write
    # .option("partitionOverwriteMode", ...) is not honored by insertInto on
    # this Spark line (verified: a static-mode overwrite truncates the whole
    # table) — so set/restore it around the insert.
    part_key = batch_key if batch_key is not None else f"__anon_{uuid4().hex}"
    bstats = (
        m.groupBy("band_idx", "band_sig", "sub_sig")
        .agg(F.count("*").alias("cnt"))
        .withColumn("batch_key", F.lit(part_key))
    )
    _POM = "spark.sql.sources.partitionOverwriteMode"
    prev_pom = spark.conf.get(_POM, "static")
    spark.conf.set(_POM, "dynamic")
    try:
        bstats.write.mode("overwrite").insertInto(f"{table_prefix}_bucket_stats")
    finally:
        spark.conf.set(_POM, prev_pom)
    if batch_key is not None:
        spark.createDataFrame([(batch_key,)], "batch_key string").write.mode(
            "append"
        ).format("parquet").saveAsTable(f"{table_prefix}_batches")
    return "extended"


def incremental_candidate_pairs(
    spark,
    new_docs: DataFrame,
    *,
    table_prefix: str = "dedup_idx",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_df: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b): LSH candidate pairs of an incoming batch vs the
    persisted signature index (+ batch-internal pairs), BEFORE the exact
    verify — the signature-only stage of :func:`incremental_dedup_pairs`,
    split out so its plan shape is testable: the index memberships scan must
    reach its first join with zero Exchange (all batch-derived frames
    broadcast onto it). Cap semantics (hot-bucket sub-split over UNION
    cardinality) match :func:`jaccard_via_lsh` on corpus ∪ batch exactly."""
    cap = max_bucket_df
    idx_m = spark.table(f"{table_prefix}_memberships")
    # stats are PARTITIONED by batch_key (one partition per ingested batch —
    # see extend_dedup_index's O(batch) maintenance), so a (band, sig, sub)
    # key may carry one row per batch: readers SUM cnt across partitions.
    stats = spark.table(f"{table_prefix}_bucket_stats").select(
        "band_idx", "band_sig", "sub_sig", "cnt"
    )
    new_m = minhash_band_memberships(
        new_docs, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)

    bkeys = ["band_idx", "band_sig"]
    skeys = [*bkeys, "sub_sig"]
    if cap is not None:
        # union cardinality per bucket = index aggregate + batch count;
        # index stats are filtered by a broadcast semi-join on batch buckets
        new_bkt = new_m.groupBy(*bkeys).agg(F.count("*").alias("new_df"))
        idx_bkt = (
            stats.join(F.broadcast(new_bkt.select(*bkeys)), bkeys, "left_semi")
            .groupBy(*bkeys)
            .agg(F.sum("cnt").alias("idx_df"))
        )
        bucket_union = new_bkt.join(idx_bkt, bkeys, "left").select(
            *bkeys,
            (F.col("new_df") + F.coalesce(F.col("idx_df"), F.lit(0))).alias("df"),
        )
        # sub-piece union cardinality, for the residual per-piece bound
        # (per-batch stats partitions summed AFTER the batch-bucket semi-join,
        # so the aggregation shuffles only batch-touched keys)
        new_sub = new_m.groupBy(*skeys).agg(F.count("*").alias("new_cnt"))
        idx_sub = (
            stats.join(F.broadcast(new_bkt.select(*bkeys)), bkeys, "left_semi")
            .groupBy(*skeys)
            .agg(F.sum("cnt").alias("cnt"))
        )
        sub_union = (
            new_sub.join(idx_sub, skeys, "full")
            .select(
                *skeys,
                (
                    F.coalesce(F.col("new_cnt"), F.lit(0))
                    + F.coalesce(F.col("cnt"), F.lit(0))
                ).alias("pdf"),
            )
        )

        def with_piece(m: DataFrame) -> DataFrame:
            m = m.join(F.broadcast(bucket_union), bkeys)
            m = m.withColumn(
                "_piece",
                F.when(F.col("df") <= cap, F.lit("")).otherwise(F.col("sub_sig")),
            ).drop("df")
            # residual bound: hot pieces above cap drop (same as _cap_bucket_df);
            # cold buckets ('' piece) already have df <= cap by construction
            hot_drop = sub_union.filter(F.col("pdf") > cap).select(*skeys)
            return m.join(F.broadcast(hot_drop), skeys, "left_anti").drop("sub_sig")

        new_mp = with_piece(new_m)
        idx_mp = with_piece(idx_m)
    else:
        new_mp = new_m.withColumn("_piece", F.lit("")).drop("sub_sig")
        idx_mp = idx_m.withColumn("_piece", F.lit("")).drop("sub_sig")
        # restrict the index side to buckets the batch touches (semantically a
        # no-op — non-batch buckets can't produce batch pairs — but it keeps
        # the candidate join build side batch-bounded)
        idx_mp = idx_mp.join(
            F.broadcast(new_mp.select(*bkeys).distinct()), bkeys, "left_semi"
        )

    all_m = idx_mp.unionByName(new_mp)
    return (
        all_m.join(
            F.broadcast(new_mp.withColumnRenamed("id", "nid")),
            [*bkeys, "_piece"],
        )
        .filter(F.col("id") != F.col("nid"))
        .select(
            F.least("id", "nid").alias("id_a"),
            F.greatest("id", "nid").alias("id_b"),
        )
        .distinct()
    )


def incremental_dedup_pairs(
    spark,
    new_docs: DataFrame,
    *,
    table_prefix: str = "dedup_idx",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_df: int | None = None,
    in_pushdown_limit: int = 100_000,
) -> DataFrame:
    """→ (id_a, id_b, jaccard): near-dup pairs of an INCOMING batch against a
    corpus indexed by :func:`build_dedup_index` — new-vs-index plus
    new-vs-new, NEVER old-vs-old — with output exactly equal to full-recompute
    :func:`jaccard_via_lsh` over (corpus ∪ batch) restricted to pairs touching
    the batch (the oracle-checked contract, ``doc_incremental_dedup``).

    Scale shape — the corpus is touched only where the batch lands:

    - batch memberships/band-counts are batch-sized; every frame derived from
      them joins onto index tables via ``broadcast()``, so the index
      memberships scan carries ZERO Exchange (plan-shape-pinned in
      ``tests/test_round4.py``) and, bucketed by ``band_sig``, never shuffles;
    - UNION bucket cardinality (cap semantics identical to full recompute,
      including the hot-bucket sub-split) comes from ``<prefix>_bucket_stats``
      aggregates + batch counts — no index membership re-count;
    - the exact verify re-attaches text for CANDIDATE ids only, from the
      id-bucketed ``<prefix>_docs`` snapshot — candidate-volume reads, not a
      corpus rescan.

    Batch-derived broadcast frames are bounded by (batch bands × their
    buckets); for multi-TB batches raise the batch chunking upstream rather
    than the broadcast threshold."""
    idx_docs = spark.table(f"{table_prefix}_docs")
    cand = incremental_candidate_pairs(
        spark,
        new_docs,
        table_prefix=table_prefix,
        id_col=id_col,
        text_col=text_col,
        max_bucket_df=max_bucket_df,
    ).localCheckpoint(eager=True)  # reused for the id fetch + verify join
    # exact verify over CANDIDATE texts only. Candidate ids are collected and
    # pushed down as a literal IN filter: the docs snapshot is id-sorted per
    # bucket, so parquet row-group min/max stats prune the scan to the touched
    # row groups — candidate-bounded IO, not a corpus text rescan. Above
    # ``in_pushdown_limit`` (degenerate batch: a boilerplate slab colliding
    # with a huge slice of the index), fall back to a broadcast semi-join
    # (correct, but scans the snapshot's text column once — chunk the batch
    # upstream instead of raising the limit). The IN-vs-semi-join branch is
    # decided by a BOUNDED probe — ``limit(in_pushdown_limit + 1)`` — so the
    # driver never materializes more than limit+1 ids even in the degenerate
    # case the fallback exists for (an unbounded collect here was the round-4
    # verdict's top scale finding).
    cand_ids = [
        r.cid
        for r in cand.select(
            F.explode(F.array("id_a", "id_b")).alias("cid")
        ).distinct().limit(in_pushdown_limit + 1).collect()
    ]
    if not cand_ids:
        return spark.createDataFrame(
            [], f"id_a {dict(new_docs.dtypes)[id_col]}, id_b {dict(new_docs.dtypes)[id_col]}, jaccard double"
        )
    if len(cand_ids) <= in_pushdown_limit:
        old_texts = idx_docs.filter(F.col("id").isin(cand_ids))
    else:
        old_texts = idx_docs.join(
            F.broadcast(cand.select(F.col("id_a").alias("id")).union(
                cand.select(F.col("id_b").alias("id"))
            ).distinct()),
            "id",
            "left_semi",
        )
    # a crash-rerun index extension can leave duplicate doc rows; dedupe the
    # (candidate-bounded) fetch so the verify join emits one row per pair
    old_texts = old_texts.dropDuplicates(["id"])
    texts = old_texts.unionByName(
        new_docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    )
    return _verified_pairs(cand, texts, threshold)


def incremental_cluster_losers(
    pairs: DataFrame,
    batch_ids: DataFrame,
    *,
    id_col: str = "url",
    handles: list | None = None,
) -> DataFrame:
    """→ single-column (``id_col``) frame of BATCH members to drop, given the
    batch-touching near-dup ``pairs`` (id_a, id_b — from
    :func:`incremental_dedup_pairs`, so every pair has ≥ 1 batch endpoint) and
    the batch's id set (one column named ``id``).

    Survivor rule — "first-indexed wins, with transitivity across the index
    boundary": connected components run over ALL pairs (indexed ids as
    vertices too); a component containing ANY indexed id already has its
    survivor in the corpus, so every batch member of it drops; pure-batch
    components keep their canonical minimum. Clustering only the
    batch-internal pairs would violate the chain rule the batch-mode
    :func:`duplicate_clusters` enforces: batch page B chained to indexed X
    only through batch page A (B~A, A~X, B≁X) must drop even though B never
    pairs with the index directly."""
    from openstreetmapio_jl_spark.operators.graph import connected_components

    comp = connected_components(pairs, src="id_a", dst="id_b", handles=handles)
    labeled = comp.join(
        batch_ids.select(F.col("id")).withColumn("_batch", F.lit(True)),
        "id",
        "left",
    )
    poisoned = (
        labeled.filter(F.col("_batch").isNull())
        .select("component")
        .distinct()
        .withColumn("_poisoned", F.lit(True))
    )
    return (
        labeled.filter(F.col("_batch").isNotNull())
        .join(poisoned, "component", "left")
        .filter(
            F.col("_poisoned").isNotNull() | (F.col("id") != F.col("component"))
        )
        .select(F.col("id").alias(id_col))
        .distinct()
    )


def duplicate_clusters(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_df: int | None = None,
    handles: list | None = None,
) -> DataFrame:
    """→ (canonical_id, n_docs, max_id): one row per near-duplicate CLUSTER —
    the survivor-selection step a corpus pipeline runs after pair generation
    ("keep one doc per cluster, drop the rest"). Composition:
    :func:`jaccard_via_lsh` pairs → :func:`operators.graph.connected_components`
    → per-component aggregate. ``canonical_id`` is the minimum doc id in the
    cluster (deterministic survivor, same convention as
    :func:`exact_duplicates`'s keep_id); clusters are always n_docs >= 2
    (singletons by definition never appear in the pair graph).

    Transitivity is deliberate: near-duplication is NOT transitive, so a
    cluster may span pairs whose mutual Jaccard is below threshold (A~B, B~C,
    A≁C still clusters {A,B,C}). That is the standard corpus-dedup semantics —
    dropping all-but-one of a chained cluster — and the reason the cluster step
    exists instead of dropping pairwise."""
    from openstreetmapio_jl_spark.operators.graph import connected_components

    pairs = jaccard_via_lsh(
        docs,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        max_bucket_df=max_bucket_df,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b", handles=handles)
    return comp.groupBy(F.col("component").alias("canonical_id")).agg(
        F.count("*").alias("n_docs"), F.max("id").alias("max_id")
    )


# ---------------------------------------------------------------------------
# chunk-level (CCNet-style) boilerplate dedup
# ---------------------------------------------------------------------------

def chunk_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_chunk: int = 8,
    boiler_doc_threshold: int = 2,
    emit_text: bool = False,
) -> DataFrame:
    """CCNet-style chunk-level dedup: drop chunks shared across documents.

    Wenzek et al. 2020 (CCNet) dedup CommonCrawl at PARAGRAPH granularity —
    a chunk (paragraph) appearing in many documents is site chrome / legal
    boilerplate, not content, and is removed from every document while the
    unique remainder survives. Document-level dedup (exact_duplicates /
    minhash LSH above) can't express this: it keeps or kills whole docs.
    Chunks here are non-overlapping ``words_per_chunk``-word windows of the
    ``\\s+``-tokenized text (the fixture corpus is single-line; a newline
    corpus would split on ``\\n`` instead — same pipeline).

    A chunk is boilerplate when its md5 appears in ``>= boiler_doc_threshold``
    DISTINCT documents. Returns one row per input document, always:
    ``(id, n_chunks, n_boiler, clean_hash)`` where ``clean_hash`` is the md5 of
    the surviving chunks rejoined in original order (md5('') when everything —
    or the whole doc — was boilerplate, e.g. exact duplicate docs, whose every
    chunk repeats corpus-wide). ``emit_text=True`` additionally returns the
    surviving text itself as ``clean_text`` — the form the corpus pipeline's
    cleaning stage consumes (the oracle query keeps the compact hash).

    Shape at scale: chunking is per-row HOF codegen (split → transform/slice,
    no explode until the chunk table); the frequency pass is ONE groupBy on the
    16-byte chunk hash with map-side partial aggregation; the re-join is an
    equi-join on that same hash (AQE handles the hot empty-chunk keys); the
    reassembly is one groupBy on the doc id. No Python, no window over the
    corpus, no driver collect — the same shape CCNet runs sharded over 30 TB.
    """
    w = F.lit(words_per_chunk)
    words = word_tokens(F.col(text_col))  # the ONE corpus tokenization rule
    n_chunks = F.ceil(F.size("words") / w).cast("int")
    wdf = docs.select(F.col(id_col).alias("id"), words.alias("words"))
    # Explode chunk POSITIONS (an int sequence) and slice AFTER the explode —
    # never explode a materialized HOF-built ARRAY<STRING>: codegen re-derives
    # a generator's non-attribute child at every consumer, so exploding the
    # chunk array re-evaluates the whole transform-lambda chain ~an order of
    # magnitude more than once (measured 4x wall on this query at sf0.1; same
    # pathology _minhash_signatures documents for shingles). sequence(0, -1)
    # counts DOWN (the char_shingles trap) — gate on size; zero-word docs get
    # no chunk rows here and are restored by the ids left join below.
    ex = (
        wdf.select(
            "id",
            "words",
            F.explode(
                F.when(
                    F.size("words") > 0, F.sequence(F.lit(0), n_chunks - 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
        )
        .select(
            "id",
            "pos",
            F.array_join(F.slice(F.col("words"), F.col("pos") * w + 1, w), " ").alias(
                "chunk"
            ),
        )
        .withColumn("h", F.md5(F.encode("chunk", "UTF-8")))
    )
    freq = ex.groupBy("h").agg(F.countDistinct("id").alias("ndocs"))
    joined = ex.join(freq, "h")
    boiler = F.col("ndocs") >= boiler_doc_threshold
    agg = joined.groupBy("id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(boiler, 1).otherwise(0)).cast("long").alias("n_boiler"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(~boiler, F.struct("pos", "chunk")))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    ids = docs.select(F.col(id_col).alias("id"))
    clean_text = F.coalesce(F.col("clean_text"), F.lit(""))  # zero-chunk docs
    cols = [
        F.col("id").alias(id_col),
        F.coalesce(F.col("n_chunks"), F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
        F.md5(F.encode(clean_text, "UTF-8")).alias("clean_hash"),
    ]
    if emit_text:
        cols.append(clean_text.alias("clean_text"))
    return ids.join(agg, "id", "left").select(*cols)


def chunk_clean(
    docs: DataFrame,
    *,
    id_col: str = "url",
    text_col: str = "text",
    words_per_chunk: int = 8,
    boiler_doc_threshold: int = 2,
) -> DataFrame:
    """Pipeline form of :func:`chunk_dedup`: rewrite ``text_col`` to its
    chunk-deduped remainder and DROP documents that were pure boilerplate.

    Returns the input frame with the SAME schema (all other columns pass
    through untouched) — documents whose every chunk repeats corpus-wide
    (exact clones, pure site chrome) are removed entirely; the rest keep the
    surviving chunks in original order. The join back to the input is a
    single equi-join on ``id_col``, so the stage composes with the corpus
    pipeline's later quality/geocode stages without reshaping anything.

    Requires ``id_col`` values to be unique (the corpus pipeline runs this
    AFTER exact dedup, whose survivor rule guarantees url uniqueness).
    """
    cleaned = chunk_dedup(
        docs,
        id_col=id_col,
        text_col=text_col,
        words_per_chunk=words_per_chunk,
        boiler_doc_threshold=boiler_doc_threshold,
        emit_text=True,
    ).select(id_col, "n_chunks", "clean_text")
    # drop ONLY true boilerplate (had chunks, none survived); an empty /
    # whitespace-only doc has NO chunks, shares nothing with anything, and
    # passes through (text rewritten to '') to reach the same downstream
    # quality gate it reaches with this stage disabled
    keep = (F.col("clean_text") != "") | (F.col("n_chunks") == 0)
    out = (
        docs.drop(text_col)
        .join(cleaned.filter(keep).drop("n_chunks"), id_col)
        .withColumnRenamed("clean_text", text_col)
    )
    return out.select(*docs.columns)  # original column order preserved


# ---------------------------------------------------------------------------
# train/test decontamination (benchmark n-gram overlap)
# ---------------------------------------------------------------------------

def word_tokens(text_col: Column) -> Column:
    """ARRAY<STRING> of the ``\\s+``-separated tokens of the trimmed text
    (empty tokens filtered, so whitespace-only docs yield an empty array)."""
    return F.filter(F.split(F.trim(text_col), r"\s+"), lambda x: x != F.lit(""))


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_words: int = 8,
) -> DataFrame:
    """Train/test decontamination: per-corpus-document overlap with a
    benchmark set's word n-grams (the GPT-3/Gopher-style 13-gram scan —
    Brown et al. 2020 §C; 8 words here to fit the fixture corpus's short
    docs). A training document sharing n-grams with an eval benchmark leaks
    the benchmark into training; pipelines drop or redact documents whose
    ``contam_frac`` exceeds a threshold.

    Returns one row per corpus document: ``(id, n_grams, n_contaminated,
    contam_frac)`` — n_contaminated counts the doc's gram OCCURRENCES found
    anywhere in the benchmark, contam_frac their fraction (NULL for docs
    shorter than one gram).

    Shape at scale: benchmark suites are small (thousands of docs) while the
    corpus is the 100-TB side — the benchmark's distinct gram hashes BROADCAST
    and the probe is a broadcast LEFT SEMI join on the corpus's exploded
    grams: zero shuffle of corpus data beyond the final per-doc groupBy,
    which co-partitions with the explode. No Python anywhere.
    """
    # Explode gram POSITIONS and hash AFTER the explode — never explode a
    # materialized HOF-built gram array: codegen re-derives a generator's
    # non-attribute child at every consumer, re-running the whole gram-lambda
    # chain ~an order of magnitude more than once (measured: this query went
    # 6.5 s → 0.6 s at sf0.1 from this restructure; _minhash_signatures
    # documents the same pathology for shingles). sequence(1, 0) counts DOWN
    # (the char_shingles trap) — gate on the gram count.
    n = ngram_words
    n_grams = F.size("words") - (n - 1)
    positions = F.when(n_grams > 0, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    gram_md5 = F.md5(
        F.encode(F.array_join(F.slice(F.col("words"), F.col("i"), n), " "), "UTF-8")
    )
    wdf = corpus.select(
        F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("words")
    )
    bench = (
        benchmark.select(word_tokens(F.col(text_col)).alias("words"))
        .select(F.explode(positions).alias("i"), "words")
        .select(gram_md5.alias("g"))
        .distinct()
    )
    exploded = wdf.select("id", F.explode(positions).alias("i"), "words").select(
        "id", gram_md5.alias("g")
    )
    hits = (
        exploded.join(F.broadcast(bench), "g", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = wdf.select(
        "id", F.greatest(n_grams, F.lit(0)).cast("long").alias("n_grams")
    )
    return totals.join(hits, "id", "left").select(
        F.col("id").alias(id_col),
        "n_grams",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias(
            "n_contaminated"
        ),
        F.when(
            F.col("n_grams") > 0,
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_grams"), 6
            ),
        ).alias("contam_frac"),
    )
