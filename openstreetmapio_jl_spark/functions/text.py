"""Text functions: reference-parity string ops + web-text analysis.

Reference-parity (exact I/O behavior, unit-tested like
``/root/reference/test/test_utils.jl:4-16``):

- :func:`decode_html_entities` — ONLY the 6 entities the reference decodes
  (``/root/reference/src/utils.jl:32-43``); Python's ``html.unescape`` decodes far
  more, so we implement the subset, in the same sequential-replace order.
- :func:`url_encode` — the reference's 15-character percent-encode
  (``/root/reference/src/utils.jl:7-24``), same replacement order.

New-engine web-text analysis (training-data-pipeline operators over ``documents`` /
``pages``): deterministic HTML text extraction, language ID, quality scoring, token
counting, fingerprinting. Each has a Column-expression form (JVM-side) where the
semantics allow; the Python forms are used by the fixture generator and tests so the
"byte-identical extracted text per url" invariant (BASELINE.json input_hint) is
checkable end-to-end.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# reference-parity scalar functions
# ---------------------------------------------------------------------------

_ENTITY_ORDER = [
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
]

_URL_ENCODE_ORDER = [
    (" ", "%20"),
    ("\n", "%0A"),
    ("\r", "%0D"),
    ("\t", "%09"),
    ("[", "%5B"),
    ("]", "%5D"),
    ("(", "%28"),
    (")", "%29"),
    (";", "%3B"),
    (",", "%2C"),
    ("=", "%3D"),
    ("&", "%26"),
    (">", "%3E"),
    ("<", "%3C"),
    (":", "%3A"),
]


def decode_html_entities(s: str) -> str:
    """Exact 6-entity subset, sequential replace (``src/utils.jl:32-43``)."""
    if "&" not in s:
        return s
    for ent, ch in _ENTITY_ORDER:
        s = s.replace(ent, ch)
    return s


def decode_html_entities_col(col: Column) -> Column:
    """Column form — chained literal replaces, JVM-side."""
    out = col
    for ent, ch in _ENTITY_ORDER:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def url_encode(s: str) -> str:
    """Reference's sequential 15-char percent-encode (``src/utils.jl:7-24``)."""
    for ch, rep in _URL_ENCODE_ORDER:
        s = s.replace(ch, rep)
    return s


def url_encode_col(col: Column) -> Column:
    out = col
    for ch, rep in _URL_ENCODE_ORDER:
        out = F.replace(out, F.lit(ch), F.lit(rep))
    return out


# ---------------------------------------------------------------------------
# deterministic HTML text extraction (pages.html → pages.text invariant)
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(r"(?s)<(script|style)[^>]*>.*?</\1>")
_RE_TAG = re.compile(r"<[^>]+>")
_RE_SPACE_NL = re.compile(r"[ \t]*\n[ \t]*")
_RE_NL = re.compile(r"\n+")
_RE_SP = re.compile(r"[ \t]+")


def extract_text(html: str) -> str:
    """Deterministic tag-strip extraction. Same pipeline as
    :func:`extract_text_col`; the two must agree byte-for-byte (tested)."""
    s = _RE_SCRIPT.sub("", html)
    s = _RE_TAG.sub("\n", s)
    s = decode_html_entities(s)
    s = _RE_SP.sub(" ", s)
    s = _RE_SPACE_NL.sub("\n", s)
    s = _RE_NL.sub("\n", s)
    return s.strip("\n ")


def extract_text_col(col: Column) -> Column:
    """JVM-side extraction over a STRING html column (cast BINARY with
    ``decode(col,'UTF-8')`` first). Keeps whole-stage codegen — no Python."""
    s = F.regexp_replace(col, r"(?s)<(script|style)[^>]*>.*?</\1>", "")
    s = F.regexp_replace(s, r"<[^>]+>", "\n")
    s = decode_html_entities_col(s)
    s = F.regexp_replace(s, r"[ \t]+", " ")
    s = F.regexp_replace(s, r"[ \t]*\n[ \t]*", "\n")
    s = F.regexp_replace(s, r"\n+", "\n")
    return _trim_nl(s)


def _trim_nl(s: Column) -> Column:
    # strip leading/trailing newlines+spaces without Python: regexp anchors
    s = F.regexp_replace(s, r"^[\n ]+", "")
    return F.regexp_replace(s, r"[\n ]+$", "")


# ---------------------------------------------------------------------------
# web-text analysis
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "für", "auf", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "pour", "que", "une"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "por", "con"],
}

_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)
# explicit ASCII classes: Java regex \w/\s are ASCII-only while Python's are
# Unicode — this pattern means the same thing in both engines
_TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\r\f\x0B]"
_TOKEN_RE = re.compile(_TOKEN_PATTERN)


def detect_lang(text: str) -> str:
    """Stopword-ratio language ID over {en,de,fr,es}; 'und' (undetermined) when no
    stopword hits. Deterministic tie-break by language code order."""
    words = [w.lower() for w in _WORD_RE.findall(text)]
    if not words:
        return "und"
    best_lang, best = "und", 0
    for lang in sorted(STOPWORDS):
        sw = set(STOPWORDS[lang])
        score = sum(1 for w in words if w in sw)
        if score > best:
            best, best_lang = score, lang
    return best_lang


def token_count(text: str) -> int:
    """BPE-ish regex token count: word runs + single punctuation marks."""
    return len(_TOKEN_RE.findall(text))


def token_count_col(col: Column) -> Column:
    # regexp_count is Spark 3.5+; counts the same pattern JVM-side
    return F.regexp_count(col, F.lit(_TOKEN_PATTERN))


def quality_score_col(col: Column) -> Column:
    """Heuristic document quality in [0,1]: alpha ratio, length band and
    punctuation ratio, rounded to 6 places."""
    n = F.length(col)
    alpha = F.length(F.regexp_replace(col, r"[^\p{L}]", "")) / n
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?]", "")) / n
    length_band = F.least(n / F.lit(1000.0), F.lit(1.0))
    raw = (
        F.lit(0.4) * alpha
        + F.lit(0.3) * length_band
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct * 10, F.lit(1.0)))
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(raw, 6))


def word_repetition_signals(docs):
    """→ (id, n_words, dup_word_frac, top_bigram, top_bigram_frac): the
    Gopher-style repetition quality signals a training-data pipeline filters
    on (Rae et al. 2021 §A1.1 "repetition removal" — fraction of duplicate
    units and fraction covered by the modal n-gram; word-level here, the
    fixture corpus being single-line):

    - ``dup_word_frac`` = 1 − |distinct words| / |words| — boilerplate and
      keyword-stuffed docs score high;
    - ``top_bigram_frac`` = occurrences of the most frequent word bigram over
      bigram slots (|words| − 1), ties broken lexicographically (determinism
      across engines — the oracle mirrors the same ordering).

    One row per input document, always: docs with fewer than two words have no
    bigrams, so ``top_bigram``/``top_bigram_frac`` are NULL for them (left
    join), never silently dropped — a quality gate that inner-joined these
    signals would otherwise delete single-word docs from the corpus. Words are
    the ``\\s+``-separated tokens of the TRIMMED text — consecutive/leading/
    trailing whitespace never fabricates empty-string "words" or " "-bigrams
    that would inflate ``n_words`` and distort both fractions; empty and
    whitespace-only docs get ``n_words = 0`` with NULL fractions.

    Shape at scale: one explode + two window/groupBy passes keyed by doc id —
    everything co-partitions on the same key, AQE folds the exchanges; all
    JVM-side (split/explode/lead/row_number), no Python."""
    from pyspark.sql import Window

    # \s+ on trimmed text yields empty tokens ONLY for the empty/whitespace-
    # only string (as [""]); the filter drops those rows and the left join
    # from the id base below restores such docs with n_words = 0
    w = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    per_doc = Window.partitionBy("id").orderBy("pos")
    bg = w.withColumn("nxt", F.lead("w").over(per_doc)).filter(
        F.col("nxt").isNotNull()
    ).select("id", F.concat_ws(" ", "w", "nxt").alias("bg"))
    bc = bg.groupBy("id", "bg").agg(F.count("*").alias("c"))
    top_w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("bg"))
    top = (
        bc.withColumn("rn", F.row_number().over(top_w))
        .filter(F.col("rn") == 1)
        .select("id", F.col("bg").alias("top_bigram"), "c")
    )
    ww = w.groupBy("id").agg(
        F.count("*").alias("n_words"),
        F.countDistinct("w").alias("n_distinct"),
    )
    base = docs.select(F.col("doc_id").alias("id"))
    return base.join(ww, "id", "left").join(top, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("n_words"), F.lit(0).cast("long")).alias("n_words"),
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        "top_bigram",
        F.round(F.col("c") / (F.col("n_words") - 1), 6).alias("top_bigram_frac"),
    )


# tracking-parameter keys a crawl-dedup canonicalizer strips (the CommonCrawl /
# SURT convention: analytics params never distinguish page CONTENT)
_TRACKING_KEY_RE = r"^(utm_.*|fbclid|gclid|msclkid|ref|ref_src)$"


def canonicalize_url(col: Column) -> Column:
    """Crawl-style URL canonicalization for content dedup, all JVM-side.

    Two raw URLs that canonicalize equal are treated as the same page by a
    crawl-dedup stage (the reference keys pages by raw url string —
    ``/root/reference/src/load_overpass.jl`` builds one canonical query URL per
    fetch; this extends that to the web-corpus side where the SAME page arrives
    under many surface forms). Steps, in order:

    1. trim; drop the ``#fragment`` (client-side only, never reaches the server);
    2. drop the scheme entirely — http/https serve the same content post-HSTS;
    3. hostname: lowercase (DNS is case-insensitive), strip one leading
       ``www.``, strip default ports ``:80``/``:443``;
    4. path: case-PRESERVED (paths are case-sensitive per RFC 3986), duplicate
       slashes collapsed, trailing slashes stripped (``/a/`` ≡ ``/a``);
    5. query: split on ``&``, drop empty params and tracking keys
       (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``, ``ref``, ``ref_src``),
       sort the survivors bytewise (param order is almost never semantic),
       rejoin; an emptied query drops its ``?``.

    Assumes a well-formed absolute URL with at most one ``?``. Every step is a
    builtin string/array function (whole-stage codegen, no Python), and every
    step is expressible in ANSI/DuckDB SQL so the operator is oracle-checkable.
    """
    u = F.split_part(F.trim(col), F.lit("#"), F.lit(1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    locpath = F.split_part(rest, F.lit("?"), F.lit(1))
    query = F.split_part(rest, F.lit("?"), F.lit(2))
    host = F.lower(F.split_part(locpath, F.lit("/"), F.lit(1)))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    path = F.regexp_extract(locpath, r"^[^/]*(/.*)?$", 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"/+$", "")
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit(""))
        & ~F.split_part(p, F.lit("="), F.lit(1)).rlike(_TRACKING_KEY_RE),
    )
    q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        host, path, F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit(""))
    )


# ---------------------------------------------------------------------------
# PII scrubbing — the privacy-redaction stage of a training-corpus pipeline
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9\-]{6,14}[0-9]"


def pii_counts_cols(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text — `regexp_extract_all` sizes,
    all-JVM. The patterns are deliberately conservative (clear-cut emails,
    international +prefix phone numbers): a corpus scrubber's job is the
    unambiguous bulk; aggressive heuristics belong in a reviewed layer
    above."""
    return (
        F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), F.lit(0))).cast("int"),
        F.size(F.regexp_extract_all(col, F.lit(PHONE_RE), F.lit(0))).cast("int"),
    )


def scrub_pii_col(col: Column) -> Column:
    """Text with emails → ``<EMAIL>`` and +international phone numbers →
    ``<PHONE>`` (all occurrences; email pass first so phone-like digit runs
    inside addresses are already gone). Pure ``regexp_replace`` — JVM-side,
    codegen, identical regex dialect in the DuckDB oracle."""
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def chunk_documents(
    docs: DataFrame,
    *,
    n_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size training chunks — the pack-into-
    context-windows stage of a training pipeline: whitespace tokens, chunks
    of ``n_tokens`` with ``overlap`` tokens of left context, stride
    ``n_tokens - overlap``; the final chunk keeps the tail (it may be
    shorter). Returns one row per chunk: ``(id, chunk_idx, chunk_text,
    chunk_tokens)``; documents with no tokens produce no rows.

    n_chunks = max(1, ceil((len - overlap) / stride)) — pure integer math,
    identical in any engine. The whole transform is one array expression
    (split → sequence → slice → concat_ws → posexplode): whole-stage
    codegen, no Python, no shuffle — chunking is embarrassingly row-local
    at any corpus size."""
    if n_tokens < 2 or not 0 <= overlap < n_tokens:
        raise ValueError(
            f"need n_tokens >= 2 and 0 <= overlap < n_tokens, "
            f"got {n_tokens}, {overlap}"
        )
    stride = n_tokens - overlap
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""
    )
    ln = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((ln - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, n_tokens),
    )
    return (
        docs.select(
            F.col("doc_id").alias("id"),
            F.posexplode(chunks).alias("chunk_idx", "ctoks"),
        )
        .filter(F.size("ctoks") > 0)
        .select(
            "id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.concat_ws(" ", "ctoks").alias("chunk_text"),
            F.size("ctoks").cast("int").alias("chunk_tokens"),
        )
    )
