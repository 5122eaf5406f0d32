"""Text-analysis operators for large-scale training-data pipelines.

Pure Catalyst expressions (JVM-side, whole-stage-codegen'd) where the
semantics allow — each of those has an exact ANSI-SQL twin in
__spark_entry__.oracle_sql (DuckDB-checked). The winnowing fingerprints at
the bottom are the one Arrow-batched exception: a rolling hash is not
SQL-expressible, so they run as a pandas UDF whose inner loops are fully
numpy-vectorized over the character dimension.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from record_matching_spark import session

# tiny deterministic stopword marker sets per language (heuristic lang-id)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "de", "una"],
}

_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def token_count(col: Column) -> Column:
    """Whitespace token count (long)."""
    return F.size(F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0)).cast("long")


def _count_pattern(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("long")


# GPT-2-style pretokenizer, restricted to the Java-regex/RE2-agreeing
# subset (no lookahead — the original's `\s+(?!\S)` whitespace split is
# dropped, so trailing whitespace folds into one token; contraction
# suffixes, letter runs, digit runs, punct runs with their leading-space
# convention are intact). Token COUNTS from this pattern track BPE
# pretokenization far better than whitespace counts on code/punctuated
# text — the cheap n_tokens estimator a token-budget pipeline runs before
# it can afford a real tokenizer pass.
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
)


def token_count_bpe(col: Column) -> Column:
    """BPE-pretokenizer token count (long): matches of
    BPE_PRETOKEN_PATTERN, the GPT-2 pretokenize rule in the RE2-safe
    subset — pure Catalyst, SQL-oracle-able (q54). Counts only; the
    pieces themselves come from the same regexp_extract_all if a caller
    wants them."""
    return F.size(
        F.regexp_extract_all(col, F.lit(BPE_PRETOKEN_PATTERN), 0)
    ).cast("long")


def quality_score(col: Column) -> Column:
    """Deterministic doc-quality heuristic in [0,1]:
    0.4·stopword-ratio-score + 0.3·alpha-ratio + 0.3·length-score.
    The length/punct/stopword-ratio family of filters used by public
    training-data pipelines (C4/Gopher-style rules), kept exactly
    SQL-expressible so DuckDB can oracle it."""
    n_tok = token_count(col)
    n_stop = _count_pattern(
        F.lower(col), r"\b(" + "|".join(_STOPWORDS) + r")\b"
    )
    stop_ratio = n_stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    alpha_ratio = (
        _count_pattern(col, r"[A-Za-z]").cast("double")
        / F.greatest(F.length(col), F.lit(1)).cast("double")
    )
    len_score = F.least(F.length(col).cast("double") / F.lit(500.0), F.lit(1.0))
    return (
        F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.4
        + alpha_ratio * 0.3
        + len_score * 0.3
    )


def language_id(col: Column) -> Column:
    """Marker-word language guess over a closed set (en/de/fr/es), 'und' if
    no markers hit. Deterministic ties broken by fixed language order."""
    lowered = F.lower(col)
    counts = [
        (_count_pattern(lowered, r"\b(" + "|".join(words) + r")\b"), lang)
        for lang, words in _LANG_MARKERS.items()
    ]
    best = F.lit("und")
    best_n = F.lit(0).cast("long")
    # iterate in fixed order; strict > keeps the first language on ties
    for n, lang in counts:
        is_better = n > best_n
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_n = F.when(is_better, n).otherwise(best_n)
    return best


# PII patterns, applied IN ORDER (each counted on the text as scrubbed by
# the previous ones, so counts equal replacements made). Kept inside the
# regex subset where Java regex (Spark) and RE2 (DuckDB) agree: character
# classes, bounded repetition, \b, non-capturing groups; the phone pattern
# is dash-separated ONLY so it can never overlap an IPv4 dotted quad
# (leftmost-longest RE2 vs backtracking-Java would disagree on such
# overlaps — this keeps the DuckDB oracle exact).
_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing (the C4/Dolma-style masking pass a training-data
    pipeline runs before anything else): emails, IPv4 addresses, and
    dash-separated phone numbers replaced with typed placeholders, with a
    per-document count of each. Pure Catalyst (regexp_replace /
    regexp_extract_all — whole-stage codegen, no UDF), one map-only scan:
    the 100-TB shape is a linear pass with zero shuffles.

    Output: (<id_col>, clean_text, n_emails, n_ipv4, n_phones). Counts are
    sequential — each pattern is counted on the text already scrubbed by
    the preceding patterns, so every count equals the number of
    replacements actually made (an IP inside an email is scrubbed as part
    of the email, not double-counted). The reference has no PII handling;
    analog: the normalize/templating stage it does run first
    (/root/reference/record_matching/main.py:69-88)."""
    cur = F.col(text_col)
    counts = []
    for name, pat, rep in _PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}s" if not name.endswith("4") else f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, rep)
    return df.select(
        F.col(id_col), cur.alias("clean_text"), *counts
    )


# Applied in order; every pattern stays inside the Java-regex/RE2-agreeing
# subset ((?is) inline flags, non-greedy .*?, character classes) so the
# DuckDB oracle is exact. script/style go first WITH their contents (their
# text is not prose); then comments, then remaining tags; entities decode
# after tag removal, &amp; strictly last (it is the escape of the escape).
_HTML_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
]


def strip_html(col: Column) -> Column:
    """HTML → prose text (the C4-style extraction step a web-crawl
    training pipeline runs first): drops <script>/<style> blocks with
    their contents, comments, and all remaining tags; decodes the common
    entities; collapses whitespace runs to single spaces and trims. Pure
    Catalyst regexp chain — whole-stage codegen, one map-only scan, zero
    shuffles at any corpus size. Deliberately regex-based (no DOM): at
    100 TB the pipeline wants a linear scan with bounded memory, and
    boilerplate/quality filtering downstream (q15/q40) absorbs the
    residual noise a parser would have caught. The reference has no HTML
    handling; analog: its normalize/templating first stage
    (/root/reference/record_matching/main.py:69-88)."""
    cur = col
    for pat, rep in _HTML_STEPS:
        cur = F.regexp_replace(cur, pat, rep)
    return F.trim(F.regexp_replace(cur, r"\s+", " "))


def doc_fingerprint(col: Column, shingle: int = 8) -> Column:
    """Single-min document fingerprint: min xxhash64 over all
    `shingle`-char substrings (rolling-hash analog, fully Catalyst — and
    therefore DuckDB-oracle-able, q17). Equal fingerprints ⇒ likely shared
    content region.

    SCALE NOTE: the Catalyst transform materializes one substring + hash
    per character, so a 1 MB document transiently allocates ~1M short
    strings inside the expression — fine for KB-scale rows, wrong for MB
    docs. For large documents use `winnow_fingerprints` below: O(len)
    numpy rolling hash, output ~2·len/w values instead of len."""
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(col) - F.lit(shingle - 1), F.lit(1))
    )
    hashes = F.transform(starts, lambda i: F.xxhash64(F.substring(col, i, shingle)))
    return F.array_min(hashes)


# --------------------------------------------------- winnowing fingerprints
#
# Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting" (SIGMOD 2003) — the MOSS algorithm. k-gram rolling hash,
# sliding window of w hashes, keep each window's minimum. GUARANTEE: any
# substring shared between two documents of length ≥ w + k - 1 contributes
# at least one common fingerprint, while the expected fingerprint density
# is only 2/(w+1) — the scale answer to q17's all-hashes-per-char shape.

_WINNOW_BASE = np.uint64(0x100000001B3)      # FNV-ish odd multiplier
_WINNOW_MIX = np.uint64(0xFF51AFD7ED558CCD)  # murmur3 finalizer constant


def _winnow_one(data: bytes, k: int, w: int) -> np.ndarray:
    """Sorted distinct winnowing fingerprints of one byte string. All
    character-dimension work is vectorized numpy; uint64 wraparound is the
    modulus. Sliding-window min via the van Herk/Gil-Werman two-pass
    prefix/suffix trick — O(n), not O(n·w)."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n < k:  # shorter than one k-gram: hash the whole string
        h = np.zeros(1, dtype=np.uint64)
        for j in range(n):
            h = h * _WINNOW_BASE + b[j : j + 1]
    else:
        # polynomial k-gram hash: h[i] = Σ_j b[i+j]·BASE^(k-1-j), built with
        # k vectorized shift-multiply-adds (no per-position Python)
        h = np.zeros(n - k + 1, dtype=np.uint64)
        for j in range(k):
            h = h * _WINNOW_BASE + b[j : n - k + 1 + j]
    # murmur-style avalanche so window minima are uniform
    h ^= h >> np.uint64(33)
    h *= _WINNOW_MIX
    h ^= h >> np.uint64(29)
    m = len(h)
    if m <= w:
        sel = h.min(keepdims=True)
    else:
        pad = (-m) % w
        hp = np.concatenate(
            [h, np.full(pad, 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)]
        )
        blocks = hp.reshape(-1, w)
        fwd = np.minimum.accumulate(blocks, axis=1).ravel()
        bwd = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
        # window [i, i+w-1]: suffix-min of i's block ∧ prefix-min of (i+w-1)'s
        sel = np.minimum(bwd[: m - w + 1], fwd[w - 1 : m])
    return np.unique(sel).view(np.int64)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "content",
    k: int = 8,
    w: int = 64,
    out_col: str = "winnow_fps",
    portable: bool = False,
) -> DataFrame:
    """Add `out_col`: array<long> of distinct winnowing fingerprints.

    Arrow-batched pandas UDF; the per-row Python iteration is over DOCS in
    the batch, with every O(len) character pass vectorized in numpy (unlike
    the ANN bucket UDFs, rows here are variable-length so there is no
    rectangular batch matmul to hoist). Memory per row is O(len) transient
    uint64 + ~2·len/w output — MB documents are fine, and only the small
    fingerprint arrays shuffle downstream.

    portable=True swaps the numpy byte-level rolling hash for a pure-Catalyst
    CHARACTER k-gram hash (md5 first-15-hex → 60-bit int, the
    hash_split(portable=True) idiom) with O(m·w) explicit window minima —
    exactly reproducible in any engine with md5 + window functions, which is
    what the q36 DuckDB oracle does. The selected-minima SET is identical to
    winnowing's (window min per position, distinct), but portable mode
    inherits q17's per-character substring allocation: it is the
    VERIFICATION mode for KB-scale rows, not the MB-document scale path."""
    if portable:
        c = F.col(text_col)
        starts = F.sequence(
            F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
        )
        hashed = F.transform(
            starts,
            lambda i: F.conv(
                F.substring(F.md5(F.substring(c, i, k)), 1, 15), 16, 10
            ).cast("long"),
        )
        tmp = df.withColumn("_wh", hashed)
        m = F.size("_wh")
        wins = F.when(m <= F.lit(w), F.array(F.array_min("_wh"))).otherwise(
            F.transform(
                F.sequence(F.lit(w), m),
                lambda j: F.array_min(F.slice(F.col("_wh"), j - F.lit(w - 1), w)),
            )
        )
        return tmp.withColumn(
            out_col, F.array_sort(F.array_distinct(wins))
        ).drop("_wh")

    @pandas_udf(ArrayType(LongType()))
    def _fps(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _winnow_one(
                    (t or "").encode("utf-8", "surrogatepass"), k, w
                ).tolist()
                for t in texts
            ]
        )

    return df.withColumn(out_col, _fps(F.col(text_col)))


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 8,
    w: int = 64,
    min_shared: int = 2,
    max_df: int = 200,
    portable: bool = False,
) -> DataFrame:
    """MOSS-style shared-content pairs: docs that share ≥ `min_shared`
    winnowing fingerprints, with the shared count. The scale shape is an
    inverted index (explode → join on fingerprint), NOT all-pairs:

    - `max_df` drops fingerprints appearing in more than that many docs
      (boilerplate/license headers) BEFORE the self-join — the same
      fan-out bound as blocking's salt cap, computed with a window over
      `fp` whose hash exchange the join then reuses (one shuffle, not two);
    - output pairs are canonical left < right.

    portable=True builds the inverted index in long form — posexplode the
    md5 k-gram hashes, then a JVM running-min window (ROWS w-1 PRECEDING)
    per doc — one ordered scan instead of winnow_fingerprints' O(m·w)
    array slices, and literally the same query the DuckDB q36 oracle runs.
    """
    if portable:
        c = F.col(text_col)
        starts = F.sequence(
            F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
        )
        hashed = F.transform(
            starts,
            lambda i: F.conv(
                F.substring(F.md5(F.substring(c, i, k)), 1, 15), 16, 10
            ).cast("long"),
        )
        pos = df.select(
            F.col(id_col).alias("_id"), F.posexplode(hashed).alias("p", "h")
        )
        wspec = Window.partitionBy("_id").orderBy("p")
        win = pos.select(
            "_id",
            F.min("h").over(wspec.rowsBetween(-(w - 1), 0)).alias("fp"),
            F.col("p").alias("p"),
            F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_m"),
        )
        # full windows only, plus the final (min-of-all) row for short docs
        inv = (
            win.filter((F.col("p") >= w - 1) | (F.col("p") == F.col("_m") - 1))
            .select("_id", "fp")
            .distinct()
        )
    else:
        inv = (
            winnow_fingerprints(df, text_col=text_col, k=k, w=w)
            .select(F.col(id_col).alias("_id"), F.explode("winnow_fps").alias("fp"))
            .distinct()
        )
    inv = inv.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).filter(F.col("_df") <= max_df)
    a = inv.select("fp", F.col("_id").alias("left"))
    b = inv.select("fp", F.col("_id").alias("right"))
    return (
        a.join(b, "fp")
        .filter(F.col("left") < F.col("right"))
        .groupBy("left", "right")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def _winnow_one_pos(data: bytes, k: int, w: int) -> tuple:
    """Like `_winnow_one` but also returns, per DISTINCT fingerprint, the
    min and max WINDOW-END index at which it was selected (0-based over
    k-gram positions) — the span evidence for MOSS-style alignment."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    empty = (np.empty(0, np.int64),) * 3
    if n == 0:
        return empty
    if n < k:
        h = np.zeros(1, dtype=np.uint64)
        for j in range(n):
            h = h * _WINNOW_BASE + b[j : j + 1]
    else:
        h = np.zeros(n - k + 1, dtype=np.uint64)
        for j in range(k):
            h = h * _WINNOW_BASE + b[j : n - k + 1 + j]
    h ^= h >> np.uint64(33)
    h *= _WINNOW_MIX
    h ^= h >> np.uint64(29)
    m = len(h)
    if m <= w:
        sel = h.min(keepdims=True)
        pos = np.array([m - 1], dtype=np.int64)
    else:
        pad = (-m) % w
        hp = np.concatenate([h, np.full(pad, 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)])
        blocks = hp.reshape(-1, w)
        fwd = np.minimum.accumulate(blocks, axis=1).ravel()
        bwd = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
        sel = np.minimum(bwd[: m - w + 1], fwd[w - 1 : m])
        pos = np.arange(m - w + 1, dtype=np.int64) + (w - 1)
    sv = sel.view(np.int64)
    vals, first = np.unique(sv, return_index=True)       # pos ascending ⇒
    minp = pos[first]                                    # first = min pos
    _, last = np.unique(sv[::-1], return_index=True)
    maxp = pos[len(sv) - 1 - last]
    return vals, minp, maxp


def winnow_position_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 8,
    w: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Positional winnowing inverted index: one row per (doc, DISTINCT
    fingerprint) with the min/max window-end k-gram index at which it was
    selected — (_id, fp, minp, maxp). Shared by winnow_span_pairs (the
    MOSS alignment join) and excise_contaminated_spans (surgical
    decontamination). portable=True = the md5 k-gram + running-window-min
    construction the DuckDB oracles replay; default = the O(len) numpy
    rolling-hash pass."""
    if portable:
        c = F.col(text_col)
        starts = F.sequence(
            F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))
        )
        hashed = F.transform(
            starts,
            lambda i: F.conv(
                F.substring(F.md5(F.substring(c, i, k)), 1, 15), 16, 10
            ).cast("long"),
        )
        pos = df.select(
            F.col(id_col).alias("_id"), F.posexplode(hashed).alias("p", "h")
        )
        wspec = Window.partitionBy("_id").orderBy("p")
        win = pos.select(
            "_id",
            F.min("h").over(wspec.rowsBetween(-(w - 1), 0)).alias("fp"),
            "p",
            F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_m"),
        ).filter((F.col("p") >= w - 1) | (F.col("p") == F.col("_m") - 1))
        # long spans for schema parity with the numpy path (and the oracle)
        inv = win.groupBy("_id", "fp").agg(
            F.min("p").cast("long").alias("minp"),
            F.max("p").cast("long").alias("maxp"),
        )
    else:

        @pandas_udf(ArrayType(StructType([
            StructField("fp", LongType()),
            StructField("minp", LongType()),
            StructField("maxp", LongType()),
        ])))
        def _fps_pos(texts: pd.Series) -> pd.Series:
            rows = []
            for t in texts:
                vals, minp, maxp = _winnow_one_pos(
                    (t or "").encode("utf-8", "surrogatepass"), k, w
                )
                rows.append(
                    [
                        {"fp": int(v), "minp": int(a), "maxp": int(b)}
                        for v, a, b in zip(vals, minp, maxp)
                    ]
                )
            return pd.Series(rows)

        inv = (
            df.select(
                F.col(id_col).alias("_id"),
                F.explode(_fps_pos(F.col(text_col))).alias("s"),
            )
            .select("_id", "s.fp", "s.minp", "s.maxp")
        )
    return inv


def winnow_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 8,
    w: int = 64,
    min_shared: int = 2,
    max_df: int = 200,
    portable: bool = False,
) -> DataFrame:
    """MOSS-style shared-content pairs WITH span evidence: besides the
    shared-fingerprint count, report per side the k-gram position range
    the shared fingerprints cover — (left, right, shared_fps, l_start,
    l_end, r_start, r_end), where positions are 0-based window-end k-gram
    indices (char span ≈ [start, end + k - 1]). This is the alignment
    half of MOSS (SIGMOD'03 §4: matched fingerprints are reported with
    positions so reviewers can see WHERE documents overlap), which
    winnow_overlap_pairs discards.

    Scale shape identical to winnow_overlap_pairs: inverted index over
    (id, fp, minp, maxp), max_df boilerplate cap before the self-join,
    canonical left < right. portable=True (md5 k-gram hashes + running
    window min, one ordered JVM scan) is the DuckDB-oracle-able mode
    (q37); the default numpy rolling-hash path tracks selection positions
    inside the same O(len) pass."""
    inv = winnow_position_index(
        df, id_col=id_col, text_col=text_col, k=k, w=w, portable=portable
    )
    inv = inv.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).filter(F.col("_df") <= max_df)
    a = inv.select(
        "fp", F.col("_id").alias("left"),
        F.col("minp").alias("_lmin"), F.col("maxp").alias("_lmax"),
    )
    b = inv.select(
        "fp", F.col("_id").alias("right"),
        F.col("minp").alias("_rmin"), F.col("maxp").alias("_rmax"),
    )
    return (
        a.join(b, "fp")
        .filter(F.col("left") < F.col("right"))
        .groupBy("left", "right")
        .agg(
            F.count(F.lit(1)).alias("shared_fps"),
            F.min("_lmin").alias("l_start"),
            F.max("_lmax").alias("l_end"),
            F.min("_rmin").alias("r_start"),
            F.max("_rmax").alias("r_end"),
        )
        .filter(F.col("shared_fps") >= min_shared)
    )


def _excise_spans(
    docs: DataFrame,
    hits: DataFrame,
    id_col: str,
    keep_text: bool,
) -> DataFrame:
    """Shared span-excision tail for excise_contaminated_spans and
    self_dedup_spans: given docs (_id, _t, _len) and raw char intervals
    hits (_id, s, e), merge overlapping/adjacent intervals per doc
    (gaps-and-islands), rebuild each doc as the ordered concatenation of
    the complement segments, and emit (id_col, n_spans, removed_chars,
    clean_sha [, clean_text]); docs with no hits pass through
    byte-identical. All windows/aggregates partition by the doc id — one
    exchange, reused."""
    w_ord = Window.partitionBy("_id").orderBy("s", "e")
    prev_max = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        hits.withColumn(
            "_new",
            F.when(prev_max.isNull() | (F.col("s") > prev_max + 1), 1).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w_ord))
        .groupBy("_id", "_isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .join(docs.select("_id", "_len"), "_id")
        # a short doc (< k chars) hashes as one whole-text k-gram whose
        # nominal end k-1 can overrun the text — clamp to the real end
        .withColumn("e", F.least(F.col("e"), F.col("_len") - 1))
    )
    # complement segments: before each island, plus the tail after the last
    w_seg = Window.partitionBy("_id").orderBy("s")
    pre = merged.select(
        "_id",
        F.coalesce(F.lag("e").over(w_seg) + 1, F.lit(0)).alias("ks"),
        (F.col("s") - 1).alias("ke"),
    )
    tail = merged.groupBy("_id").agg(
        (F.max("e") + 1).alias("ks"), (F.max("_len") - 1).alias("ke")
    )
    segs = pre.unionByName(tail).filter(F.col("ks") <= F.col("ke"))
    rebuilt = (
        segs.join(docs.select("_id", "_t"), "_id")
        .groupBy("_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                "ks",
                                F.substring(
                                    F.col("_t"), F.col("ks") + 1,
                                    F.col("ke") - F.col("ks") + 1,
                                ).alias("seg"),
                            )
                        )
                    ),
                    lambda st: st["seg"],
                ),
            ).alias("_clean")
        )
    )
    stats = merged.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_chars"),
    )
    out = (
        docs.join(stats, "_id", "left")
        .join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).cast("long").alias(
                "removed_chars"
            ),
            F.when(
                F.col("n_spans").isNotNull(), F.coalesce("_clean", F.lit(""))
            ).otherwise(F.col("_t")).alias("clean_text"),
        )
        .withColumn("clean_sha", F.sha2("clean_text", 256))
    )
    cols = [id_col, "n_spans", "removed_chars", "clean_sha"]
    return out.select(*cols, "clean_text") if keep_text else out.select(*cols)


def excise_contaminated_spans(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 8,
    w: int = 64,
    portable: bool = False,
    keep_text: bool = False,
) -> DataFrame:
    """SURGICAL cross-corpus decontamination: instead of dropping a whole
    training document that shares content with a benchmark/probe document
    (cross_corpus_near_dup_pairs / q38), excise ONLY the contaminated
    character span(s) and keep the rest — the chunk-level dedup public
    pipelines apply when a long document quotes a benchmark item verbatim.

    Mechanics: winnowing position index on both sides (SIGMOD'03 — any
    shared substring of length >= w + k - 1 is guaranteed to share a
    selected fingerprint); every corpus fingerprint found in the probe SET
    marks the CONSERVATIVE char interval its selection windows cover,
    [minp - (w-1), maxp + k - 1] (window-end k-gram index p covers k-grams
    p-w+1..p, i.e. chars p-w+1..p+k-1); overlapping/adjacent intervals
    merge (gaps-and-islands over a per-doc window); the kept text is the
    ordered concatenation of the complement segments. Conservative by
    construction: everything the matched windows could have covered goes,
    so a guaranteed-detected overlap is guaranteed-removed; the price is
    up to w+k-2 extra chars clipped at each span boundary.

    Scale shape (the q38 contract): the probe fingerprint set is DISTINCT
    + broadcast — the corpus crosses ONE map-side hash join and never
    shuffles for candidate generation; the span merge windows and the
    rebuild agg all partition by the corpus doc id (one exchange, reused);
    probe-side work is proportional to the (small) probe corpus.

    Output: (id_col, n_spans, removed_chars, clean_sha) — plus clean_text
    when keep_text — one row per corpus doc; uncontaminated docs pass
    through byte-identical. Fully SQL-expressible in portable mode ->
    DuckDB oracle q41."""
    c_inv = winnow_position_index(
        corpus, id_col=id_col, text_col=text_col, k=k, w=w, portable=portable
    )
    p_fps = winnow_position_index(
        probe, id_col=id_col, text_col=text_col, k=k, w=w, portable=portable
    ).select("fp").distinct()
    docs = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
        F.length(text_col).alias("_len"),
    )
    hits = c_inv.join(F.broadcast(p_fps), "fp").select(
        "_id",
        F.greatest(F.col("minp") - F.lit(w - 1), F.lit(0)).alias("s"),
        (F.col("maxp") + F.lit(k - 1)).alias("e"),
    )
    return _excise_spans(docs, hits, id_col, keep_text)


def self_dedup_spans(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    k: int = 8,
    w: int = 64,
    portable: bool = False,
    keep_text: bool = False,
) -> DataFrame:
    """WITHIN-corpus exact-substring dedup, keep-first (the suffix-array
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", re-expressed in the winnowing-index shape the engine
    already uses for q36/q37/q41): any character span duplicated across
    documents is kept in the LOWEST-id document that contains it and
    excised from every other — license headers, quoted boilerplate, and
    copy-pasted passages survive exactly once in the corpus instead of
    per-copy.

    Mechanics: winnowing position index over the corpus (SIGMOD'03 — any
    shared substring of length >= w + k - 1 is guaranteed to share a
    selected fingerprint); per fingerprint held by >= 2 docs, the min doc
    id is the owner; every other holder marks the conservative char
    interval its selection windows cover, [minp-(w-1), maxp+k-1];
    intervals merge and the complement rebuilds via _excise_spans.
    Conservative the same way q41 is: a guaranteed-detected duplicate
    span is guaranteed-removed from every non-owner, at the price of up
    to w+k-2 extra chars per boundary — and, because the index keeps one
    (minp, maxp) row per DISTINCT fingerprint per doc, a non-owner doc
    containing the same duplicated fingerprint at two distant positions
    excises the whole enclosing range (acceptable: that text is itself
    repetitive; same documented semantics as excise_contaminated_spans).

    Scale shape: inverted index → one groupBy(fp) with map-side combine
    (min/count partials — hot boilerplate fps reduce before the
    exchange), one fp-keyed equi-join back (AQE handles residual skew),
    then all span work partitions by doc id. No all-pairs stage, no
    broadcast of anything corpus-sized, no driver collect. Reference has
    no substring dedup; nearest analog is whole-record dedup around
    /root/reference/record_matching/main.py:552-577.

    Output: (id_col, n_spans, removed_chars, clean_sha [, clean_text]);
    owner/unique docs pass through byte-identical with n_spans = 0.
    portable=True (md5 k-grams + running window min) is DuckDB-oracle-able
    → q43."""
    inv = winnow_position_index(
        corpus, id_col=id_col, text_col=text_col, k=k, w=w, portable=portable
    )
    owners = inv.groupBy("fp").agg(
        F.min("_id").alias("_owner"), F.count(F.lit(1)).alias("_ndocs")
    ).filter(F.col("_ndocs") >= 2)
    docs = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_t"),
        F.length(text_col).alias("_len"),
    )
    hits = (
        inv.join(owners, "fp")
        .filter(F.col("_id") != F.col("_owner"))
        .select(
            "_id",
            F.greatest(F.col("minp") - F.lit(w - 1), F.lit(0)).alias("s"),
            (F.col("maxp") + F.lit(k - 1)).alias("e"),
        )
    )
    return _excise_spans(docs, hits, id_col, keep_text)


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, Table A1 —
    the repetition rules public pipelines filter on), all pure Catalyst:

    - dup_line_frac: fraction of (space-trimmed, non-empty) lines whose
      content occurs >= 2 times within the document;
    - dup_line_char_frac: fraction of those lines' characters over all
      non-empty-line characters (duplicated-line occurrences count fully);
    - top_2gram: the document's most frequent whitespace-token 2-gram
      (ties -> lexicographically smallest; '' when < 2 tokens);
    - top_2gram_char_frac: occurrences x len(top_2gram) / len(text) — the
      fraction of the document the single most repeated 2-gram covers.

    Per-doc line statistics stay inside ONE hash aggregate over the
    exploded (doc, line) stream; the 2-gram winner is a groupBy + window
    row_number (both shuffles are on id_col and reuse its hash
    partitioning under AQE). No UDFs, fully SQL-expressible -> DuckDB
    oracle q40. Every input row appears in the output (docs with no
    content get 0.0 fractions)."""
    c = F.col(text_col)
    nonempty = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    line_stats = (
        df.select(F.col(id_col), F.explode(nonempty).alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            (
                F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0))
                / F.sum("cnt")
            ).alias("dup_line_frac"),
            (
                F.sum(
                    F.when(
                        F.col("cnt") >= 2, F.col("cnt") * F.length("line")
                    ).otherwise(0)
                )
                / F.greatest(F.sum(F.col("cnt") * F.length("line")), F.lit(1))
            ).alias("dup_line_char_frac"),
        )
    )
    toks = F.filter(F.split(c, r"\s+"), lambda t: F.length(t) > 0)
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    gram_w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    top_gram = (
        df.select(
            F.col(id_col), F.explode(grams).alias("gram"),
            F.length(c).alias("_tlen"),  # only the length rides the shuffle
        )
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"), F.first("_tlen").alias("_tlen"))
        .withColumn("rn", F.row_number().over(gram_w))
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("gram").alias("top_2gram"),
            (
                F.col("cnt") * F.length("gram")
                / F.greatest(F.col("_tlen"), F.lit(1))
            ).alias("top_2gram_char_frac"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(line_stats, id_col, "left")
        .join(top_gram, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias(
                "dup_line_char_frac"
            ),
            F.coalesce("top_2gram", F.lit("")).alias("top_2gram"),
            F.coalesce("top_2gram_char_frac", F.lit(0.0)).alias(
                "top_2gram_char_frac"
            ),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-self-trained unigram language-model score per document: the
    mean negative natural-log probability of the document's tokens under
    the corpus's own unigram distribution (the CCNet/Wikipedia-LM quality
    signal family — low = in-distribution fluent text, high = rare-token
    noise — trained distributively on the corpus itself, no external
    model, per the north rule).

    Scale shape: the exploded token stream is collapsed to per-(doc,
    token) counts FIRST (one shuffle on id_col+token), so the vocabulary
    join touches one row per distinct token per doc, not one per
    occurrence; the vocabulary itself (Zipf-small relative to any corpus)
    is re-aggregated from those counts and broadcast when its bytes fit
    session.BROADCAST_BUDGET_BYTES. The only driver-side values are one
    aggregate's scalars (total tokens, vocabulary rows and bytes). No
    UDFs; fully SQL-expressible -> DuckDB oracle q46.

    Output: (id_col, n_tokens, neg_logprob double) — one row per input
    row; tokenless docs get neg_logprob 0.0. Reference analog: the
    reference scores record similarity, not corpus fluency; this is part
    of the training-data-pipeline extension (SURVEY §2 extension table).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: F.length(t) > 0)
    doc_tok = (
        df.select(F.col(id_col), F.explode(toks).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = doc_tok.groupBy("tok").agg(F.sum("c").alias("cnt"))
    stats = vocab.agg(
        F.sum("cnt").alias("t"), F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("tok")).alias("b"),
    ).collect()[0]
    total = stats["t"] or 0
    # a row is its key's bytes plus an 8-byte string header and value
    fits = 16 * stats["n"] + (stats["b"] or 0) <= session.BROADCAST_BUDGET_BYTES
    v = F.broadcast(vocab) if fits else vocab
    scored = (
        doc_tok.join(v, "tok")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            (
                F.sum(F.col("c") * -F.log(F.col("cnt") / F.lit(float(total))))
                / F.sum("c")
            ).alias("neg_logprob"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("neg_logprob", F.lit(0.0)).alias("neg_logprob"),
        )
    )


def extract_normalized_urls(col: Column) -> Column:
    """Array of normalized http(s) URLs found in a text column — the
    extraction+canonicalization step URL-level dedup and domain filters
    run on (C4 dedups exactly on normalized URL). Pure Catalyst regexp
    chain, applied IN ORDER, kept inside the Java-regex/RE2-agreeing
    subset (the q42/q45 discipline) so DuckDB can replay it:

    1. extract `https?://` runs (no trailing whitespace/quotes/brackets);
    2. trim trailing sentence punctuation ( .,;:!?) and `)`;
    3. drop the #fragment;
    4. drop utm_* tracking params, then tidy the leftover separators
       (`&&`→`&`, then `?&`→`?`, trailing `?`/`&` dropped);
    5. lowercase the scheme+host (path/query stay case-sensitive);
    6. drop a trailing `/`."""
    urls = F.regexp_extract_all(col, F.lit(r"""https?://[^\s<>"']+"""), 0)

    def norm(u: Column) -> Column:
        u = F.regexp_replace(u, r"[.,;:!?)]+$", "")
        u = F.regexp_replace(u, r"#.*$", "")
        u = F.regexp_replace(u, r"([?&])utm_[A-Za-z0-9_]+=[^&#]*", r"$1")
        u = F.regexp_replace(u, r"&&+", "&")
        u = F.regexp_replace(u, r"\?&", "?")
        u = F.regexp_replace(u, r"[?&]+$", "")
        host = F.lower(F.regexp_extract(u, r"^(https?://[^/?#]+)", 1))
        rest = F.regexp_replace(u, r"^https?://[^/?#]+", "")
        u = F.concat(host, rest)
        return F.regexp_replace(u, r"/$", "")

    return F.transform(urls, norm)


def url_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level dedup (the C4 recipe: one document per normalized URL,
    keep-first by lowest id): extract+normalize every doc's URLs, then
    per distinct URL the lowest-id doc holding it wins. One exploded
    distinct + one window keyed on the URL (the shuffle key is the
    8-byte-hashable URL string — web-scale cardinality but perfectly
    hash-partitionable). Output: (id_col, url, kept) — one row per
    distinct (doc, normalized url)."""
    ex = (
        df.select(
            F.col(id_col),
            F.explode(extract_normalized_urls(F.col(text_col))).alias("url"),
        )
        .distinct()
    )
    w = Window.partitionBy("url").orderBy(id_col)
    return ex.withColumn(
        "kept", F.row_number().over(w) == 1
    ).select(id_col, "url", "kept")


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
    smoothing: str = "addk",
    discount: float = 0.75,
) -> DataFrame:
    """Corpus-self-trained BIGRAM language-model score per document: mean
    negative log of the smoothed conditional p(w2|w1) over the doc's
    bigrams — the perplexity-style fluency signal one rung above
    unigram_logprob (repetitive/templated text scores LOW, shuffled-word
    noise scores HIGH even when its unigrams look fine). No external
    model, per the north rule.

    smoothing='addk' (q56): p = (c(w1 w2) + k) / (c(w1) + k·V).
    smoothing='kn' (q60): interpolated Kneser-Ney with absolute discount
    d — p = max(c(w1 w2) − d, 0)/c(w1) + (d·N1+(w1,·)/c(w1)) ·
    N1+(·,w2)/|bigram types| — the continuation-probability backoff that
    makes KN the standard n-gram smoother; all four count tables derive
    from the same bigram aggregate, no extra corpus scan.

    Scale shape mirrors unigram_logprob: the exploded bigram stream
    collapses to per-(doc, bigram) counts first, materialized once; the
    bigram and unigram count tables (Zipf-small) re-aggregate from those,
    and V and the bigram types join the model as one row, so no scalar
    comes to the driver. The model broadcasts when a bound on its bytes
    (the per-(doc, bigram) rows and their key bytes, observed on the
    action that materializes them) fits session.BROADCAST_BUDGET_BYTES.
    No UDFs; fully SQL-expressible -> DuckDB oracle q56.

    Output: (id_col, n_bigrams, neg_logprob double); docs with < 2
    tokens get 0.0."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: F.length(t) > 0)
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # materialized once: the model and the scoring join both read it, and
    # the bound the broadcast gate needs rides the same action
    obs = Observation("bigram_doc_counts")
    doc_bg = (
        df.select(F.col(id_col), F.explode(grams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .observe(obs, F.count(F.lit(1)).alias("rows"),
                 F.sum(F.octet_length("bg")).alias("bytes"))
        .localCheckpoint(eager=True)
    )
    bg_counts = doc_bg.groupBy("bg").agg(F.sum("c").alias("c_bg"))
    # unigram CONTEXT counts: occurrences of w1 as a bigram left side ==
    # token occurrences except each doc's last token; derive from the
    # bigram table itself so the two marginals are exactly consistent;
    # n1f = bigram types starting with w1
    ug_counts = (
        bg_counts.select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"), "c_bg"
        )
        .groupBy("w1")
        .agg(F.sum("c_bg").alias("c_w1"), F.count(F.lit(1)).alias("n1f"))
    )
    # V and the bigram types join the model as one row, so no scalar comes
    # to the driver; the replicated nested-loop join reads that row where
    # it was aggregated (a broadcast of it would run one more job)
    stats = ug_counts.agg(
        F.count(F.lit(1)).alias("v"), F.sum("n1f").alias("n_types")
    ).hint("shuffle_replicate_nl")
    bgm = bg_counts.withColumn(
        "w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    ).join(ug_counts, "w1").crossJoin(stats)
    if smoothing == "kn":
        d = float(discount)
        n1b = (
            bg_counts.withColumn(
                "w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
            )
            .groupBy("w2")
            .agg(F.count(F.lit(1)).alias("n1b"))
        )
        model = (
            bgm.withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
            .join(n1b, "w2")
            .select(
                "bg",
                (
                    F.greatest(F.col("c_bg") - F.lit(d), F.lit(0.0))
                    / F.col("c_w1")
                    + (F.lit(d) * F.col("n1f") / F.col("c_w1"))
                    * (F.col("n1b") / F.col("n_types").cast("double"))
                ).alias("p"),
            )
        )
    else:
        model = bgm.select(
            "bg",
            (
                (F.col("c_bg") + F.lit(float(add_k)))
                / (F.col("c_w1") + F.lit(float(add_k)) * F.col("v"))
            ).alias("p"),
        )
    # the (doc, bigram) rows bound the model's: it has at most that many
    # rows, each a key seen among them. No bound within the timeout → the
    # sort-merge join
    row = session.observed_row(obs)
    if row is not None and (
        16 * row["rows"] + (row["bytes"] or 0) <= session.BROADCAST_BUDGET_BYTES
    ):
        model = F.broadcast(model)
    # a doc's terms are summed in bigram order: a broadcast and a sort-merge
    # join hand them over in different orders, and a double sum follows it
    terms = F.array_sort(
        F.collect_list(F.struct("bg", (F.col("c") * -F.log("p")).alias("t")))
    )
    scored = (
        doc_bg.join(model, "bg")
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_bigrams"), terms.alias("terms"))
        .select(
            id_col,
            "n_bigrams",
            (
                F.aggregate("terms", F.lit(0.0), lambda acc, x: acc + x["t"])
                / F.col("n_bigrams")
            ).alias("neg_logprob"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("neg_logprob", F.lit(0.0)).alias("neg_logprob"),
        )
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 0,
    max_chars: int = 2_000_000_000,
    allowed_langs: list[str] | None = None,
    lang_col: str | None = None,
    min_quality: float = 0.0,
    max_dup_line_frac: float = 1.0,
    max_top_2gram_frac: float = 1.0,
) -> DataFrame:
    """The composed document-quality FILTER step (the C4/Gopher rule chain
    every public training pipeline runs), with per-rule accountability:
    each doc gets a verdict — the FIRST failing rule in a fixed order, or
    'pass' — so drop counts per rule are one groupBy away and a threshold
    change is auditable, instead of an opaque boolean.

    Rule order (first failure wins): too_short, too_long, lang_blocked,
    low_quality, repetitive_lines, repetitive_2gram. Language comes from
    `lang_col` when given (upstream metadata) or the engine's own
    language_id otherwise; `allowed_langs=None` disables the rule and an
    empty list blocks every language.

    Scale shape: the length/lang/quality rules are pure Catalyst in one
    map-only scan; the two repetition signals (Gopher rules) need a
    per-doc aggregate, so repetition_features is joined ONLY when one of
    their thresholds actually binds — a disabled rule costs nothing.
    Fully SQL-expressible -> DuckDB oracle q51.

    Output: (id_col, verdict, kept boolean), one row per input row."""
    c = F.col(text_col)
    lang = F.col(lang_col) if lang_col else language_id(c)
    need_rep = max_dup_line_frac < 1.0 or max_top_2gram_frac < 1.0
    base = df.select(F.col(id_col), c.alias("_t"), lang.alias("_lang"))
    if need_rep:
        rep = repetition_features(df, id_col=id_col, text_col=text_col)
        base = base.join(rep, id_col)
    else:
        base = base.withColumn("dup_line_frac", F.lit(0.0)).withColumn(
            "top_2gram_char_frac", F.lit(0.0)
        )
    t = F.col("_t")
    verdict = (
        F.when(F.length(t) < min_chars, "too_short")
        .when(F.length(t) > max_chars, "too_long")
        .when(
            ~F.col("_lang").isin(*allowed_langs)
            if allowed_langs is not None
            else F.lit(False),
            "lang_blocked",
        )
        .when(quality_score(t) < min_quality, "low_quality")
        .when(F.col("dup_line_frac") > max_dup_line_frac, "repetitive_lines")
        .when(
            F.col("top_2gram_char_frac") > max_top_2gram_frac,
            "repetitive_2gram",
        )
        .otherwise("pass")
    )
    return base.select(
        F.col(id_col),
        verdict.alias("verdict"),
        (verdict == "pass").alias("kept"),
    )


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(c))
        .withColumn("quality", quality_score(c))
        .withColumn("lang_guess", language_id(c))
        .withColumn("fingerprint", doc_fingerprint(c))
    )
