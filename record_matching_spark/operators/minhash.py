"""MinHash signatures as a vectorized Arrow/pandas UDF.

Replaces the reference's GPU ANN beam-graph blocking
(/root/reference/record_matching/main.py:175-191) and Qdrant HNSW
(/root/reference/claude_poc_v2/vector_enhanced_entity_resolution_v2.py:153-163)
with the standard MinHash-LSH construction: k seeded universal-hash
permutations over the token set; signature[i] = min over tokens of
(a_i * h(token) + b_i mod p). Matching probability per hash equals the
Jaccard similarity of the token sets (Broder 1997), so banding the
signature gives a tunable similarity join — no ANN service, no GPU.

The permutation table is a pure function of (num_hashes, seed), so
signatures are deterministic at any parallelism — required for the
local[8] == local[32] byte-identical-clusters guarantee.

Spark-side token hashing (xxhash64) stays in the JVM; only the k-way min
runs in numpy, Arrow-batched — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# 31-bit Mersenne prime: with token hashes masked to 31 bits and a, b < p,
# a*h + b < 2^62 — no uint64 wrap before the mod-p reduction, so
# (a*h + b) mod p is a genuine universal family on the 31-bit token domain
# (the round-1 61-bit variant silently wrapped mod 2^64 first; ADVICE fix).
# A 31-bit token-hash collision inside one document's ~100-token set has
# probability ~n²/2³² ≈ 2e-6 and merely perturbs one signature position.
_MERSENNE_P = (1 << 31) - 1
_HASH_MASK = (1 << 31) - 1


def _perm_table(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE_P, size=num_hashes, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE_P, size=num_hashes, dtype=np.uint64)
    return a, b


def token_hashes(tokens: Column) -> Column:
    """The xxhash64 of each distinct token: the set a signature is taken
    over."""
    return F.transform(F.array_distinct(tokens), lambda t: F.xxhash64(t))


def _signature(hashes: Column, uniq: Column, num_hashes: int, seed: int) -> Column:
    """The MinHash signature (array<long>) of a token-hash set. Repeated
    hashes do not change a minimum, so the set need not be distinct."""
    a_tab, b_tab = _perm_table(num_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_udf(token_hashes: pd.Series, uniq: pd.Series) -> pd.Series:
        a = a_tab[:, None]
        b = b_tab[:, None]
        out = []
        for arr, u in zip(token_hashes, uniq):
            if arr is None or len(arr) == 0:
                # EVERY position derives from the per-row uniq hash (splitmix
                # step per index): a sentinel that uniquified only position 0
                # left bands 1..n-1 as identical slices across all empty
                # docs, so they still shared n-1 LSH block keys (ADVICE r2
                # medium). With all positions unique, no band slice can match
                # across two different empty docs.
                idx = np.arange(1, num_hashes + 1, dtype=np.uint64)
                s = np.uint64(u) + idx * np.uint64(0x9E3779B97F4A7C15)
                s = (s ^ (s >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                s = (s ^ (s >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                out.append((s ^ (s >> np.uint64(31))).astype(np.int64))
                continue
            h = (
                np.asarray(arr, dtype=np.int64).astype(np.uint64)[None, :]
                & np.uint64(_HASH_MASK)
            )
            # (k, n) universal hash; min over tokens → (k,)
            vals = (a * h + b) % _MERSENNE_P
            sig = vals.min(axis=1).astype(np.int64)
            out.append(sig)
        return pd.Series(out)

    return minhash_udf(hashes, uniq)


def with_minhash_signature(
    df: DataFrame,
    tokens_col: str = "tokens",
    out_col: str = "minhash",
    num_hashes: int = 128,
    seed: int = 1,
    uniq_col: str | None = None,
) -> DataFrame:
    """Append `out_col: array<long>` — the MinHash signature of the distinct
    tokens in `tokens_col`.

    Empty token sets get a per-row UNIQUE sentinel signature with EVERY
    position derived from xxhash64(uniq_col) via a splitmix step, so no
    band slice — hence no LSH block key — can match across two different
    empty-token documents (round-2 uniquified only position 0, leaving
    bands 1..n-1 shared; ADVICE r2 medium). Identical-content pairs are
    still caught by the content-sha blocking key. Without `uniq_col` all
    empty docs share one fixed sentinel (callers that pre-filter empty
    docs)."""
    uniq = (
        F.xxhash64(F.lit("mh-empty"), F.col(uniq_col))
        if uniq_col is not None
        else F.lit(-1).cast("long")
    )
    return df.withColumn(out_col, _signature(
        token_hashes(F.col(tokens_col)), uniq, num_hashes, seed))


def minhash_bands_of_hashes(
    df: DataFrame,
    id_col: str,
    hashes_col: str,
    num_bands: int = 32,
    rows_per_band: int = 4,
    seed: int = 1,
    keep_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """`minhash_bands` of a column that already holds each row's xxhash64
    token hashes (the verify payload's `_t`), so a caller that hashes its
    tokens once for verification bands the same hashes instead of
    tokenizing again. The bands are bit-identical to `minhash_bands` of the
    tokens."""
    uniq = F.xxhash64(F.lit("mh-empty"), F.col(id_col))
    sig = _signature(F.col(hashes_col), uniq, num_bands * rows_per_band, seed)
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda i: F.xxhash64(
            F.lit("mh"),
            i,
            F.concat_ws(
                "_",
                F.transform(
                    F.slice(F.col("_sig"), i * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            ),
        ),
    )
    keep = [F.col(c) for c in keep_cols]
    return df.select(F.col(id_col), *keep, sig.alias("_sig")).select(
        F.col(id_col), *keep, F.explode(bands).alias("block_key"),
    )


def minhash_bands(
    df: DataFrame,
    id_col: str = "file_id",
    tokens_col: str = "tokens",
    num_bands: int = 32,
    rows_per_band: int = 4,
    seed: int = 1,
) -> DataFrame:
    """(id, block_key) LSH band rows of the MinHash signature of
    `tokens_col`. The band layout is the only signature parameter: the
    signature has exactly num_bands × rows_per_band hashes, so every band
    slice is full (a shorter signature would leave the trailing bands as
    one empty slice shared by every document). Empty token sets get unique
    sentinel signatures keyed by `id_col`, so they never share a band.

    block_key = xxhash64('mh', band_idx, band slice) — a compact int64 so
    the downstream self-join and pair-dedup shuffle 8-byte keys instead of
    strings (a cross-namespace or cross-band hash collision merely merges
    two blocks: candidates are verified/scored downstream, so a ~2⁻⁶⁴
    collision costs a few extra candidate pairs, never correctness).
    Two records share a band key iff their signatures agree on all
    `rows_per_band` positions of that band: P(share ≥1 band) = 1-(1-J^r)^b.
    """
    return minhash_bands_of_hashes(
        df.withColumn("_th", token_hashes(F.col(tokens_col))), id_col, "_th",
        num_bands, rows_per_band, seed,
    )
