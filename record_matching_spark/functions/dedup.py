"""Deduplication operators over a documents-shaped table.

The engine's blocking machinery re-used as training-data dedup: exact
(hash-groupBy), MinHash-LSH near-dup, SimHash, and n-gram Jaccard. Exact and
Jaccard are pure Catalyst; MinHash/SimHash batch through Arrow UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from record_matching_spark import session
from record_matching_spark.operators.blocking import candidate_pairs
from record_matching_spark.operators.minhash import (
    minhash_bands_of_hashes, token_hashes,
)
from record_matching_spark.operators.normalize import char_shingles, tokenize


# plan node classes (logical, and physical inside cached relations) that
# shuffle: a frame holding one already has shuffle-set parallelism. AQE
# wraps only plans that shuffle (or hold subqueries) and hides them from
# the walk, so its node counts as one.
_SHUFFLE_NODES = ("Join", "Aggregate", "Sort", "Window", "Repartition",
                  "Rebalance", "Deduplicate", "Exchange", "AdaptiveSparkPlan")


def _shuffles(plan) -> bool:
    """Whether any node of a JVM plan tree, cached plans included (they
    are inner children of InMemoryRelation), is a shuffling node. Walks
    node classes, so a column or path named like a node cannot match."""
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if any(t in name for t in _SHUFFLE_NODES):
            return True
        for seq in (node.children(), node.innerChildren()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return False


def _fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.5 input skew): a single
    unsplittable input file (one parquet row group) pins every narrow
    downstream op — tokenize/shingle, the minhash Arrow UDF, band explode —
    to ONE task. When the input's planned parallelism is below the
    runtime's, round-robin repartition to the full core count first (the
    rows repartitioned are the raw corpus rows, the cheapest thing in the
    dedup plan to move). On real multi-file inputs (scan splits ≥ cores)
    this is a NO-OP — no exchange is added at cluster scale. Measured on
    the single-file sf0.1 documents table: the q19 signature pipeline drops
    from a 4.1s single-core stage to a parallel one (~8× wall)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # only consult partition counts for shuffle-free (scan-rooted) plans:
    # under AQE, .rdd on an exchange-bearing frame EXECUTES the upstream
    # stages to learn the partition count (verified: one extra job)
    if _shuffles(df._jdf.queryExecution().optimizedPlan()):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text; keeps the minimum id as representative.
    (The reference's dedup-by-hash stage, /root/reference/record_matching/
    main.py:89-93.) Output: (<id_col>, <text_col>) of survivors."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("_h"))
        .agg(F.min(id_col).alias(id_col), F.first(text_col).alias(text_col))
        .drop("_h")
    )


def exact_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All (left, right) id pairs with byte-identical text, left < right:
    the candidate pairs of blocks keyed by the text's sha256, so a text
    shared by many documents is salted like any other mega-block."""
    blocks = df.select(F.col(id_col).alias("_id"),
                       F.sha2(F.col(text_col), 256).alias("block_key"))
    return candidate_pairs(blocks, id_col="_id")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over all pairs within optional groups.

    Brute-force (quadratic per group) — the *oracle-grade* dedup for
    small/grouped data; use minhash_near_dup_pairs for the scale path.
    Ungrouped input is an unguarded cartesian product, so (like its sibling
    embedding_near_dup_pairs) it refuses above 100k rows rather than
    silently cross-joining a corpus. Output: (left, right, jaccard) with
    left < right.
    """
    if not group_cols and df.count() > 100_000:
        raise ValueError(
            "ngram_jaccard_pairs without group_cols is a cartesian product; "
            "pass group_cols or use minhash_near_dup_pairs above 100k rows"
        )
    toks = df.select(
        *(group_cols or []),
        F.col(id_col),
        F.array_sort(F.array_distinct(tokenize(F.col(text_col)))).alias("_t"),
        F.xxhash64(F.col(text_col)).alias("_sha"),
    )
    on = group_cols or []
    a = toks.select(*on, F.col(id_col).alias("left"),
                    F.col("_t").alias("_ta"), F.col("_sha").alias("_sha_a"))
    b = toks.select(*on, F.col(id_col).alias("right"),
                    F.col("_t").alias("_tb"), F.col("_sha").alias("_sha_b"))
    joined = a.join(b, on) if on else a.crossJoin(b)
    union_sz = F.size(F.array_union("_ta", "_tb"))
    # both-empty token sets: jaccard 1.0 ONLY for identical content —
    # two different symbol-only/non-Latin documents are not duplicates
    # (ADVICE fix; the tokenizer alphabet is [a-z0-9_])
    empty_case = F.when(F.col("_sha_a") == F.col("_sha_b"), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return (
        joined.filter(F.col("left") < F.col("right"))
        .withColumn(
            "jaccard",
            F.when(union_sz == 0, empty_case).otherwise(
                F.size(F.array_intersect("_ta", "_tb")).cast("double") / union_sz
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left", "right", "jaccard")
    )


# bytes of one verify-payload row besides its token hashes (id, content
# hash and set size); each token adds one 8-byte hash, and in the grouped
# payload each member one 8-byte id
_PAYLOAD_ROW_BYTES = 24

# left and right attach names of the grouped verify payload's columns
_SIDE_COLS = {"_t": ("_ta", "_tb"), "_sha": ("_sha_a", "_sha_b"),
              "_n": ("_na", "_nb"), "_m": ("_ma", "_mb")}

# verify-payload column names of the two sides of a cross-corpus pair
_CORPUS = ("corpus_id", "_ta", "_sha_a", "_na")
_PROBE = ("probe_id", "_tb", "_sha_b", "_nb")


def _tokens(text: Column, shingle_k: int | None) -> Column:
    """Lowercased words, or character k-shingles when shingle_k is set."""
    return char_shingles(text, shingle_k) if shingle_k is not None else tokenize(text)


def _bands(
    payload: DataFrame,
    names: tuple[str, str, str, str],
    num_bands: int,
    rows_per_band: int,
    keep_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, block_key) of a verify payload under `names`: every
    document's LSH band keys, taken from the payload's token-hash set so a
    document is tokenized and hashed once, plus its content-hash key, so
    identical texts are ALWAYS candidates whatever their tokens
    (empty-token docs get unique sentinel signatures). Stateless per row,
    so it runs unchanged under Structured Streaming; `keep_cols` (already
    on the payload) ride along because a stream cannot be re-joined to
    itself to attach them afterwards."""
    i, t, sha, _ = names
    return minhash_bands_of_hashes(
        payload, i, t, num_bands, rows_per_band, keep_cols=keep_cols,
    ).unionByName(
        payload.select(
            F.col(i), *keep_cols,
            F.xxhash64(F.lit("cs"), F.col(sha)).alias("block_key"),
        )
    )


def _payload(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int | None,
    names: tuple[str, str, str, str] = ("_id", "_t", "_sha", "_n"),
) -> DataFrame:
    """The exact-verify payload, one row per document, under `names`:
    (id, sorted distinct xxhash64 token set, xxhash64 content hash, set
    size). A long-array intersect is ~9× cheaper than a string one and
    Jaccard is unchanged (a 64-bit collision inside one pair's ~100-token
    union has probability ~1e-16). The token hashes are the ones a MinHash
    signature of the tokens is taken over, so bands of this set equal
    bands of the tokens."""
    i, t, sha, n = names
    return df.select(
        F.col(id_col).alias(i),
        F.array_sort(token_hashes(_tokens(F.col(text_col), shingle_k))).alias(t),
        F.xxhash64(F.col(text_col)).alias(sha),
    ).withColumn(n, F.size(t))


def _size_ok(threshold: float) -> Column:
    """EXACT size prefilter on a candidate carrying both set sizes
    (_na, _nb), cheap enough to run before the O(|A|+|B|) intersect:
    J(A,B) ≥ t implies min(|A|,|B|)/max(|A|,|B|) ≥ t (|A∩B| ≤ min and
    |A∪B| ≥ max). It kills the low-J candidates banded LSH inevitably
    admits (b=32, r=4 catches ~87% of J=0.5 pairs; 70% of candidates on
    the sf0.1 documents mega-clusters). The 1e-9 slack guards the one-ulp
    division-rounding edge so no true pair is lost; both-empty pairs are
    kept for the content-hash decision."""
    return (
        F.least("_na", "_nb").cast("double")
        / F.greatest("_na", "_nb", F.lit(1))
        >= F.lit(threshold - 1e-9)
    ) | ((F.col("_na") == 0) & (F.col("_nb") == 0))


def _verified(cand: DataFrame, threshold: float) -> DataFrame:
    """cand plus `jaccard`, the exact Jaccard of the two payloads it
    carries (_ta/_tb, _sha_a/_sha_b, _na/_nb), kept where ≥ threshold.
    |A∪B| = |A| + |B| − |A∩B| (the sets are distinct), so array_union
    never materializes. Two empty token sets are duplicates ONLY when the
    content is identical (the tokenizer alphabet is [a-z0-9_])."""
    inter = F.size(F.array_intersect("_ta", "_tb"))
    empty_case = F.when(F.col("_sha_a") == F.col("_sha_b"), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    jaccard = F.when(
        (F.col("_na") == 0) & (F.col("_nb") == 0), empty_case
    ).otherwise(inter.cast("double") / (F.col("_na") + F.col("_nb") - inter))
    return cand.withColumn("jaccard", jaccard).filter(F.col("jaccard") >= threshold)


def _index(
    df: DataFrame,
    names: tuple[str, str, str, str],
    id_col: str,
    text_col: str,
    num_bands: int,
    rows_per_band: int,
    shingle_k: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(bands, payload) of one side of a cross-corpus match, keyed by
    names[0]."""
    payload = _payload(df, id_col, text_col, shingle_k, names)
    return _bands(payload, names, num_bands, rows_per_band), payload


def _groups(payload: DataFrame) -> DataFrame:
    """One row per exact token set of a (_id, _t, _sha, _n) payload: the
    minimum member id as `_id`, the set's payload, and `_m`, the sorted
    member ids. Sets are compared whole, never by a hash of them (a
    collision would merge two sets that nothing verified); empty sets
    group by content hash, so they stay duplicates only of identical
    text; a null text has no set and pairs with nothing. One hash exchange
    on the key, to the runtime's core count (a number AQE keeps), so the
    signature UDF downstream runs on every core; more partitions only add
    per-task cost (q19's warm run at sf0.1 on 4 cores: 5.8-8.0 s at 32
    partitions, 4.1-4.9 s at 4)."""
    n_part = payload.sparkSession.sparkContext.defaultParallelism
    keyed = payload.filter(F.col("_t").isNotNull()).withColumn(
        "_k", F.when(F.col("_n") == 0, F.col("_sha")))
    return (
        keyed.repartition(n_part, "_t", "_k")
        .groupBy("_t", "_k")
        .agg(F.min("_id").alias("_id"), F.min("_sha").alias("_sha"),
             F.array_sort(F.collect_set("_id")).alias("_m"))
        .select("_id", "_t", "_sha", F.size("_t").alias("_n"), "_m")
    )


def _expand(rep_pairs: DataFrame, salt_cap: int, spread: bool) -> DataFrame:
    """(left, right, jaccard) document pairs of representative pairs
    (left, right, jaccard, _ma, _mb), where _ma/_mb are the two groups'
    sorted member ids: every member of one group with every member of the
    other, and on a group's own row (left == right) every pair of its
    members. Member lists are cut into salt_cap-id chunks and each chunk
    pair expands on its own row; `spread` hash-distributes those rows
    first, so a group of more than salt_cap members never expands in one
    task (the bound candidate_pairs' salting keeps). Each document pair
    comes out once: a document is in one group, and rep pairs are
    distinct."""
    def chunks(m: str) -> Column:
        last = ((F.size(m) - 1) / F.lit(salt_cap)).cast("int")
        return F.transform(F.sequence(F.lit(0), last),
                           lambda c: F.slice(m, c * salt_cap + 1, salt_cap))

    own = F.col("left") == F.col("right")
    rows = (
        rep_pairs.select("left", "right", "jaccard", "_mb",
                         F.posexplode(chunks("_ma")).alias("_ci", "_ca"))
        .select("left", "right", "jaccard", "_ci", "_ca",
                F.posexplode(chunks("_mb")).alias("_cj", "_cb"))
        .filter(~own | (F.col("_ci") <= F.col("_cj")))
    )
    if spread:
        rows = rows.repartition(
            int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
            "left", "right", "_ci", "_cj",
        )
    # inside one chunk of a group's own row, a pairs only with the members
    # after it (chunks are sorted, so every b of a later chunk is > a)
    same = own & (F.col("_ci") == F.col("_cj"))
    after = F.when(F.col("_same"), F.slice("_cb", F.col("_p") + 2, F.lit(salt_cap)))
    return (
        rows.select("jaccard", "_cb", same.alias("_same"),
                    F.posexplode("_ca").alias("_p", "_a"))
        .select("jaccard", "_a",
                F.explode(after.otherwise(F.col("_cb"))).alias("_b"))
        .select(F.least("_a", "_b").alias("left"),
                F.greatest("_a", "_b").alias("right"), "jaccard")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_bands: int = 32,
    rows_per_band: int = 4,
    salt_cap: int = 2000,
    shingle_k: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (the 100-TB-scale dedup path).

    shingle_k=None tokenizes into lowercased words; shingle_k=k uses
    character k-shingles instead (alphabet-independent n-gram Jaccard —
    the scale path that replaces the brute-force ngram_jaccard_pairs).

    Documents are first grouped by their exact distinct token-hash set
    (empty sets by content hash), and everything up to the exact verify
    runs over one representative per group, its minimum id: minhash →
    band → bucket self-join over the representatives, then candidates are
    exact-verified with token Jaccard ≥ threshold (so LSH is recall
    machinery, not the decision). P(candidate | J) = 1-(1-J^r)^b: at b=32,
    r=4 a J=0.8 pair is missed with prob ≈ 5e-8. The verified
    representative pairs expand to document pairs last: members(left) ×
    members(right) with the pair's Jaccard, plus every pair inside a group
    at Jaccard 1.0 (identical sets, or identical text when the set is
    empty), kept when ≥ threshold. Every member of a group has the same
    token-hash set, so the output equals the per-document LSH + verify
    exactly, while a set repeated n times bands and pairs once instead of
    n times. `salt_cap` bounds representatives per salted block in
    candidate_pairs, and members per expanded chunk: a group of more than
    salt_cap members is cut into chunks whose pairs expand in different
    tasks. Output: (left, right, jaccard).

    Join strategy: candidate pairs are deduped first (distinct on the two id
    columns only — cross-band duplicates would otherwise multiply the
    verification's array work), then the per-group verify payload (token
    hashes and member ids) is attached — broadcast when its bytes,
    measured on the action that materializes it, fit
    session.BROADCAST_BUDGET_BYTES; sort-merge otherwise, or when the
    measurement does not arrive.
    """
    # single-file corpora otherwise run tokenize+hash on one core
    df = _fan_out(df)
    # materialized ONCE: the bands, both verify sides, the size tables and
    # the expansion read it. localCheckpoint (not persist): auto-released
    # when the plan is GC'd instead of pinning executor storage for the
    # session (ADVICE fix). The payload's size rides the SAME action via
    # observe(), so the join strategy and the expansion's spread need NO
    # separate job (VERDICT r2 item 5); no size within the timeout → the
    # sort-merge attach and the spread expansion, safe at any size.
    obs = Observation("dedup_payload")
    reps = _groups(_payload(df, id_col, text_col, shingle_k)).observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum("_n").alias("tokens"),
        F.sum(F.size("_m")).alias("members"),
        F.max(F.size("_m")).alias("largest"),
    ).localCheckpoint(eager=True)
    row = session.observed_row(obs)
    broadcast = row is not None and (
        row["rows"] * _PAYLOAD_ROW_BYTES
        + 8 * ((row["tokens"] or 0) + (row["members"] or 0))
        <= session.BROADCAST_BUDGET_BYTES
    )
    spread = row is None or (row["largest"] or 0) > salt_cap
    # identical texts share a group, so no content-hash key; empty sets
    # have no bands (two different empty sets never pair)
    blocks = minhash_bands_of_hashes(
        reps.filter(F.col("_n") > 0), "_id", "_t", num_bands, rows_per_band,
    )

    def side(i: int, cols: tuple[str, ...]) -> DataFrame:
        """The left (i=0) or right (i=1) attach of the group payload cols."""
        t = reps.select(F.col("_id").alias(("left", "right")[i]),
                        *[F.col(c).alias(_SIDE_COLS[c][i]) for c in cols])
        return F.broadcast(t) if broadcast else t

    # dedup-first: cross-band duplicate pairs would multiply the (array-
    # copying) feature joins, and the pair stream is just two int64 columns —
    # the cheapest thing in this plan to shuffle. candidate_pairs is looked
    # up as a module global so a caller can wrap it.
    pairs = candidate_pairs(blocks, id_col="_id", salt_cap=salt_cap)
    if broadcast:
        # split attach (all four joins map-side broadcast): the size filter
        # runs BEFORE the token arrays join on, so the array-copying attach
        # touches only size-plausible candidates
        sizes, arrays = ("_sha", "_n"), ("_t", "_m")
        cand = pairs.join(side(0, sizes), "left").join(side(1, sizes), "right")
        cand = cand.filter(_size_ok(threshold)).join(
            side(0, arrays), "left").join(side(1, arrays), "right")
    else:
        # sort-merge regime: a split attach would double the pair-stream
        # exchanges, so sizes ride with the arrays (the round-5 shape)
        cols = ("_t", "_sha", "_n", "_m")
        cand = pairs.join(side(0, cols), "left").join(side(1, cols), "right")
        cand = cand.filter(_size_ok(threshold))
    # each group's own row: its members pair at Jaccard 1.0 (one set, or
    # one text when the set is empty)
    own = reps.filter(F.size("_m") > 1).select(
        F.col("_id").alias("left"), F.col("_id").alias("right"),
        F.lit(1.0).alias("jaccard"), F.col("_m").alias("_ma"),
        F.col("_m").alias("_mb"),
    ).filter(F.col("jaccard") >= threshold)
    rep_pairs = _verified(cand, threshold).select(
        "left", "right", "jaccard", "_ma", "_mb").unionByName(own)
    return _expand(rep_pairs, salt_cap, spread)


def build_near_dup_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Persistable near-dup INDEX of a corpus — the incremental-ingestion
    contract: band the historical corpus ONCE, write both tables to
    parquet, and every future shard checks against the stored index
    instead of re-banding 100 TB of history per ingest.

    Returns (bands, feats): bands = (corpus_id, block_key) — LSH band
    keys + the content-sha always-candidate key; feats = (corpus_id,
    _ta sorted distinct token hashes, _sha_a, _na) — the exact-verify
    payload. Plain flat-schema DataFrames, round-trippable through any
    sink (test_dedup pins parquet roundtrip → identical pairs).
    Parameters must match at query time (the index is only valid for the
    banding scheme that built it)."""
    return _index(df, _CORPUS, id_col, text_col,
                  num_bands, rows_per_band, shingle_k)


def near_dup_pairs_against_index(
    index_bands: DataFrame,
    index_feats: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
) -> DataFrame:
    """cross_corpus_near_dup_pairs against a PREBUILT index (see
    build_near_dup_index): the probe shard's bands+features broadcast,
    the stored index crosses two map-only scans — the shape of a daily
    ingest against a 100-TB history. Banding parameters must equal the
    index's. Output: (corpus_id, probe_id, jaccard)."""
    pb, pf = _index(probe, _PROBE, id_col, text_col,
                    num_bands, rows_per_band, shingle_k)
    cand = (
        index_bands.join(F.broadcast(pb), "block_key")
        .select("corpus_id", "probe_id")
        .distinct()
        .join(index_feats, "corpus_id")
        .join(F.broadcast(pf), "probe_id")
        .filter(_size_ok(threshold))
    )
    return _verified(cand, threshold).select("corpus_id", "probe_id", "jaccard")


def incremental_dedup(
    new_df: DataFrame,
    index_bands: DataFrame,
    index_feats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
) -> DataFrame:
    """Incremental-ingest dedup of a NEW shard: drop a new doc if it is a
    near-dup of the historical index (reason 'history_dup', checked
    first) or of any lower-id doc within the shard itself (reason
    'shard_dup' — the deterministic keep-first rule: lower id wins
    regardless of that doc's own verdict, so the decision is a pure
    function of the pair set, no sequential scan). Every new doc appears
    in the output with (kept, reason).

    Scale shape: history crosses two map-only scans against the
    broadcast shard (near_dup_pairs_against_index); the within-shard
    pass is minhash_near_dup_pairs on the (small) shard. Fully
    SQL-expressible -> DuckDB oracle q55."""
    hist = (
        near_dup_pairs_against_index(
            index_bands, index_feats, new_df, text_col, id_col, threshold,
            num_bands, rows_per_band, shingle_k,
        )
        .select(F.col("probe_id").alias(id_col))
        .distinct()
        .withColumn("_hist", F.lit(True))
    )
    within = (
        minhash_near_dup_pairs(
            new_df, text_col=text_col, id_col=id_col, threshold=threshold,
            num_bands=num_bands, rows_per_band=rows_per_band,
            shingle_k=shingle_k,
        )
        .select(F.col("right").alias(id_col))
        .distinct()
        .withColumn("_shard", F.lit(True))
    )
    return (
        new_df.select(F.col(id_col))
        .join(hist, id_col, "left")
        .join(within, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_hist"), "history_dup")
            .when(F.col("_shard"), "shard_dup")
            .otherwise("kept")
            .alias("reason"),
            (F.col("_hist").isNull() & F.col("_shard").isNull()).alias("kept"),
        )
    )


def cross_corpus_near_dup_pairs(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
) -> DataFrame:
    """Decontamination: near-duplicate pairs BETWEEN two corpora — find
    training documents that leak evaluation/benchmark content (the
    train/test-overlap removal step every large-scale training-data
    pipeline needs; no within-side pairs are emitted).

    The corpus is indexed on the fly (build_near_dup_index) and probed
    with near_dup_pairs_against_index. Scale shape for the real use
    (100-TB corpus × small benchmark set): the PROBE side's LSH band keys
    and token-hash features broadcast (benchmarks are ≤ millions of
    rows), so the big corpus is never shuffled — it streams through band
    computation, a broadcast hash join on band keys, and a broadcast
    feature attach: two map-only scans of the corpus, zero corpus-sized
    exchanges. Candidates are exact-verified with token Jaccard ≥
    threshold exactly like minhash_near_dup_pairs (LSH is recall
    machinery, not the decision); identical text across corpora is ALWAYS
    a candidate via the content-sha key regardless of tokenization.
    Output: (corpus_id, probe_id, jaccard).
    """
    return near_dup_pairs_against_index(
        *build_near_dup_index(corpus, text_col, id_col,
                              num_bands, rows_per_band, shingle_k),
        probe, text_col, id_col, threshold,
        num_bands, rows_per_band, shingle_k,
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              out_col: str = "simhash", portable: bool = False) -> DataFrame:
    """64-bit SimHash of the token multiset (Charikar 2002): sign of the
    per-bit sum of token-hash bits weighted by token frequency. Arrow-batched
    numpy; token hashing stays JVM-side.

    portable=True hashes tokens via md5 (first 15 hex chars → 60-bit int,
    the `hash_split(portable=True)` idiom) so ANY engine with md5 reproduces
    the signatures bit-for-bit (bits 60-63 are then always zero) — this is
    what lets the q24 DuckDB oracle recompute simhash in SQL. Default
    xxhash64 (faster, JVM-only)."""

    @F.pandas_udf(LongType())
    def simhash_udf(token_hashes: pd.Series) -> pd.Series:
        # flatten every doc's token hashes into one array, then one
        # vectorized segment-reduce per bit — no per-doc Python, and memory
        # stays O(total_tokens) instead of the (tokens, 64) bit matrix
        n = len(token_hashes)
        out = np.zeros(n, dtype=np.int64)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in token_hashes),
            dtype=np.int64, count=n,
        )
        nz = lens > 0
        if not nz.any():
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a, m in zip(token_hashes, nz) if m]
        ).astype(np.uint64)
        seg_lens = lens[nz]
        starts = np.zeros(len(seg_lens), dtype=np.int64)
        starts[1:] = np.cumsum(seg_lens)[:-1]
        sig = np.zeros(len(seg_lens), dtype=np.uint64)
        for b in range(64):
            ones = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            votes = np.add.reduceat(ones, starts) * 2 - seg_lens
            sig |= (votes > 0).astype(np.uint64) << np.uint64(b)
        out[nz] = sig.view(np.int64)
        return pd.Series(out)

    toks = tokenize(F.col(text_col))
    if portable:
        token_hashes = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        token_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return df.select(F.col(id_col), simhash_udf(token_hashes).alias(out_col))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dups: block on each of `n_chunks` 16-bit signature chunks
    (pigeonhole: hamming ≤ n_chunks-1 guarantees an identical chunk); the
    salted candidate_pairs gives each pair once however many chunks it
    shares, then the signatures attach and hamming distance ≤ max_hamming
    is exact-verified via bit_count (Catalyst).
    With max_hamming ≤ n_chunks-1 the pigeonhole guarantee makes the output
    EXACTLY the set of pairs at hamming ≤ max_hamming — which is what the
    q24 DuckDB oracle recomputes by brute force (portable=True md5 token
    hashes). Output: (left, right, hamming)."""
    # read by the blocks and by both attach sides; eager so the UDF runs
    # once; auto-released on GC (vs persist, which pins storage)
    sh = simhash64(df, text_col=text_col, id_col=id_col, portable=portable
                   ).localCheckpoint(eager=True)
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    blocks = sh.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[
                F.xxhash64(
                    F.lit("sh"),
                    F.lit(c),
                    F.shiftrightunsigned("simhash", c * chunk_bits).bitwiseAND(mask),
                )
                for c in range(n_chunks)
            ])
        ).alias("block_key"),
    )
    a = sh.select(F.col(id_col).alias("left"), F.col("simhash").alias("_sa"))
    b = sh.select(F.col(id_col).alias("right"), F.col("simhash").alias("_sb"))
    return (
        candidate_pairs(blocks, id_col="_id")
        .join(a, "left")
        .join(b, "right")
        .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("left", "right", "hamming")
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    keep_text: bool = False,
) -> DataFrame:
    """C4-style LINE-level deduplication: a (space-trimmed, non-empty) line
    that occurs in >= `min_docs` DISTINCT documents is boilerplate (license
    headers, nav bars, footer chrome) and every occurrence is removed; each
    document keeps its remaining lines in original order. This is the
    classic training-data dedup mode between exact whole-doc dedup and
    near-dup (C4, Raffel et al. 2020 removed three-sentence spans repeated
    across the corpus; lines are the code/web analog the reference's
    pandas pipeline never needed at its scale).

    Scale shape — inverted index, never all-pairs:
    1. posexplode lines (one shuffle-free map);
    2. distinct (doc, line-hash) -> groupBy(line-hash) count = doc
       frequency: one exchange on the 8-byte hash, map-side partial aggs;
    3. boilerplate hash set joins back BROADCAST-sized in the common case
       (boilerplate is by definition a small distinct set; Spark's AQE
       picks the strategy from the actual count);
    4. rebuild text with sort_array(collect_list(struct(pos, line))) —
       the q08 ordered-agg idiom.
    Empty/whitespace-only lines are never counted as boilerplate and are
    always kept (they carry document structure, not content).

    Output: (id_col, n_lines, n_kept, dedup_sha) + optionally dedup_text;
    every input doc appears (docs reduced to nothing get dedup_sha of '').
    Fully SQL-expressible -> DuckDB-oracled as q39."""
    lines = F.split(F.col(text_col), "\n")
    ex = df.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    ).withColumn(
        "_lh",
        F.when(
            F.trim(F.col("line")) != "", F.xxhash64(F.lit("ln"), F.trim(F.col("line")))
        ),
    )
    bad = (
        ex.filter(F.col("_lh").isNotNull())
        .select(F.col(id_col), "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_lh")
    )
    # null _lh (blank lines) never matches the anti-join probe -> kept
    kept = ex.join(bad, "_lh", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("dedup_text"),
    )
    out = (
        df.select(F.col(id_col), F.size(lines).alias("n_lines"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.sha2(F.coalesce(F.col("dedup_text"), F.lit("")), 256).alias("dedup_sha"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )
    return out if keep_text else out.drop("dedup_text")


def ngram_decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Exact n-gram decontamination (the GPT-3/PaLM mode: a training doc
    is contaminated if it shares ANY exact n-token run with a benchmark
    doc) — the third decontamination mode beside near-dup (q38 minhash)
    and surgical span excision (q41 winnowing). Tokens are
    whitespace-split lowercase; n-grams are consecutive token windows.

    Scale shape mirrors cross_corpus_near_dup_pairs: the probe side's
    DISTINCT n-gram keys broadcast (benchmark suites are tiny next to a
    100-TB corpus), so the corpus crosses ONE map-only scan + broadcast
    join — zero corpus-sized exchanges. The per-(corpus-doc) match count
    aggregates on id_col only. portable=False keys n-grams by xxhash64
    (8 bytes/gram in the broadcast); portable=True keys by the raw gram
    string so any engine reproduces it exactly -> DuckDB oracle q47.

    Output: (id_col, n_matched) — corpus docs sharing >= 1 distinct
    probe n-gram, with how many distinct probe n-grams they contain."""
    def grams(df: DataFrame) -> DataFrame:
        toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                        lambda t: F.length(t) > 0)
        g = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
            ),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        key = F.col("gram") if portable else F.xxhash64(F.lit("ng"), F.col("gram"))
        return (
            df.select(F.col(id_col), F.explode(g).alias("gram"))
            .select(F.col(id_col), key.alias("_gk"))
            .distinct()
        )

    pg = F.broadcast(grams(probe).select("_gk").distinct())
    return (
        grams(corpus)
        .join(pg, "_gk", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )


def near_dedup_keep_min(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-duplicate DEDUP of a corpus: MinHash-LSH candidate
    pairs with exact-Jaccard verification (minhash_near_dup_pairs), then
    transitive closure over the verified pair graph (connected_components),
    then keep-one-per-cluster — the lowest id in each near-dup cluster
    survives. This is the composed operation a training pipeline actually
    runs ("dedup the corpus"), not just the pair listing; the composition
    is itself the scale path: banded LSH pairs, never all-pairs, then a
    driver-side union-find when the pair graph fits the broadcast budget
    and O(log n)-round distributed CC when it does not.

    Output: (id_col, cluster_id, kept) for EVERY input row — kept is true
    exactly for the cluster minimum (singletons are their own cluster and
    always kept). DuckDB-oracled (q50) via the q26 recursive-CTE closure
    over brute-force Jaccard pairs."""
    from record_matching_spark.operators.cluster import cluster_assignments

    pairs = minhash_near_dup_pairs(
        df, text_col=text_col, id_col=id_col, threshold=threshold,
        **minhash_kwargs,
    )
    edges = pairs.select(F.col("left").alias("src"), F.col("right").alias("dst"))
    assign = cluster_assignments(edges, df, id_col)
    return assign.select(
        F.col(id_col),
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("kept"),
    )
