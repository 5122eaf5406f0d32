"""Deterministic sampling / splitting for training-data pipelines.

Not in the reference (its train/test split is sklearn's in-memory
stratified split, /root/reference/claude_poc/entity-resolution_v4.py:
1824-1829) — these are the distributed, reproducible equivalents a
100-TB data pipeline needs: membership must be a pure function of the
ROW KEY (stable under reruns, repartitioning, and incremental appends),
never of RNG state or partition layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column, n_buckets: int, seed: str = "split") -> Column:
    """Deterministic bucket in [0, n_buckets) from a key column — pure
    Catalyst (xxhash64 + pmod), stable at any parallelism."""
    return F.pmod(F.xxhash64(F.lit(seed), key), F.lit(n_buckets)).cast("int")


def md5_bucket(key: Column, n_buckets: int, seed: str = "split") -> Column:
    """Portable deterministic bucket: int of the first 8 hex chars of
    md5(seed|key), mod n. Slower than xxhash64 but reproducible in ANY
    engine with md5 (used by the DuckDB-oracled q32)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed), key)), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(n_buckets)).cast("int")


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: str = "split",
    out_col: str = "split",
    portable: bool = False,
) -> DataFrame:
    """Assign each row to a named split (train/val/test…) by hashing its
    key: reproducible, append-stable (new rows never move old rows), and
    exact-ratio in expectation. Weights need not sum to 1 — they are
    normalized. portable=True hashes via md5 (cross-engine reproducible);
    default xxhash64 (faster, JVM-only). Output: df + <out_col> string."""
    total = sum(weights.values())
    n = 1_000_000
    if portable:
        bucket = md5_bucket(F.col(key_col), n, seed)
    else:
        bucket = F.pmod(F.xxhash64(F.lit(seed), F.col(key_col)), F.lit(n))
    expr = None
    acc = 0.0
    items = sorted(weights.items())  # deterministic boundary order
    for name, w in items[:-1]:
        acc += w / total
        cond = bucket < int(acc * n)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def quota_sample(
    df: DataFrame,
    group_cols: list[str],
    cap: int,
    order_col: str | None = None,
    id_col: str | None = None,
    seed: str = "quota",
    hash_tiebreak: bool = True,
) -> DataFrame:
    """At most `cap` rows per group — the training-mix balancer (cap docs
    per domain/lang so no source dominates). Selection is deterministic:
    rows rank by `order_col` (e.g. a quality score, descending) with a
    hash tie-break, or by pure key-hash when no order is given. Scales as
    one window per group (no global sort)."""
    if order_col is None and id_col is None:
        raise ValueError("need order_col and/or id_col for deterministic selection")
    keys = []
    if order_col is not None:
        keys.append(F.desc(order_col))
    if id_col is not None:
        if hash_tiebreak:
            # hash tie-break = an unbiased within-group shuffle; disable for
            # engine-portable (oracle-able) plain-id ordering
            keys.append(F.asc(F.xxhash64(F.lit(seed), F.col(id_col))))
        keys.append(F.asc(id_col))
    w = Window.partitionBy(*group_cols).orderBy(*keys)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def leakage_safe_split(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    seed: str = "split",
    portable: bool = False,
    **minhash_kwargs,
) -> DataFrame:
    """Eval-hygiene split: hash_split applied to near-dup CLUSTER ids
    instead of doc ids, so every near-duplicate family lands whole in one
    split and no near-dup pair ever straddles train/test (the leakage
    that silently inflates eval scores when splitting by document). The
    cluster id is the family's min doc id — the split of a singleton doc
    is therefore EXACTLY hash_split's, and grouping only moves the
    non-singleton families.

    Scale shape: minhash-LSH verified pairs → connected components (the q50
    machinery) → the same one-column hash threshold as hash_split.
    Output: (id_col, cluster_id, split); fully SQL-expressible (recursive
    -CTE closure + md5 bucket on the cluster min) -> DuckDB oracle q57."""
    from record_matching_spark.functions.dedup import near_dedup_keep_min

    assign = near_dedup_keep_min(
        df, text_col=text_col, id_col=id_col, threshold=threshold,
        **minhash_kwargs,
    ).select(id_col, "cluster_id")
    split = hash_split(
        assign, key_col="cluster_id", weights=weights, seed=seed,
        portable=portable,
    )
    return split.select(id_col, "cluster_id", "split")


def mixture_report(
    df: DataFrame,
    group_cols: list[str],
    weight_col: str,
) -> DataFrame:
    """Training-mix accounting: per group (source × lang × …), total
    weight (tokens), doc count, share of the corpus, and cumulative share
    in descending-weight order — the table every pretraining-mixture
    decision (and every epochs-per-source budget) is read off of.

    Scale shape: ONE hash aggregate over the corpus reduces 100 TB to
    #groups rows (domains × languages — thousands at most); the share /
    cumulative-share windows then run over those #groups rows only, so
    the single-partition global window is bounded by the group count,
    never the corpus (documented bounded exception, like pack_sequences'
    P-row driver prefix). Deterministic total order: weight desc, then
    the group columns. Output: group_cols + (docs, tokens, share,
    cum_share, rank)."""
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col(weight_col).cast("long")).alias("tokens"),
    )
    order = [F.desc("tokens")] + [F.asc(c) for c in group_cols]
    w = Window.orderBy(*order)
    total = Window.partitionBy()
    return g.select(
        *group_cols,
        "docs",
        "tokens",
        (F.col("tokens") / F.sum("tokens").over(total)).alias("share"),
        (
            F.sum("tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            / F.sum("tokens").over(total)
        ).alias("cum_share"),
        F.row_number().over(w).alias("rank"),
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: str = "temp",
    portable: bool = False,
) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual/multi-domain
    rebalancing rule: sampled counts ∝ n_s^alpha, alpha<1 upweights small
    groups): each group keeps a deterministic hash-chosen subset with
    keep probability (n_s / n_min)^(alpha-1), normalized so the SMALLEST
    group keeps everything. Membership is a pure function of (row key,
    group-count vector): rerunning or repartitioning never changes it,
    and because a row is kept iff hash(key) < thresh(group), growing a
    group only SHEDS members monotonically (its threshold falls) — it
    never swaps one kept row for another. (Strict hash_split-style
    append stability is impossible here by definition: the keep
    probability IS a function of the group sizes.)

    Scale shape: one hash aggregate for group counts (#groups rows), the
    per-group keep threshold broadcast back, one map-only filter over the
    corpus — zero corpus-sized shuffles. portable=True uses the md5
    bucket (DuckDB-oracled q49); default xxhash64.

    Output: the kept rows of df (all columns), plus keep_thresh (the
    group's threshold in millionths, an exact integer both engines
    compute identically via floor)."""
    n = 1_000_000
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    wmin = Window.partitionBy()
    thresh = counts.select(
        group_col,
        F.floor(
            F.pow(
                F.col("_n").cast("double")
                / F.min("_n").over(wmin).cast("double"),
                F.lit(alpha - 1.0),
            )
            * n
        )
        .cast("long")
        .alias("keep_thresh"),
    )
    bucket = (
        md5_bucket(F.col(id_col), n, seed)
        if portable
        else F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(n))
    )
    return (
        df.join(F.broadcast(thresh), group_col)
        .filter(bucket.cast("long") < F.col("keep_thresh"))
    )


def _two_level_prefix(
    df: DataFrame, sort_cols: list[str], val_col: str, partitions: int | None,
) -> tuple[DataFrame, int]:
    """Global ordered running sum without a global window — the shared
    scale shape under pack_sequences / global_shuffle_rank /
    shard_by_budget: range-repartition on the sort key (Spark's
    RangePartitioner assigns ascending key ranges to ascending partition
    ids), a per-partition running sum (P concurrent windows, no exchange
    to a single task), then the P per-partition totals come to the driver
    for a prefix sum broadcast back (the documented bounded exception —
    P longs). Returns (df + `_end` = inclusive global running sum of
    val_col in sort_cols order, grand total)."""
    spark = df.sparkSession
    n_part = partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n_part, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    # ROWS frame: under the default RANGE frame, rows with tied sort keys
    # would share one running sum
    w = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # eager: the totals collect below and the final join both read this —
    # an un-pinned lazy checkpoint left the range-partition + sort open to
    # recomputation depending on which action ran first (VERDICT r5 nit)
    local = ranged.withColumn(
        "_local_end", F.sum(val_col).over(w)
    ).localCheckpoint(eager=True)
    totals = sorted(
        (r["_pid"], r["_t"])
        for r in local.groupBy("_pid").agg(F.max("_local_end").alias("_t")).collect()
    )
    prefix: dict[int, int] = {}
    acc = 0
    for pid, tot in totals:
        prefix[pid] = acc
        acc += tot or 0
    pre_df = spark.createDataFrame(
        [(p, o) for p, o in prefix.items()], "_pid int, _prefix long"
    )
    out = (
        local.join(F.broadcast(pre_df), "_pid")
        .withColumn("_end", F.col("_prefix") + F.col("_local_end"))
        .drop("_pid", "_local_end", "_prefix")
    )
    return out, acc


def global_shuffle_rank(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "shuffle",
    portable: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle for training order: every row gets a
    dense 0-based `shuffle_rank` equal to its position in the corpus
    ordered by hash(seed|id) — the reproducible corpus permutation a
    pretraining run reads in, stable across reruns and parallelism, and
    re-dealable by changing `seed` (epoch reshuffles: seed='epoch1', …).

    Scale shape — a global row_number() is ONE window over ONE partition,
    a non-starter at 100 TB. This is `_two_level_prefix` over a constant
    1 (a running count), ordered by the hash. Ties (hash collisions)
    break by id, so the permutation is total and engine-independent.
    portable=True hashes via md5 (DuckDB oracle q52); default xxhash64.
    Output: (id_col, shuffle_rank)."""
    if portable:
        h = F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string")))
    else:
        h = F.xxhash64(F.lit(seed), F.col(id_col))
    keyed = df.select(
        F.col(id_col), h.alias("_h"), F.lit(1).cast("long").alias("_one")
    )
    summed, _ = _two_level_prefix(keyed, ["_h", id_col], "_one", partitions)
    return summed.select(
        F.col(id_col), (F.col("_end") - 1).cast("long").alias("shuffle_rank")
    )


def shard_by_budget(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    n_shards: int = 16,
    order_col: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Token-balanced shard assignment — the training-data LAYOUT
    finisher: whole documents dealt into `n_shards` shards of ~equal
    token mass (ceil(total/n) budget per shard, docs never split), in
    `order_col` order (pass a shuffle_rank column for the
    shuffle-then-shard composition a data loader reads) or id order.
    Each doc lands in the shard where its start offset falls; the last
    shards absorb the rounding remainder.

    Scale shape: one `_two_level_prefix` scan (range partition →
    per-partition window → P-row driver prefix) — never a global
    single-partition window; the per-shard position window sorts one
    shard per task, and shards are file-sized by construction (a
    deployment scales n_shards with the corpus). Deterministic: a pure
    function of the (order, token-count) multiset. Output: (id_col,
    token_col, shard, pos) with `pos` the doc's 0-based position in
    shard order — fully SQL-expressible -> DuckDB oracle q53."""
    order = order_col or id_col
    keyed = df.select(
        F.col(id_col),
        F.col(order).alias("_ord"),
        F.coalesce(F.col(token_col).cast("long"), F.lit(0)).alias("_nt"),
    )
    w_cols = ["_ord", id_col]
    summed, total = _two_level_prefix(keyed, w_cols, "_nt", partitions)
    shard_size = max(1, -(-total // n_shards))  # ceil
    start = F.col("_end") - F.col("_nt")
    with_shard = summed.withColumn(
        "shard",
        F.least(F.floor(start / shard_size), F.lit(n_shards - 1)).cast("int"),
    )
    pos_w = Window.partitionBy("shard").orderBy(*w_cols)
    return with_shard.select(
        F.col(id_col),
        F.col("_nt").alias(token_col),
        "shard",
        (F.row_number().over(pos_w) - 1).cast("long").alias("pos"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    partitions: int | None = None,
) -> DataFrame:
    """Sequence packing: lay documents end-to-end in `id_col` order and
    chop the concatenated token stream into fixed-`budget` training
    sequences (the concat-and-chunk packing step every LLM pretraining
    pipeline runs between corpus and batches). Each doc is assigned the
    sequence where it STARTS plus its token offset inside it; `n_seqs`
    counts how many sequences the doc spans (straddlers and
    longer-than-budget docs span > 1).

    Output: (id_col, token_col, seq_id, offset, n_seqs) — all positions
    deterministic pure functions of the (id, token-count) multiset, so
    the layout is reproducible at any parallelism.

    Scale shape — the naive form is a global ordered cumsum, i.e. ONE
    window over ONE partition, a non-starter at 100 TB. This runs
    `_two_level_prefix` (the textbook two-level scan: range partition →
    per-partition window → P-row driver prefix broadcast back; the only
    driver-side data is P longs, bounded by the partition count, not the
    row count).

    The reference has no packing; nearest analog is the batched pair
    iterator it feeds its scorer (/root/reference/record_matching/
    main.py:552-577). SQL-oracle-able (global cumsum is trivial at
    verification scale) -> q44."""
    keyed = df.select(
        id_col,
        F.coalesce(F.col(token_col).cast("long"), F.lit(0)).alias("_nt"),
    )
    summed, _ = _two_level_prefix(keyed, [id_col], "_nt", partitions)
    start = F.col("_end") - F.col("_nt")
    end = start + F.greatest(F.col("_nt"), F.lit(1)) - 1
    return (
        summed
        .select(
            F.col(id_col),
            F.col("_nt").alias(token_col),
            F.floor(start / budget).cast("long").alias("seq_id"),
            (start % budget).cast("long").alias("offset"),
            (F.floor(end / budget) - F.floor(start / budget) + 1)
            .cast("long")
            .alias("n_seqs"),
        )
    )
