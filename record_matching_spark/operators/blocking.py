"""Stage S4/S5: blocking keys + salted self-join candidate-pair generation.

Reference analogs:
- ANN-threshold blocking (/root/reference/record_matching/main.py:552-577;
  Qdrant variants /root/reference/claude_poc/entity-resolution_v4.py:302-356)
  → replaced by MinHash-LSH band keys (operators/minhash.py).
- Exact composite-key blocking (/root/reference/claude_poc_v2/
  vector_enhanced_entity_resolution_v2.py:1887-1918) → token-sorted key +
  exact content-sha key.
- The reference has NO skew mitigation (its only bound is a k=100 neighbor
  cap, /root/reference/claude_poc/entity-resolution_v4.py:313). Here skewed
  mega-blocks are defused by salting: a block of size s > salt_cap is split
  into f = ceil(s/salt_cap) sub-buckets and the self-join enumerates the
  f*(f+1)/2 unordered bucket combinations, so no single join key carries a
  quadratic partition. AQE skew-join splitting is on as a second line of
  defense.

The emitted pair set is EXACTLY the unsalted pair set (proven by
tests/test_blocking.py::test_salting_pair_set_equivalence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from record_matching_spark import session
from record_matching_spark.operators.minhash import minhash_bands


def token_sorted_key(tokens_col: str = "tokens", first_k: int = 24) -> F.Column:
    """Exact blocking key: int64 hash of the first `first_k` sorted distinct
    tokens (namespaced by the 'ts' literal inside the hash input).

    The north rule's "token-sorted blocking keys computed per file" — catches
    files whose low-sorting token prefix is untouched by mutations; the LSH
    bands catch the rest. Pure Catalyst expression.
    """
    return F.xxhash64(
        F.lit("ts"),
        F.concat_ws(
            "_", F.slice(F.array_sort(F.array_distinct(F.col(tokens_col))), 1, first_k)
        ),
    )


def blocking_keys(
    files: DataFrame,
    id_col: str = "file_id",
    tokens_col: str = "tokens",
    num_bands: int = 32,
    rows_per_band: int = 4,
    minhash_seed: int = 1,
) -> DataFrame:
    """(id, block_key) long table — the union of three key families: the
    exact content-sha key (when `files` has content_sha), the token-sorted
    key and the MinHash-LSH band keys (num_bands × rows_per_band hashes)."""
    parts: list[DataFrame] = []
    if "content_sha" in files.columns:
        parts.append(
            files.select(
                F.col(id_col),
                F.xxhash64(F.lit("cs"), F.col("content_sha")).alias("block_key"),
            )
        )
    # empty-token files must not all share the hash-of-empty-string key
    # (same ADVICE fix as the minhash sentinel); identical-content pairs
    # are still caught by the content-sha key above
    key = F.when(
        F.size(F.col(tokens_col)) > 0, token_sorted_key(tokens_col)
    ).otherwise(F.xxhash64(F.lit("ts-empty"), F.col(id_col)))
    parts.append(files.select(F.col(id_col), key.alias("block_key")))
    parts.append(
        minhash_bands(
            files.select(id_col, tokens_col), id_col=id_col,
            tokens_col=tokens_col, num_bands=num_bands,
            rows_per_band=rows_per_band, seed=minhash_seed,
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def candidate_pairs(
    blocks: DataFrame,
    id_col: str = "file_id",
    salt_cap: int = 1000,
    drop_cap: int | None = None,
    persist_blocks: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (left < right) from a (id, block_key) table.

    Within each block every unordered pair is emitted exactly once:
    - small blocks (size ≤ salt_cap): plain self-join on block_key.
    - big blocks: members hash into f = ceil(size/salt_cap) salt buckets;
      the A-side replicates each member to buckets (s..f-1) as (s, j) keys,
      the B-side to buckets (0..s) as (i, s) keys; joining on
      (block_key, i, j) enumerates each bucket combination i ≤ j once.
    - blocks larger than drop_cap (if set) are dropped wholesale — the
      stop-word analog: a key shared by that many files carries no signal
      (the reference's k-neighbor cap plays this role, claude_poc/
      entity-resolution_v4.py:313).

    Output: (left, right), each pair once however many blocks the two ids
    share — the reference's `filtered` table (context.py:80-85). Ids keep
    the type of `id_col`.
    """
    # repartition FIRST so the census window reuses the same hash
    # partitioning instead of shuffling twice (one exchange total).
    # The partition COUNT is explicit: the pair self-join EXPLODES row
    # counts quadratically per block, so neither AQE coalescing (which sees
    # only the small pre-explosion bytes) nor the input file layout (a few
    # scan partitions) may be allowed to serialize it.
    n_part = int(
        blocks.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    b = blocks.repartition(n_part, F.col("block_key"))
    w = Window.partitionBy("block_key")
    b = b.withColumn("bsize", F.count("*").over(w)).filter(F.col("bsize") > 1)
    if drop_cap is not None:
        b = b.filter(F.col("bsize") <= drop_cap)
    b = b.withColumn(
        "nsalt", F.ceil(F.col("bsize") / F.lit(salt_cap)).cast("int")
    ).withColumn("salt", F.pmod(F.xxhash64(F.col(id_col)), F.col("nsalt")).cast("int"))
    # provably-safe id narrowing (guide §2.3 'narrower types'): the pair
    # stream is the quadratic bulk of this plan, and its rows are just the
    # two id columns — when the ids are int64 values that all fit int32,
    # shipping them as int32 halves the raw exchange bytes. The bounds ride
    # the checkpoint action below via observe() (no extra job), so the cast
    # only engages when min/max are KNOWN to fit; output columns are cast
    # back to the original type after the dedup, so results are identical
    # (lossless roundtrip; least/greatest/comparisons agree on integers).
    # Interleaved A/B on the q20 mega-block corpus: candidate phase
    # 4.82 → 4.21s best (B won all 3 rounds). Hash-derived 64-bit ids (the
    # ER fid path) never fit, so this is dormant there by construction.
    id_is_long = dict(b.dtypes).get(id_col) == "bigint"
    obs = None
    if persist_blocks and id_is_long:
        obs = Observation()
        b = b.observe(
            obs, F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
        )
    if persist_blocks:
        # the self-join scans b twice; without materialization the whole
        # upstream (signature UDF included) runs twice and the join is
        # planned blind. localCheckpoint (not persist): the blocks are
        # auto-released by the ContextCleaner when the returned plan is
        # GC'd — an explicit persist would pin executor storage memory for
        # the session's lifetime (ADVICE fix). FAULT-TOLERANCE TRADEOFF
        # (ADVICE r2): localCheckpoint truncates lineage and stores
        # partitions non-replicated, so on a multi-node cluster an executor
        # loss mid-stage fails the job instead of recomputing. Long cluster
        # runs that need executor-loss recovery should pass
        # persist_blocks=False and materialize blocks to reliable storage
        # themselves (the staged pipeline's parquet checkpoint does exactly
        # this, pipeline.py s3_blocks).
        b = b.localCheckpoint(eager=True)
    # no bounds within the timeout → keep the ids wide (same pairs)
    row = session.observed_row(obs) if obs is not None else None
    narrow = (
        row is not None
        and row["lo"] is not None
        and -(1 << 31) <= row["lo"]
        and row["hi"] < (1 << 31)
    )
    id_expr = F.col(id_col).cast("int") if narrow else F.col(id_col)

    a_side = b.withColumn(
        "j", F.explode(F.sequence(F.col("salt"), F.col("nsalt") - 1))
    ).select(
        "block_key",
        F.col("salt").alias("bi"),
        F.col("j").alias("bj"),
        id_expr.alias("_l"),
    )
    b_side = b.withColumn(
        "i", F.explode(F.sequence(F.lit(0), F.col("salt")))
    ).select(
        "block_key",
        F.col("i").alias("bi"),
        F.col("salt").alias("bj"),
        id_expr.alias("_r"),
    )
    raw = (
        a_side.join(b_side, ["block_key", "bi", "bj"])
        .filter((F.col("bi") != F.col("bj")) | (F.col("_l") < F.col("_r")))
        .select(
            F.least("_l", "_r").alias("left"),
            F.greatest("_l", "_r").alias("right"),
        )
    )
    # Pair dedup, exchange-first (r6 optimization, guide §2.5/§5): the raw
    # pair stream is quadratic per block and SKEWED per join task (one
    # mega-band's task can emit 10-100× the median), so a map-side partial
    # aggregate sitting directly on the join output builds multi-million-row
    # hash maps in the skewed tasks and spills. Instead hash-exchange the
    # raw rows by the pair key FIRST (cheap per row — no agg state below the
    # exchange), then aggregate within evenly-hashed partitions. Partition
    # count scales with the runtime (2× total cores, floor n_part) rather
    # than the census-partition count — the pair stream is the largest thing
    # in this plan and wants the finest grain; AQE cannot split a skewed
    # aggregation, only joins. Interleaved A/B on the sf0.1 mega-block
    # corpus (94M raw → 10.5M distinct): plain distinct 6.5-7.2s,
    # exchange-first at 2×cores 3.7-4.0s; 8×cores regresses to 5.8s
    # (task overhead), so the multiplier stays at 2.
    pair_parts = max(
        n_part, 2 * blocks.sparkSession.sparkContext.defaultParallelism
    )

    out = raw.repartition(pair_parts, "left", "right").distinct()
    if not narrow:
        return out
    # undo the int32 transport narrowing: output ids keep their original
    # type (values are identical — the cast was lossless)
    return out.withColumns(
        {"left": F.col("left").cast("bigint"),
         "right": F.col("right").cast("bigint")}
    )
