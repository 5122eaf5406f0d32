"""Stage S6/S7: pairwise feature computation + weighted match scoring.

Reference analogs:
- per-field pairwise distances batched on CUDA tensors
  (/root/reference/record_matching/main.py:353-434) → ONE mapInArrow pass
  per pair batch (TF-IDF cosine + Jaccard via a batch-wide vectorized
  intersect on flat Arrow buffers; memoized Jaro-Winkler on paths);
  Levenshtein runs JVM-side (banded built-in) and passes through.
- logistic score sigmoid(x·w + b) (/root/reference/record_matching/
  main.py:494-501,606-626) → pure Catalyst expression over broadcast
  weights (no UDF in the scoring hot path).
- weight training via sklearn liblinear (/root/reference/record_matching/
  main.py:444-486) → pyspark.ml LogisticRegression (distributed).
- embed-each-distinct-value-once economy (/root/reference/record_matching/
  main.py:89-93) → features computed once per distinct (content_sha_l,
  content_sha_r) pair, joined back to file pairs.

Feature vector (per candidate pair):
  jaccard    — |tokens_l ∩ tokens_r| / |tokens_l ∪ tokens_r|   (mapInArrow)
  tfidf_cos  — cosine of L2-normalized TF-IDF vectors          (mapInArrow)
  lev_sig    — 1 - lev(sig_l, sig_r)/max(len), banded, on the sorted-token
               signature                                        (Catalyst)
  jw_path    — Jaro-Winkler on file paths          (memoized, in the kernel)
  same_lang  — language equality                                (Catalyst)
  dir_sim    — path-directory token Jaccard                     (Catalyst)
  any_empty  — either side has no tokens (B21 imputation flag)  (Catalyst)
  both_empty — both sides have no tokens (B21 imputation flag)  (Catalyst)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from record_matching_spark import session

# NOTE: no Jaro-Winkler on the content signature — pure-Python JW is
# ~1 ms/pair on 160-char strings (measured), which would dominate the whole
# scoring stage. JW runs only on short path strings; content similarity
# comes from TF-IDF cosine + Jaccard (Arrow/numpy) + Levenshtein (JVM).
#
# same_lang / dir_sim are the metadata-rule features (B11) — the reference
# scores temporal/metadata rules as classifier features with weight 0.130
# (/root/reference/claude_poc_v2/vector_enhanced_entity_resolution_v2.py:
# 803-915); here the analogs are language match and path-directory overlap,
# both pure when/otherwise Catalyst.
#
# any_empty / both_empty are the B21 imputation-flag features — the
# reference feeds is_original-vs-imputed booleans into the classifier
# (/root/reference/record_matching/main.py:394-405, claude_poc/
# entity-resolution_v4.py:358-490); the engine's imputation analog is the
# empty-token sentinel path, so the flags mark pairs where one/both sides
# carry no token evidence (their jaccard/tfidf/lev are all sentinel-valued
# and the classifier should discount them). Default weights 0.0: inert
# until trained (ablation row in BENCH.md).
FEATURES = ["jaccard", "tfidf_cos", "lev_sig", "jw_path", "same_lang", "dir_sim",
            "any_empty", "both_empty"]

# fallback weights (logistic) — replaced by train_weights() output when
# labeled pairs are available. Chosen so each feature contributes comparably
# and score 0.5 sits near feature ≈ 0.55 average.
DEFAULT_WEIGHTS: dict[str, float] = {
    "intercept": -16.0,
    "jaccard": 9.0,
    "tfidf_cos": 9.0,
    "lev_sig": 5.0,
    "jw_path": 2.0,
    "same_lang": 1.0,
    "dir_sim": 1.0,
    "any_empty": 0.0,
    "both_empty": 0.0,
}

# sorted distinct tokens joined into the levenshtein signature. Kept short:
# levenshtein is O(len²) per pair and dominates pair-featurization cost —
# 12 tokens / 96 chars keeps the feature discriminative at ~25× less work
# than a 512-char signature (round 2 shrank 160→96 after profiling showed
# JVM levenshtein was ~40% of the scoring stage). A banded threshold
# (distance > _SIG_CHARS/2 → similarity clamps to the non-match region)
# cuts the inner loop further: O(threshold·len) instead of O(len²).
_SIG_TOKENS = 12
_SIG_CHARS = 96
_LEV_THRESHOLD = _SIG_CHARS // 2

# broadcast budget for the per-distinct-content feature table: measured
# payload ≈ 1 KB/row (int32 tid + float32 tw arrays + 96-char sig). The
# 256 MB cap targets the smallest executors a mixed cluster is likely to
# run (VERDICT r2 item 5: a forced 500 MB broadcast can OOM small
# executors).
_FEATURE_ROW_BYTES = 1024
BROADCAST_BUDGET_BYTES = 256 << 20

# sha_features: above this many distinct documents the vocabulary may not
# fit the driver/broadcast, so the idf attach falls back to the shuffle
# join instead of the numpy-broadcast map-side finish (module constant so
# tests can force the fallback and pin both paths to identical outputs)
VOCAB_BROADCAST_MAX_DOCS = 1_000_000

# pair_features scores each distinct content pair once (then joins back to
# file pairs) when files outnumber distinct contents by more than this
# ratio; below it, per file pair (module constant so tests can force either
# plan and pin the two to each other)
DEDUP_CONTENT_MIN_RATIO = 1.3


# ---------------------------------------------------------------- features


def sha_features(files: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Per-distinct-content feature table keyed by content_sha.

    Columns: content_sha, sig (levenshtein signature string, ≤_SIG_CHARS),
    tid (sorted int32 token-hash ids), tw (L2-normalized float32 TF-IDF
    weights aligned with tid).

    The payload is deliberately COMPACT — this table is joined onto every
    candidate sha-pair, so its row width is the scoring stage's shuffle
    volume: int32 ids + float32 weights + a short signature ≈ 0.8 KB/row vs
    ~3 KB when shipping raw token strings (a 32-bit token-hash collision
    inside one pair's union perturbs jaccard by ~1%, far below the decision
    margin).

    r6 plan (guide §2.3 'aggregate before you shuffle' + §4.2): the round-5
    shape exploded every token occurrence into a (csid, tid) row, shuffled
    it twice (groupBy (csid,tid), then groupBy csid + collect_list + sort)
    and joined the idf table back — the token explosion was the widest
    exchange in the ER scoring stage (er_shaf isolated at 10.2s of the
    15.0s er_scoring probe). Now the per-doc (tid, tf) arrays are built
    MAP-SIDE in one Arrow pass (np.unique over packed (row<<31)|tid keys —
    no per-row Python), only the tid→df aggregate shuffles (vocab-sized,
    map-side partial agg), the idf table broadcasts as two numpy arrays,
    and the weights+norms are computed map-side in a second Arrow pass.
    Zero doc-sized exchanges. The doc count rides the stage-1 checkpoint
    via observe() — no separate count job. Beyond 1M distinct docs the
    vocabulary may not fit the driver, so the round-5 shuffle shape is
    kept as the fallback (same outputs, pinned by
    tests/test_scoring.py::test_sha_features_paths_agree)."""
    from pyspark.sql import Observation

    docs = files.select("content_sha", tokens_col).dropDuplicates(["content_sha"])
    docs = docs.withColumn("csid", F.xxhash64("content_sha"))
    # tf counts RAW token occurrences (pre-distinct) so the (1 + log tf)
    # term is live; the distinct-token sort feeds only the lev signature.
    # Tokens are hashed to 31-bit tids JVM-side BEFORE the Arrow pass so no
    # 64-char sha or token string crosses the Python boundary (a 31-bit tid
    # collision merges two token counts inside one doc: ~1% jaccard
    # perturbation at worst, below the decision margin).
    pre = docs.select(
        "content_sha",
        "csid",
        F.substring(
            F.concat_ws(
                " ",
                F.slice(F.array_sort(F.array_distinct(F.col(tokens_col))), 1, _SIG_TOKENS),
            ),
            1,
            _SIG_CHARS,
        ).alias("sig"),
        F.transform(
            F.col(tokens_col),
            lambda t: F.xxhash64(t).bitwiseAND(F.lit(0x7FFFFFFF)).cast("int"),
        ).alias("_tid_all"),
    )

    def tf_kernel(batches):
        import pyarrow as pa

        for rb in batches:
            idx = {name: i for i, name in enumerate(rb.schema.names)}
            lens, flat = _flat_lists(rb.column(idx["_tid_all"]))
            n = rb.num_rows
            rows = np.repeat(np.arange(n, dtype=np.int64), lens)
            keys = (rows << 31) | flat.astype(np.int64)
            uk, counts = np.unique(keys, return_counts=True)
            urows = (uk >> 31).astype(np.int64)
            utids = (uk & 0x7FFFFFFF).astype(np.int32)
            row_lens = np.bincount(urows, minlength=n)
            offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(row_lens, out=offsets[1:])
            tid_col = pa.ListArray.from_arrays(pa.array(offsets), pa.array(utids))
            tf_col = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(counts.astype(np.int64))
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(idx["content_sha"]), rb.column(idx["csid"]),
                 rb.column(idx["sig"]), tid_col, tf_col],
                names=["content_sha", "csid", "sig", "tid", "tf"],
            )

    obs = Observation("shaf_n_docs")
    stage1 = pre.mapInArrow(
        tf_kernel,
        schema="content_sha string, csid long, sig string, "
               "tid array<int>, tf array<bigint>",
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    # materialized once: the df aggregate below and the final weight pass
    # both read it, and the observe rides this single action (no count
    # within the timeout → count the checkpointed table)
    stage1 = stage1.localCheckpoint(eager=True)
    row = session.observed_row(obs)
    n_docs = int(row["n"]) if row is not None else stage1.count()

    if n_docs <= VOCAB_BROADCAST_MAX_DOCS:
        # vocab ≪ corpus: ship the idf table to executors as two sorted
        # numpy arrays and finish entirely map-side. The only shuffle in
        # this whole operator is the vocab-sized tid→df aggregate.
        vocab = (
            stage1.select(F.explode("tid").alias("tid"))
            .groupBy("tid")
            .agg(F.count(F.lit(1)).alias("df"))
            .toArrow()
        )
        vt = vocab.column("tid").to_numpy().astype(np.int64)
        vdf = vocab.column("df").to_numpy().astype(np.float64)
        order = np.argsort(vt)
        vt, vdf = vt[order], vdf[order]
        bc = files.sparkSession.sparkContext.broadcast((vt, vdf))
        nd = float(n_docs)

        def w_kernel(batches):
            import pyarrow as pa

            vt_l, vdf_l = bc.value
            for rb in batches:
                idx = {name: i for i, name in enumerate(rb.schema.names)}
                tid_arr = rb.column(idx["tid"])
                lens, flat_tid = _flat_lists(tid_arr)
                _, flat_tf = _flat_lists(rb.column(idx["tf"]))
                n = rb.num_rows
                dfv = vdf_l[np.searchsorted(vt_l, flat_tid.astype(np.int64))]
                # identical formula/order to the JVM expression:
                # (1 + ln tf) * (ln((N+1)/(df+1)) + 1)
                w = (1.0 + np.log(flat_tf.astype(np.float64))) * (
                    np.log((nd + 1.0) / (dfv + 1.0)) + 1.0
                )
                rows = np.repeat(np.arange(n, dtype=np.int64), lens)
                # per-doc sum of squares in tid order — the same sequential
                # fold order as the round-5 JVM aggregate over the sorted tv
                norms = np.sqrt(np.bincount(rows, weights=w * w, minlength=n))
                tw = (w / norms[rows]).astype(np.float32)
                offsets = np.zeros(n + 1, dtype=np.int32)
                np.cumsum(lens, out=offsets[1:])
                tw_col = pa.ListArray.from_arrays(pa.array(offsets), pa.array(tw))
                yield pa.RecordBatch.from_arrays(
                    [rb.column(idx["content_sha"]), rb.column(idx["sig"]),
                     tid_arr, tw_col],
                    names=["content_sha", "sig", "tid", "tw"],
                )

        out = stage1.mapInArrow(
            w_kernel,
            schema="content_sha string, sig string, tid array<int>, "
                   "tw array<float>",
        )
        # empty-token docs carried NULL tid/tw in the round-5 left-join
        # shape; keep that contract (consumers flag them via
        # coalesce(size(tid), 0) == 0 and the s2 parquet stage round-trips)
        return out.select(
            "content_sha", "sig",
            F.when(F.size("tid") > 0, F.col("tid")).alias("tid"),
            F.when(F.size("tid") > 0, F.col("tw")).alias("tw"),
        )

    # >1M distinct docs: the vocab may not fit the driver/broadcast — keep
    # the round-5 shuffle shape (explode from the per-doc tf arrays, join
    # the df table, rebuild sorted vectors)
    tf = stage1.select(
        "csid", F.explode(F.arrays_zip("tid", "tf")).alias("z")
    ).select("csid", F.col("z.tid").alias("tid"), F.col("z.tf").alias("tf"))
    df_tok = tf.groupBy("tid").agg(F.count("*").alias("df"))
    weighted = tf.join(df_tok, "tid").withColumn(
        "w",
        (F.lit(1.0) + F.log(F.col("tf").cast("double")))
        * (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0),
    )
    vecs = (
        weighted.groupBy("csid")
        .agg(F.array_sort(F.collect_list(F.struct("tid", "w"))).alias("tv"))
        .withColumn(
            "norm",
            F.sqrt(F.aggregate("tv", F.lit(0.0), lambda acc, x: acc + x["w"] * x["w"])),
        )
        .select(
            "csid",
            F.transform("tv", lambda x: x["tid"]).alias("tid"),
            F.transform("tv", lambda x: (x["w"] / F.col("norm")).cast("float")).alias("tw"),
        )
    )
    sigs = stage1.select("content_sha", "csid", "sig")
    return sigs.join(vecs, "csid", "left").drop("csid")


def _flat_lists(arr):
    """(row_lengths, flat_values) of an Arrow list column — zero per-row
    Python objects (pyarrow.compute handles slices and nulls)."""
    import pyarrow.compute as pc

    lens = pc.fill_null(pc.list_value_length(arr), 0).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    vals = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
    return lens, vals


def _cos_jac_batch(tid_l, tw_l, tid_r, tw_r, n: int):
    """Sparse TF-IDF cosine + token-set Jaccard for one Arrow batch of
    pairs — ONE vectorized intersect for the whole batch.

    Each (row, tid) packs into one int64 key (tid < 2³¹ by construction,
    see sha_features); both key streams are globally sorted (rows ascend,
    tids ascend within a row), so the batch-wide set intersection is a
    single np.searchsorted — no per-pair Python loop, no per-pair
    allocation. Replaces the round-1 per-pair intersect1d loop (the
    scaling bottleneck flagged in VERDICT.md)."""
    lens_l, ids_l = _flat_lists(tid_l)
    lens_r, ids_r = _flat_lists(tid_r)
    _, ws_l = _flat_lists(tw_l)
    _, ws_r = _flat_lists(tw_r)
    if len(ids_l) == 0 or len(ids_r) == 0:
        return np.zeros(n), np.zeros(n)
    rows_l = np.repeat(np.arange(n, dtype=np.int64), lens_l)
    rows_r = np.repeat(np.arange(n, dtype=np.int64), lens_r)
    kl = (rows_l << 31) | ids_l.astype(np.int64)
    kr = (rows_r << 31) | ids_r.astype(np.int64)
    # kl is sorted; locate each right key in it
    pos = np.searchsorted(kl, kr)
    pos_c = np.minimum(pos, len(kl) - 1)
    hit = kl[pos_c] == kr
    ia = pos_c[hit]
    crow = rows_r[hit]
    inter = np.bincount(crow, minlength=n).astype(np.float64)
    cos = np.bincount(
        crow,
        weights=ws_l.astype(np.float64)[ia] * ws_r.astype(np.float64)[hit],
        minlength=n,
    )
    union = lens_l + lens_r - inter
    # union == 0 (both token sets empty) scores 0: identical-content pairs
    # short-circuit to 1.0 via the _same flag, so two different empty-token
    # documents are NOT near-duplicates (ADVICE fix)
    jac = np.where(union > 0, inter / np.maximum(union, 1.0), 0.0)
    return cos, jac


def _jw_batch(av: list, bv: list) -> np.ndarray:
    """Jaro-Winkler over one batch of string pairs (None reads as ""):
    each distinct pair is scored once by `_jaro_winkler` — paths repeat
    heavily across candidate pairs (clone families share module names), so
    a repeat costs one dict lookup."""
    memo: dict = {}
    out = np.empty(len(av))
    for i, (x, y) in enumerate(zip(av, bv)):
        # memo on (x, y) TUPLES — a separator-joined key would mis-split
        # when a left string itself contains the separator (ADVICE r4)
        key = (x or "", y or "")
        v = memo.get(key)
        if v is None:
            v = memo[key] = _jaro_winkler(*key)
        out[i] = v
    return out


def _feature_kernel(key_cols: tuple[str, str], with_paths: bool):
    """mapInArrow kernel computing the Python-side pair features in ONE
    JVM→Python crossing with NO pandas object conversion: token-id/weight
    list columns are consumed as flat Arrow buffers (pyarrow.compute), and
    Catalyst-computed columns (lev_sig, metadata features) pass through as
    untouched Arrow arrays. Measured 3.4× faster than the equivalent
    pandas_udf on the same batch stream (round-2 profiling)."""
    import pyarrow as pa

    pass_cols = ["lev_sig", "any_empty", "both_empty"] + (
        ["same_lang", "dir_sim"] if with_paths else []
    )

    def kernel(batches):
        for rb in batches:
            idx = {name: i for i, name in enumerate(rb.schema.names)}
            n = rb.num_rows
            cos, jac = _cos_jac_batch(
                rb.column(idx["tid_l"]), rb.column(idx["tw_l"]),
                rb.column(idx["tid_r"]), rb.column(idx["tw_r"]), n,
            )
            same = rb.column(idx["_same"]).to_numpy(zero_copy_only=False)
            cos = np.where(same, 1.0, cos)
            jac = np.where(same, 1.0, jac)
            arrays = [
                rb.column(idx[key_cols[0]]),
                rb.column(idx[key_cols[1]]),
                pa.array(jac, type=pa.float64()),
                pa.array(cos, type=pa.float64()),
            ]
            names = [key_cols[0], key_cols[1], "jaccard", "tfidf_cos"]
            for c in pass_cols:
                arrays.append(rb.column(idx[c]))
                names.append(c)
            if with_paths:
                jw = _jw_batch(
                    rb.column(idx["path_l"]).to_pylist(),
                    rb.column(idx["path_r"]).to_pylist(),
                )
                arrays.append(pa.array(jw, type=pa.float64()))
                names.append("jw_path")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return kernel


def _jaro_winkler(s1: str, s2: str) -> float:
    """Plain-Python Jaro-Winkler (public algorithm, Winkler 1990). Runs only
    inside Arrow batches on short strings (paths)."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * l1
    flags2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1.0 - jaro)


@F.pandas_udf(DoubleType())
def _jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler column UDF over `_jw_batch` — jw_path of the
    per-content plan, whose kernel runs on content pairs without paths."""
    av = a.fillna("").to_numpy(dtype=object)
    bv = b.fillna("").to_numpy(dtype=object)
    return pd.Series(_jw_batch(list(av), list(bv)))


def _lev_expr(suffix_a: str, suffix_b: str) -> F.Column:
    """Signature-levenshtein similarity, pure Catalyst:
    - identical content short-circuits to 1.0 (never runs levenshtein);
    - two EMPTY signatures (no tokens, different content) score 0.0 — 1.0
      is reserved for the same-content case (ADVICE fix);
    - banded: distance beyond _LEV_THRESHOLD clamps similarity to 0.0,
      turning the O(len²) inner loop into O(threshold·len)."""
    same = F.col(f"csid{suffix_a}") == F.col(f"csid{suffix_b}")
    both_empty = (F.length(f"sig{suffix_a}") == 0) & (F.length(f"sig{suffix_b}") == 0)
    d = F.levenshtein(f"sig{suffix_a}", f"sig{suffix_b}", _LEV_THRESHOLD)
    lev = F.when(d < 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - d.cast("double")
        / F.greatest(
            F.length(f"sig{suffix_a}"), F.length(f"sig{suffix_b}"), F.lit(1)
        )
    )
    # equal non-empty sigs short-circuit to 1.0 — exactly lev's value for
    # d=0 (1 − 0/max = 1.0), so the DP is skipped on the ~13% of ER pairs
    # where clone-family members share the sorted-token prefix (r6
    # measurement); must sit AFTER the both-empty case, which equal empty
    # sigs would otherwise shadow
    return (
        F.when(same, F.lit(1.0))
        .when(both_empty, F.lit(0.0))
        .when(F.col(f"sig{suffix_a}") == F.col(f"sig{suffix_b}"), F.lit(1.0))
        .otherwise(lev)
    ).alias("lev_sig")


def _score_content(
    base: DataFrame, shafk: DataFrame, keys: tuple[str, str],
    sides: tuple[str, str], bcast, meta_feats: dict | None = None,
) -> DataFrame:
    """Attach both sides' content features to `base` (joined on
    csid{sides[0]} / csid{sides[1]}) and run the feature kernel once over
    the result; output rows are keyed by `keys`. With `meta_feats`, the
    metadata features ride the kernel as pass-through columns and paths
    ride it for jw_path (`base` then carries path_l/path_r and the
    metadata columns)."""
    a, b = sides
    fa = shafk.select(
        F.col("csid").alias(f"csid{a}"), F.col("sig").alias(f"sig{a}"),
        F.col("tid").alias("tid_l"), F.col("tw").alias("tw_l"),
    )
    fb = shafk.select(
        F.col("csid").alias(f"csid{b}"), F.col("sig").alias(f"sig{b}"),
        F.col("tid").alias("tid_r"), F.col("tw").alias("tw_r"),
    )
    # B21 imputation flags: an empty tid list (or a missing feature row)
    # means the side had no tokens — its content features are sentinel
    # values the classifier should be able to discount
    e_a = F.coalesce(F.size("tid_l"), F.lit(0)) == 0
    e_b = F.coalesce(F.size("tid_r"), F.lit(0)) == 0
    with_paths = meta_feats is not None
    extra = (
        [c.alias(name) for name, c in meta_feats.items()] + ["path_l", "path_r"]
        if with_paths else []
    )
    pre = (
        base.join(bcast(fa), f"csid{a}")
        .join(bcast(fb), f"csid{b}")
        .select(
            *keys,
            (F.col(f"csid{a}") == F.col(f"csid{b}")).alias("_same"),
            _lev_expr(a, b),
            (e_a | e_b).cast("double").alias("any_empty"),
            (e_a & e_b).cast("double").alias("both_empty"),
            *extra,
            "tid_l", "tw_l", "tid_r", "tw_r",
        )
    )
    key_t = dict(base.dtypes)
    schema = (
        f"{keys[0]} {key_t[keys[0]]}, {keys[1]} {key_t[keys[1]]}, "
        "jaccard double, tfidf_cos double, lev_sig double, any_empty double, "
        "both_empty double"
    )
    if with_paths:
        schema += ", same_lang double, dir_sim double, jw_path double"
    return pre.mapInArrow(_feature_kernel(keys, with_paths), schema=schema)


def pair_features(
    pairs: DataFrame,
    files: DataFrame,
    tokens_col: str = "tokens",
    shaf: DataFrame | None = None,
    id_col: str = "file_id",
) -> DataFrame:
    """Featurize candidate pairs (left/right are values of `id_col` —
    pass id_col="fid" for the compact-surrogate pipeline path).

    All join keys are int64 surrogates: record ids via `id_col`, contents
    via csid = xxhash64(content_sha) — a 64-char sha never rides a shuffle.

    Two plans, picked by the corpus' duplicate ratio:
    - dedup_content (files > DEDUP_CONTENT_MIN_RATIO × distinct contents)
      — content features computed once per distinct canonical
      (csid_a ≤ csid_b) pair, joined back (the reference's
      embed-each-distinct-value-once economy, main.py:89-93). Wins when
      many files share identical content.
    - otherwise — features computed directly per file pair (skips the
      distinct + join-back shuffles). Wins when contents are mostly unique
      (mutation-heavy corpora).
    Output: left, right, *FEATURES.
    """
    built_shaf = shaf is None
    if shaf is None:
        shaf = sha_features(files, tokens_col=tokens_col)
    shafk = shaf.withColumn("csid", F.xxhash64("content_sha")).drop("content_sha")
    if built_shaf:
        # materialize the freshly-built feature table ONCE: both join sides
        # (fa, fb) reference it, so an unmaterialized plan would run the
        # whole TF-IDF build twice (once per broadcast side). Skipped when
        # the caller passed a checkpointed shaf (the staged pipeline).
        # localCheckpoint auto-releases on GC.
        shafk = shafk.localCheckpoint(eager=True)

    # decide from the (cheap, often cached) files table — counting shaf
    # would materialize the whole TF-IDF build once for the count and then
    # recompute it in the real plan
    row = files.agg(
        F.count("*").alias("n"),
        F.count_distinct("content_sha").alias("d")
        if "content_sha" in files.columns
        else F.count_distinct(tokens_col).alias("d"),
    ).collect()[0]
    n_files, n_shas = row["n"], row["d"]
    dedup_content = n_files > DEDUP_CONTENT_MIN_RATIO * n_shas
    # byte-budgeted broadcast decision (~1 KB/row measured). The
    # candidate-pair stream is 50-1000× the feature table, so broadcasting
    # turns BOTH attach joins into shuffle-free broadcast-hash joins (vs
    # sort-merge shuffling pair_count × 2 KB — the round-1 scoring stage's
    # hidden cost). Above the budget the plan falls back to sort-merge, the
    # correct shape when the distinct-content table itself is cluster-scale.
    broadcast_features = n_shas * _FEATURE_ROW_BYTES <= BROADCAST_BUDGET_BYTES

    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_features else df

    lang_col = F.col("lang") if "lang" in files.columns else F.lit("und")
    dirs = F.array_distinct(
        F.slice(F.split("path", "/"), 1, F.greatest(F.size(F.split("path", "/")) - 1, F.lit(0)))
    )
    meta = files.select(
        F.col(id_col),
        F.xxhash64("content_sha").alias("csid"),
        F.col("path"),
        lang_col.alias("lang"),
        dirs.alias("dirs"),
    )
    p = (
        pairs.select("left", "right")
        .join(
            _maybe_bcast(meta.select(
                F.col(id_col).alias("left"),
                F.col("csid").alias("csid_l"),
                F.col("path").alias("path_l"),
                F.col("lang").alias("lang_l"),
                F.col("dirs").alias("dirs_l"),
            )),
            "left",
        )
        .join(
            _maybe_bcast(meta.select(
                F.col(id_col).alias("right"),
                F.col("csid").alias("csid_r"),
                F.col("path").alias("path_r"),
                F.col("lang").alias("lang_r"),
                F.col("dirs").alias("dirs_r"),
            )),
            "right",
        )
    )
    # B11 metadata-rule features (pure Catalyst, computed per file pair)
    dir_union = F.size(F.array_union("dirs_l", "dirs_r"))
    meta_feats = {
        "same_lang": (F.col("lang_l") == F.col("lang_r")).cast("double"),
        "dir_sim": F.when(dir_union == 0, F.lit(1.0)).otherwise(
            F.size(F.array_intersect("dirs_l", "dirs_r")).cast("double") / dir_union
        ),
    }

    if dedup_content:
        p = p.withColumn("csid_a", F.least("csid_l", "csid_r")).withColumn(
            "csid_b", F.greatest("csid_l", "csid_r")
        )
        sha_scored = _score_content(
            p.select("csid_a", "csid_b").distinct(), shafk,
            ("csid_a", "csid_b"), ("_a", "_b"), _maybe_bcast,
        )
        return (
            p.join(sha_scored, ["csid_a", "csid_b"])
            .withColumn("jw_path", _jw_udf("path_l", "path_r"))
            .withColumns(meta_feats)
            .select("left", "right", *FEATURES)
        )
    return _score_content(
        p, shafk, ("left", "right"), ("_l", "_r"), _maybe_bcast, meta_feats
    ).select("left", "right", *FEATURES)


# ----------------------------------------------------------------- scoring


def score_pairs(
    feats: DataFrame,
    weights: dict[str, float] | None = None,
    features: list[str] | None = None,
) -> DataFrame:
    """score = sigmoid(w·x + b), pure Catalyst (reference: main.py:494-501).
    `features` restricts the linear term to a subset (ablation runs)."""
    w = weights or DEFAULT_WEIGHTS
    z = F.lit(float(w["intercept"]))
    for name in features or FEATURES:
        z = z + F.lit(float(w[name])) * F.col(name)
    return feats.withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))


def train_weights(
    labeled_feats: DataFrame,
    max_iter: int = 60,
    features: list[str] | None = None,
) -> dict[str, float]:
    """Fit logistic-regression weights on labeled featurized pairs
    (columns FEATURES + boolean `match`). Distributed via pyspark.ml —
    replaces the reference's driver-side sklearn fit (main.py:444-486).
    `features` restricts the model to a subset (ablation runs)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats_list = features or FEATURES
    assembler = VectorAssembler(inputCols=feats_list, outputCol="fvec")
    train = assembler.transform(
        labeled_feats.withColumn("label", F.col("match").cast("double"))
    )
    lr = LogisticRegression(
        featuresCol="fvec", labelCol="label", maxIter=max_iter, regParam=1e-4
    )
    model = lr.fit(train)
    out = {"intercept": float(model.intercept)}
    for name, coef in zip(feats_list, model.coefficients):
        out[name] = float(coef)
    return out


def train_random_forest_cv(
    labeled_feats: DataFrame,
    num_trees: int = 100,
    folds: int = 5,
    seed: int = 23,
):
    """B19 parity: RandomForest with k-fold cross-validation + integrated
    threshold sweep (reference claude_poc_v2/
    vector_enhanced_entity_resolution_v2.py:2376-2572 — 100 balanced trees,
    5-fold stratified CV, threshold sweep 0.1-0.95 for best F1; seed 23).

    Returns (model, importances: dict, best_tau: float, best_f1: float,
    cv_auc: float). The logistic path stays the engine default (its scoring
    is pure Catalyst); this is the higher-capacity alternative."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    assembler = VectorAssembler(inputCols=FEATURES, outputCol="fvec")
    train = assembler.transform(
        labeled_feats.withColumn("label", F.col("match").cast("double"))
    )
    rf = RandomForestClassifier(
        featuresCol="fvec", labelCol="label", numTrees=num_trees, seed=seed
    )
    grid = (
        ParamGridBuilder()
        .addGrid(rf.maxDepth, [5, 10])
        .addGrid(rf.minInstancesPerNode, [1, 4])
        .build()
    )
    evaluator = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    )
    cv = CrossValidator(
        estimator=rf, estimatorParamMaps=grid, evaluator=evaluator,
        numFolds=folds, seed=seed, parallelism=4,
    )
    cv_model = cv.fit(train)
    model = cv_model.bestModel
    importances = {
        name: float(v) for name, v in zip(FEATURES, model.featureImportances)
    }
    scored = score_pairs_rf(labeled_feats, model)
    best_tau, best_f1 = choose_threshold(scored)
    return model, importances, best_tau, best_f1, float(max(cv_model.avgMetrics))


def score_pairs_rf(feats: DataFrame, model) -> DataFrame:
    """Score candidate pairs with a trained RandomForest model; emits the
    same (…, score) shape as score_pairs.

    Scores with a summary-free copy of the model: a freshly fit model
    carries a training summary that holds the SparkSession, and in
    pyspark 4.1 the session's ObservationManager (materialized by any
    df.observe() elsewhere in the engine — the CC fixpoint and dedup join
    strategy both use it) is not java-serializable, so transform-time
    closure serialization can fail with `Task not serializable:
    ObservationManager` depending on session history. model.copy() keeps
    all params + trees but drops the summary (HasTrainingSummary is not a
    Param), severing the session capture."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    assembler = VectorAssembler(inputCols=FEATURES, outputCol="fvec")
    if getattr(model, "hasSummary", False):
        model = model.copy()
    out = model.transform(assembler.transform(feats))
    return out.withColumn(
        "score", vector_to_array("probability").getItem(1)
    ).drop("fvec", "rawPrediction", "probability", "prediction")


def choose_threshold(scored_labeled: DataFrame, grid: int = 99) -> tuple[float, float]:
    """Sweep thresholds on scored labeled pairs, return (best_tau, best_f1).

    Reference analog: POC v2 threshold sweep (claude_poc_v2/
    vector_enhanced_entity_resolution_v2.py:2540-2546). One pass: bin scores,
    aggregate pos/neg counts per bin, cumulative sums on the (tiny) driver.
    """
    binned = (
        scored_labeled.select(
            F.least(F.lit(grid), F.floor(F.col("score") * (grid + 1)).cast("int")).alias("bin"),
            F.col("match").cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(F.sum("pos").alias("pos"), F.count("*").alias("n"))
        .collect()
    )
    pos = [0] * (grid + 1)
    neg = [0] * (grid + 1)
    for r in binned:
        pos[r["bin"]] = r["pos"]
        neg[r["bin"]] = r["n"] - r["pos"]
    total_pos = sum(pos)
    best = (0.5, 0.0)
    tp = total_pos
    fp = sum(neg)
    for b in range(grid + 1):
        tau = b / (grid + 1)
        if tp + fp > 0 and total_pos > 0:
            prec = tp / (tp + fp)
            rec = tp / total_pos
            f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
            if f1 > best[1]:
                best = (tau, f1)
        tp -= pos[b]
        fp -= neg[b]
    return best


def sigmoid(x: float) -> float:
    return 1.0 / (1.0 + math.exp(-x))
