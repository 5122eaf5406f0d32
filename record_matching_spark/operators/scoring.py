"""Stage S6/S7: pairwise feature computation + weighted match scoring.

Reference analogs:
- per-field pairwise distances batched on CUDA tensors
  (/root/reference/record_matching/main.py:353-434) → ONE mapInArrow pass
  per pair batch (TF-IDF cosine + Jaccard via a batch-wide vectorized
  intersect; bit-parallel signature Levenshtein once per distinct
  signature pair; memoized Jaro-Winkler on paths).
- logistic score sigmoid(x·w + b) (/root/reference/record_matching/
  main.py:494-501,606-626) → pure Catalyst expression over broadcast
  weights (no UDF in the scoring hot path).
- weight training via sklearn liblinear (/root/reference/record_matching/
  main.py:444-486) → pyspark.ml LogisticRegression (distributed).
- embed-each-distinct-value-once economy (/root/reference/record_matching/
  main.py:89-93) → content features computed once per distinct content
  (sha_features) and collected once into a broadcast content table that
  pairs index by id.

Feature vector (per candidate pair):
  jaccard    — |tokens_l ∩ tokens_r| / |tokens_l ∪ tokens_r|   (mapInArrow)
  tfidf_cos  — cosine of L2-normalized TF-IDF vectors          (mapInArrow)
  lev_sig    — 1 - lev(sig_l, sig_r)/max(len), clamped to 0 beyond
               _LEV_THRESHOLD, on the sorted-token signature    (mapInArrow)
  jw_path    — Jaro-Winkler on file paths          (memoized, in the kernel)
  same_lang  — language equality                                (Catalyst)
  dir_sim    — path-directory token Jaccard                     (Catalyst)
  any_empty  — either side has no tokens (B21 imputation flag)  (mapInArrow)
  both_empty — both sides have no tokens (B21 imputation flag)  (mapInArrow)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matching_spark import session

# NOTE: no Jaro-Winkler on the content signature — pure-Python JW is
# ~1 ms/pair on 160-char strings (measured), which would dominate the whole
# scoring stage. JW runs only on short path strings; content similarity
# comes from TF-IDF cosine + Jaccard and Levenshtein (Arrow/numpy).
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
# levenshtein is O(len²) per pair and dominated pair-featurization cost —
# 12 tokens / 96 chars keeps the feature discriminative at ~25× less work
# than a 512-char signature (round 2 shrank 160→96 after profiling showed
# JVM levenshtein was ~40% of the scoring stage). A distance above
# _SIG_CHARS/2 clamps the similarity to 0 (the non-match region); 96 chars
# fit two 64-bit words of the bit-parallel kernel.
_SIG_TOKENS = 12
_SIG_CHARS = 96
_LEV_THRESHOLD = _SIG_CHARS // 2

# measured payload of one content-table row pair_features collects and
# broadcasts (int32 tid + float32 tw arrays + 96-char sig) ≈ 1 KB; one
# vocabulary row sha_features broadcasts is an int64 tid + float64 df
_FEATURE_ROW_BYTES = 1024
_VOCAB_ROW_BYTES = 16


# ---------------------------------------------------------------- features


def sha_features(files: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Per-distinct-content feature table keyed by content_sha.

    Columns: content_sha, sig (levenshtein signature string, ≤_SIG_CHARS),
    tid (sorted int32 token-hash ids), tw (L2-normalized float32 TF-IDF
    weights aligned with tid).

    The payload is deliberately COMPACT — pair_features collects this
    table once and broadcasts it (above its budget, joins it onto both
    sides of every candidate pair), so its row width is the scoring stage's
    broadcast or shuffle volume: int32 ids + float32 weights + a short
    signature ≈ 0.8 KB/row vs ~3 KB when shipping raw token strings (a 32-bit token-hash collision
    inside one pair's union perturbs jaccard by ~1%, far below the decision
    margin).

    Two Arrow passes, no doc-sized exchange (guide §2.3 'aggregate before
    you shuffle'). The first builds each document's sorted (tid, tf)
    arrays map-side (np.unique over packed (row<<31)|tid keys) and is
    checkpointed; the document count rides that action via observe(). The
    only shuffle is then the vocabulary-sized tid→df aggregate. The second
    pass, `w_kernel`, is the one TF-IDF weight formula, (1 + ln tf) ·
    (ln((N+1)/(df+1)) + 1), L2-normalized per document. It takes df from
    one of two sources, picked by the vocabulary rows actually pulled:
    - within session.BROADCAST_BUDGET_BYTES (16 B/row) the vocabulary is
      collected once and broadcast as two sorted numpy arrays;
    - above it nothing is collected: a JVM join attaches a per-document df
      array aligned with tid (posexplode(tid) ⋈ vocab → groupBy(csid) →
      array_sort(collect_list(struct(pos, df)))).
    Both sources give bit-identical tw (pinned by
    tests/test_scoring.py::test_sha_features_paths_agree). A document
    without tokens gets NULL tid and tw."""
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
            offsets = _offsets(np.bincount(urows, minlength=n), np.int32)
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
    # materialized once: the df aggregate below and the weight pass both
    # read it, and the observe rides this single action (no count within
    # the timeout → count the checkpointed table)
    stage1 = stage1.localCheckpoint(eager=True)
    row = session.observed_row(obs)
    nd = float(row["n"] if row is not None else stage1.count())

    vocab = (
        stage1.select(F.explode("tid").alias("tid"))
        .groupBy("tid")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    table = session.collect_within_budget(vocab, _VOCAB_ROW_BYTES)
    if table is not None:
        vt = table.column("tid").to_numpy().astype(np.int64)
        vdf = table.column("df").to_numpy().astype(np.float64)
        order = np.argsort(vt)
        bc = files.sparkSession.sparkContext.broadcast((vt[order], vdf[order]))
    else:
        bc = None
        dfs = (
            stage1.select("csid", F.posexplode("tid").alias("pos", "tid"))
            .join(vocab, "tid")
            .groupBy("csid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "df"))).alias("pd"))
            .select("csid", F.col("pd.df").alias("df"))
        )
        stage1 = stage1.join(dfs, "csid", "left")

    def w_kernel(batches):
        import pyarrow as pa

        vocab_arrays = bc.value if bc is not None else None
        for rb in batches:
            tid_arr = rb.column("tid")
            lens, flat_tid = _flat_lists(tid_arr)
            _, flat_tf = _flat_lists(rb.column("tf"))
            if vocab_arrays is None:
                dfv = _flat_lists(rb.column("df"))[1].astype(np.float64)
            else:
                vt_l, vdf_l = vocab_arrays
                dfv = vdf_l[np.searchsorted(vt_l, flat_tid.astype(np.int64))]
            w = (1.0 + np.log(flat_tf.astype(np.float64))) * (
                np.log((nd + 1.0) / (dfv + 1.0)) + 1.0
            )
            n = rb.num_rows
            rows = np.repeat(np.arange(n, dtype=np.int64), lens)
            # per-doc sum of squares, folded in tid order
            norms = np.sqrt(np.bincount(rows, weights=w * w, minlength=n))
            tw = (w / norms[rows]).astype(np.float32)
            tw_col = pa.ListArray.from_arrays(pa.array(_offsets(lens, np.int32)), pa.array(tw))
            yield pa.RecordBatch.from_arrays(
                [rb.column("content_sha"), rb.column("sig"), tid_arr, tw_col],
                names=["content_sha", "sig", "tid", "tw"],
            )

    out = stage1.mapInArrow(
        w_kernel,
        schema="content_sha string, sig string, tid array<int>, tw array<float>",
    )
    # consumers flag empty-token docs via coalesce(size(tid), 0) == 0, and
    # the s2 parquet stage round-trips the NULLs
    return out.select(
        "content_sha", "sig",
        F.when(F.size("tid") > 0, F.col("tid")).alias("tid"),
        F.when(F.size("tid") > 0, F.col("tw")).alias("tw"),
    )


def _flat_lists(arr):
    """(row_lengths, flat_values) of an Arrow list column — zero per-row
    Python objects (pyarrow.compute handles slices and nulls)."""
    import pyarrow.compute as pc

    lens = pc.fill_null(pc.list_value_length(arr), 0).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    vals = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
    return lens, vals


def _offsets(lens: np.ndarray, dtype=np.int64) -> np.ndarray:
    """CSR offsets (n + 1 entries) of row lengths `lens`."""
    off = np.zeros(len(lens) + 1, dtype=dtype)
    np.cumsum(lens, out=off[1:])
    return off


def _arrow_side(tid, tw):
    """(lens, tids, weights) of one side's Arrow tid/tw list columns; a
    null list (empty-token document) has length 0."""
    lens, ids = _flat_lists(tid)
    return lens, ids, _flat_lists(tw)[1]


def _cos_jac_batch(left, right, n: int):
    """Sparse TF-IDF cosine + token-set Jaccard for one batch of n pairs —
    ONE vectorized intersect for the whole batch. Each side is (lens,
    tids, weights): per-pair list lengths and the flat, per-pair sorted
    token ids and their weights.

    Each (row, tid) packs into one int64 key (tid < 2³¹ by construction,
    see sha_features); both key streams are globally sorted (rows ascend,
    tids ascend within a row), so the batch-wide set intersection is a
    single np.searchsorted — no per-pair Python loop, no per-pair
    allocation. Replaces the round-1 per-pair intersect1d loop (the
    scaling bottleneck flagged in VERDICT.md)."""
    lens_l, ids_l, ws_l = left
    lens_r, ids_r, ws_r = right
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
    # short-circuit to 1.0 via the same-content flag, so two different
    # empty-token documents are NOT near-duplicates (ADVICE fix)
    jac = np.where(union > 0, inter / np.maximum(union, 1.0), 0.0)
    return cos, jac


def _sig_codes(sigs):
    """Dense ids of an Arrow string column's distinct signatures: (ids per
    row, code-point matrix of the distinct signatures padded with -1,
    their lengths in code points)."""
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(sigs)
    ids = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    words = enc.dictionary.to_pylist()
    lens = np.array([len(w) for w in words], dtype=np.int64)
    flat = np.frombuffer("".join(words).encode("utf-32-le"), dtype=np.int32)
    codes = np.full((len(words), max(int(lens.max(initial=0)), 1)), -1, np.int32)
    codes[np.repeat(np.arange(len(words)), lens),
          np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)] = flat
    return ids, codes, lens


def _levenshtein(codes: np.ndarray, lens: np.ndarray, a: np.ndarray, b: np.ndarray):
    """Exact edit distance between signatures a[k] and b[k] (rows of the
    code-point matrix `codes`, lengths `lens`), vectorized over k.

    Bit-parallel (Myers 1999, in Hyyrö's 2001 form): the pattern a[k] is
    packed into 64-bit blocks of vertical deltas, and each character of
    b[k] advances every block in a dozen word operations; a block passes
    its horizontal delta to the next one. The last row of the DP matrix
    is tracked in `score`, starting at len(a[k])."""
    m, n = lens[a], lens[b]
    blocks = max(1, -(-codes.shape[1] // 64))
    pat = np.full((len(a), blocks * 64), -1, np.int32)
    pat[:, :codes.shape[1]] = codes[a]
    txt = codes[b]
    one, top = np.uint64(1), np.uint64(63)
    pv = np.full((blocks, len(a)), ~np.uint64(0))
    mv = np.zeros((blocks, len(a)), np.uint64)
    score = m.copy()
    last_blk = (m - 1) // 64                  # -1 for an empty pattern
    last_bit = ((m - 1) % 64).astype(np.uint64)
    for j in range(int(n.max(initial=0))):
        peq = np.packbits(pat == txt[:, j:j + 1], axis=1, bitorder="little")
        peq = peq.view("<u8")
        active = j < n
        # the top row is D[0][j] = j, so block 0 sees a +1 horizontal delta
        h_pos, h_neg = np.ones(len(a), bool), np.zeros(len(a), bool)
        for blk in range(blocks):
            eq, p, q = peq[:, blk], pv[blk], mv[blk]
            xv = eq | q
            eq = eq | h_neg.astype(np.uint64)
            xh = (((eq & p) + p) ^ p) | eq
            ph = q | ~(xh | p)
            mh = p & xh
            at = active & (last_blk == blk)
            score += np.where(at, ((ph >> last_bit) & one).astype(np.int64)
                              - ((mh >> last_bit) & one).astype(np.int64), 0)
            h_out_pos, h_out_neg = (ph >> top).astype(bool), (mh >> top).astype(bool)
            ph = (ph << one) | h_pos.astype(np.uint64)
            mh = (mh << one) | h_neg.astype(np.uint64)
            pv[blk] = mh | ~(xv | ph)
            mv[blk] = ph & xv
            h_pos, h_neg = h_out_pos, h_out_neg
    return np.where(m == 0, n, score)


def _lev_sig(codes, lens, sid_l, sid_r, same) -> np.ndarray:
    """Signature-Levenshtein similarity of each pair (signature ids into
    `codes`/`lens`); the distance runs once per distinct unordered
    signature pair of the batch:
    - identical content (`same`) scores 1.0;
    - two EMPTY signatures of different content score 0.0 — 1.0 is
      reserved for the same-content case (ADVICE fix);
    - equal signatures score 1.0, which is the distance-0 value;
    - otherwise 1 − d / max(len, 1), and a distance above _LEV_THRESHOLD
      clamps to 0.0 (the values of Spark's levenshtein(a, b, threshold))."""
    la, lb = lens[sid_l], lens[sid_r]
    both_empty = (la == 0) & (lb == 0)
    out = (same | ((sid_l == sid_r) & ~both_empty)).astype(np.float64)
    run = ~same & ~both_empty & (sid_l != sid_r)
    if run.any():
        lo = np.minimum(sid_l, sid_r)[run]
        hi = np.maximum(sid_l, sid_r)[run]
        pairs, inv = np.unique((lo << 32) | hi, return_inverse=True)
        d = _levenshtein(codes, lens, pairs >> 32, pairs & 0xFFFFFFFF)[inv]
        width = np.maximum(np.maximum(la[run], lb[run]), 1)
        out[run] = np.where(
            d > _LEV_THRESHOLD, 0.0, 1.0 - d.astype(np.float64) / width.astype(np.float64)
        )
    return out


def _jw_batch(av: list, bv: list, memo: dict | None = None) -> np.ndarray:
    """Jaro-Winkler over one batch of string pairs (None reads as ""):
    each distinct pair is scored once by `_jaro_winkler` — paths repeat
    heavily across candidate pairs (clone families share module names), so
    a repeat costs one dict lookup. Pass one `memo` to every batch of a
    task to share it across batches."""
    memo = {} if memo is None else memo
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


def _content_table(table):
    """The collected feature table (Arrow: csid, sig, tid, tw), csid-sorted:
    (csids, CSR offsets, int32 token ids, float32 weights, dense signature
    id per content, signature code points, signature lengths)."""
    t = table.sort_by("csid")
    csid, sig, tid, tw = (t.column(c).combine_chunks() for c in ("csid", "sig", "tid", "tw"))
    lens, ids, ws = _arrow_side(tid, tw)
    return (csid.to_numpy(), _offsets(lens), ids, ws) + _sig_codes(sig)


def _find(csids: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row of each of `q` in the sorted `csids`, -1 where it has none."""
    pos = np.searchsorted(csids, q)
    hit = pos < len(csids)
    hit[hit] = csids[pos[hit]] == q[hit]
    return np.where(hit, pos, -1)


def _take_rows(off, tid, tw, rows: np.ndarray):
    """(lens, tids, weights) of content-table `rows`, in the given order."""
    lens = off[rows + 1] - off[rows]
    flat = np.repeat(off[rows] - (np.cumsum(lens) - lens), lens)
    flat += np.arange(len(flat), dtype=np.int64)
    return lens, tid[flat], tw[flat]


def _pair_kernel(content):
    """mapInArrow kernel computing every pair feature in ONE JVM→Python
    crossing with no pandas conversion. Its content features come from one
    of two sources:
    - `content` (a broadcast of `_content_table`): each pair carries only
      its two csids, and both sides' vectors and signatures are gathered
      from the table; a pair whose content has no feature row is dropped;
    - `content` None: each pair carries both sides' tid/tw lists and
      signature strings from the sort-merge attach.
    Metadata features (same_lang, dir_sim) pass through as Arrow arrays;
    the Jaro-Winkler memo lives for the whole task."""
    import pyarrow as pa

    def kernel(batches):
        table = content.value if content is not None else None
        memo: dict = {}
        for rb in batches:
            if table is None:
                left = _arrow_side(rb.column("tid_l"), rb.column("tw_l"))
                right = _arrow_side(rb.column("tid_r"), rb.column("tw_r"))
                sids, codes, slens = _sig_codes(
                    pa.concat_arrays([rb.column("sig_l"), rb.column("sig_r")])
                )
                sid_l, sid_r = sids[:rb.num_rows], sids[rb.num_rows:]
            else:
                csids, off, tid, tw, sid, codes, slens = table
                pl = _find(csids, rb.column("csid_l").to_numpy())
                pr = _find(csids, rb.column("csid_r").to_numpy())
                keep = (pl >= 0) & (pr >= 0)
                if not keep.all():
                    rb, pl, pr = rb.filter(pa.array(keep)), pl[keep], pr[keep]
                left, right = _take_rows(off, tid, tw, pl), _take_rows(off, tid, tw, pr)
                sid_l, sid_r = sid[pl], sid[pr]
            same = rb.column("csid_l").to_numpy() == rb.column("csid_r").to_numpy()
            cos, jac = _cos_jac_batch(left, right, rb.num_rows)
            e_l, e_r = left[0] == 0, right[0] == 0
            jw = _jw_batch(
                rb.column("path_l").to_pylist(), rb.column("path_r").to_pylist(), memo
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column("left"), rb.column("right"),
                 pa.array(np.where(same, 1.0, jac)),
                 pa.array(np.where(same, 1.0, cos)),
                 pa.array(_lev_sig(codes, slens, sid_l, sid_r, same)),
                 pa.array(jw), rb.column("same_lang"), rb.column("dir_sim"),
                 pa.array((e_l | e_r).astype(np.float64)),
                 pa.array((e_l & e_r).astype(np.float64))],
                names=["left", "right", *FEATURES],
            )

    return kernel


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

    One kernel (`_pair_kernel`) scores every pair. Content features are
    computed from the per-distinct-content table `shaf` (the reference's
    embed-each-distinct-value-once economy, main.py:89-93), attached in
    one of two ways picked by the rows the driver pulls:
    - within session.BROADCAST_BUDGET_BYTES (~1 KB/row) the driver collects
      the table once and broadcasts it; pairs cross into Python carrying
      only ids, paths and the Catalyst metadata features;
    - above it the table is cluster-scale and joins both pair sides by
      sort-merge, so each pair carries both sides' arrays.
    Either way the Levenshtein distance runs once per distinct signature
    pair of an Arrow batch. A pair whose content has no feature row is
    dropped. Output: left, right, *FEATURES.
    """
    if shaf is None:
        # materialized once: the bounded collect (or both attach sides)
        # reads it. localCheckpoint auto-releases on GC.
        shaf = sha_features(files, tokens_col=tokens_col).localCheckpoint(eager=True)
    shafk = shaf.select(F.xxhash64("content_sha").alias("csid"), "sig", "tid", "tw")
    table = session.collect_within_budget(shafk, _FEATURE_ROW_BYTES)
    broadcast = table is not None

    lang_col = F.col("lang") if "lang" in files.columns else F.lit("und")
    dirs = F.array_distinct(
        F.slice(F.split("path", "/"), 1, F.greatest(F.size(F.split("path", "/")) - 1, F.lit(0)))
    )

    def side(key: str, s: str) -> DataFrame:
        meta = files.select(
            F.col(id_col).alias(key), F.xxhash64("content_sha").alias(f"csid{s}"),
            F.col("path").alias(f"path{s}"), lang_col.alias(f"lang{s}"),
            dirs.alias(f"dirs{s}"),
        )
        return F.broadcast(meta) if broadcast else meta

    # B11 metadata-rule features (pure Catalyst, computed per file pair)
    dir_union = F.size(F.array_union("dirs_l", "dirs_r"))
    p = (
        pairs.select("left", "right")
        .join(side("left", "_l"), "left")
        .join(side("right", "_r"), "right")
        .select(
            "left", "right", "csid_l", "csid_r", "path_l", "path_r",
            (F.col("lang_l") == F.col("lang_r")).cast("double").alias("same_lang"),
            F.when(dir_union == 0, F.lit(1.0)).otherwise(
                F.size(F.array_intersect("dirs_l", "dirs_r")).cast("double") / dir_union
            ).alias("dir_sim"),
        )
    )
    if broadcast:
        content = files.sparkSession.sparkContext.broadcast(_content_table(table))
    else:
        content = None
        for s in ("_l", "_r"):
            p = p.join(shafk.select([F.col(c).alias(c + s) for c in shafk.columns]), f"csid{s}")
    key_t = dict(pairs.dtypes)
    schema = f"left {key_t['left']}, right {key_t['right']}, " + ", ".join(
        f"{f} double" for f in FEATURES
    )
    return p.mapInArrow(_pair_kernel(content), schema=schema)


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
