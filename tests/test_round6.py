"""Round-6 optimization gates: every rewrite that changed an operator's
internals is pinned to the round-5 semantics here.

- sha_features grew a map-side Arrow TF-IDF path (numpy-broadcast idf) with
  the round-5 shuffle shape kept as the >1M-docs fallback — both paths must
  produce the same table.
- candidate_pairs deduplicates with an exchange-first shape (repartition by
  pair key, then aggregate) — the pair set AND the min-block_key provenance
  must equal the raw stream's.
- connected components dropped large-star's per-round distinct — component
  assignments on duplicate-heavy / high-diameter graphs must be exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_sha_features_paths_agree(spark, monkeypatch):
    """The numpy-broadcast fast path and the >1M-docs shuffle fallback must
    emit identical (content_sha, sig, tid, tw) tables — same tids, same
    float32 weights — modulo the empty-doc null-vs-missing-row detail that
    both normalize to NULL."""
    import record_matching_spark.operators.scoring as S

    rows = [
        ("a", "alpha beta beta gamma"),
        ("b", "alpha beta delta delta delta"),
        ("c", "gamma gamma epsilon"),
        ("d", ""),  # empty-token doc -> NULL tid/tw
        ("e", "alpha beta beta gamma"),  # duplicate content of 'a'
    ]
    files = spark.createDataFrame(rows, "file_id string, content string")
    files = files.withColumn("content_sha", F.sha2("content", 256)).withColumn(
        "tokens",
        F.filter(F.split(F.lower("content"), r"[^a-z0-9_]+"),
                 lambda t: F.length(t) >= 2),
    )
    fast = S.sha_features(files)
    monkeypatch.setattr(S, "VOCAB_BROADCAST_MAX_DOCS", 0)
    slow = S.sha_features(files)

    def norm(df):
        out = {}
        for r in df.collect():
            out[r["content_sha"]] = (
                r["sig"],
                None if r["tid"] is None else tuple(r["tid"]),
                None if r["tw"] is None else tuple(r["tw"]),
            )
        return out

    nf, ns = norm(fast), norm(slow)
    assert set(nf) == set(ns)
    for sha in nf:
        assert nf[sha][0] == ns[sha][0], "sig mismatch"
        assert nf[sha][1] == ns[sha][1], "tid mismatch"
        if nf[sha][2] is None:
            assert ns[sha][2] is None
        else:
            for x, y in zip(nf[sha][2], ns[sha][2]):
                assert x == pytest.approx(y, abs=1e-6)
    # weights are L2-normalized
    for sha, (_, tid, tw) in nf.items():
        if tw:
            assert sum(w * w for w in tw) == pytest.approx(1.0, abs=1e-5)


def test_candidate_pairs_dedup_equals_raw(spark):
    """Exchange-first dedup must emit exactly the distinct raw pair set,
    and keep_block_key=True must carry the MIN shared block key (the
    round-5 groupBy contract) — checked against a brute-force dedup of the
    dedup=False stream on a block table with cross-band duplicate pairs."""
    from record_matching_spark.operators.blocking import candidate_pairs

    rows = []
    # three "bands": docs 1-4 share key 100; 1,2 also share 50; 3,4 share 7
    for k, members in [(100, [1, 2, 3, 4]), (50, [1, 2]), (7, [3, 4]),
                       (900, [5, 6, 7]), (3, [6, 7])]:
        rows += [(m, k) for m in members]
    blocks = spark.createDataFrame(rows, "file_id long, block_key long")
    raw = candidate_pairs(blocks, salt_cap=2, dedup=False).collect()
    want = {}
    for r in raw:
        key = (r["left"], r["right"])
        want[key] = min(want.get(key, r["block_key"]), r["block_key"])
    got = {
        (r["left"], r["right"]): r["block_key"]
        for r in candidate_pairs(blocks, salt_cap=2).collect()
    }
    assert got == want
    got_pairs = _rows(
        candidate_pairs(blocks, salt_cap=2, keep_block_key=False),
        ["left", "right"],
    )
    assert got_pairs == sorted(want)


def test_cc_exact_on_dup_heavy_graph(spark):
    """Star rounds without large-star's distinct must still converge to the
    exact component minima on a graph that maximizes duplicate emissions
    (many nodes sharing one minimum) plus a long chain (worst-case
    diameter), with duplicate + reversed input edges thrown in."""
    from record_matching_spark.operators.cluster import connected_components

    edges = []
    # star: 1..40 all attached to 0 via a middle hub 41 (degree fan-in)
    edges += [(41, i) for i in range(41)]
    # chain: 100..160
    edges += [(i, i + 1) for i in range(100, 160)]
    # duplicates and reversed orientations
    edges += [(i + 1, i) for i in range(100, 160, 3)]
    edges += [(41, 5), (41, 5), (0, 41)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    for n in range(42):
        assert got[n] == 0
    for n in range(100, 161):
        assert got[n] == 100
