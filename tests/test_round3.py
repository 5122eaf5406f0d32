"""Round-3 gates: winnowing. B16 canonicalization lives in
tests/test_canonical.py, B20 threshold discovery in tests/test_tune.py and
the B21 imputation-flag test in tests/test_scoring.py."""

from __future__ import annotations

# --------------------------------------------------- winnowing fingerprints


def test_winnow_guarantee_and_overlap_pairs(spark):
    """Winnowing guarantee (SIGMOD'03): docs sharing a region ≥ w+k-1 chars
    share ≥1 fingerprint; winnow_overlap_pairs surfaces exactly the planted
    pair. Fingerprint sets are deterministic and ~2/(w+1) dense (the scale
    property vs q17's hash-per-char shape)."""
    import numpy as np

    from record_matching_spark.functions.text import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    rng = np.random.RandomState(3)

    def rand_text(n):
        return "".join(chr(97 + rng.randint(0, 26)) for _ in range(n))

    k, w = 8, 64
    shared = rand_text(w + k - 1)
    docs = [
        ("a", rand_text(4000) + shared + rand_text(4000)),
        ("b", rand_text(2000) + shared + rand_text(6000)),
        ("c", rand_text(8000)),  # unrelated
        ("d", ""),               # empty
    ]
    df = spark.createDataFrame(docs, "doc_id string, content string")
    fps = winnow_fingerprints(df, text_col="content", k=k, w=w)
    rows = {r["doc_id"]: r["winnow_fps"] for r in fps.collect()}
    assert rows["d"] == []
    # density: far fewer fingerprints than characters
    assert 0 < len(rows["a"]) < 8000 * 2 * 2 / (w + 1)
    assert set(rows["a"]) & set(rows["b"]), "guarantee violated"

    pairs = winnow_overlap_pairs(
        df, id_col="doc_id", text_col="content", k=k, w=w, min_shared=1
    ).collect()
    assert {(r["left"], r["right"]) for r in pairs} == {("a", "b")}


def test_winnow_deterministic_across_parallelism(spark):
    from record_matching_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(str(i), f"some repeated content block {i % 5} " * 40) for i in range(40)],
        "doc_id string, content string",
    )
    got = [
        sorted(
            (r["doc_id"], tuple(r["winnow_fps"]))
            for r in winnow_fingerprints(df.repartition(n)).collect()
        )
        for n in (1, 7)
    ]
    assert got[0] == got[1]
