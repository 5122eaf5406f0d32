"""Round-4 gates: executed catalog-table path and winnowing spans. The
simhash vote-sign tests live in test_dedup.py, the null-score histogram
test in test_tune.py and the canonical_fields column clash in
test_canonical.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_catalog_table_round_trip(spark, tmp_path):
    """create_catalog_table: DataFrameWriterV2 createOrReplace against the
    session catalog, partitioned, catalog read-back is row-identical.
    This is the executed half of the Iceberg story — the same writeTo
    call binds to an Iceberg catalog when the runtime jar is present."""
    from record_matching_spark.sources.io import create_catalog_table

    df = spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "x = 1"),
         ("r1", "b.go", "c2", "go", "func b() {}"),
         ("r2", "c.py", "c3", "py", "y = 2")],
        "repo string, path string, commit string, lang string, content string",
    )
    table = "rmspark_t4_round_trip"
    try:
        back = create_catalog_table(spark, df, table, partition_by=("lang",))
        # partitioned tables surface partition columns last — compare by name
        assert sorted(map(tuple, back.select(*df.columns).collect())) == sorted(
            map(tuple, df.collect())
        )
        # partition column survives as data AND as table partitioning
        parts = spark.sql(f"DESCRIBE TABLE {table}").collect()
        assert any("Partition" in (r["col_name"] or "") for r in parts)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_iceberg_round_trip(spark, tmp_path):
    """Real Iceberg write→catalog-read→snapshot parity. Executes ONLY when
    the runtime has Iceberg extensions (this sandbox has no jar and no
    network to fetch one — ROADMAP.md records the attempt); the skip
    message carries the deploy recipe."""
    from record_matching_spark.sources.io import (
        _has_iceberg,
        create_catalog_table,
        iceberg_ddl,
    )

    if not _has_iceberg(spark):
        pytest.skip(
            "no Iceberg extensions in this runtime (offline sandbox; see "
            "ROADMAP.md 'Iceberg runtime jar' — deploy with "
            "spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-"
            "4.0_2.13 and run iceberg_ddl()): " + iceberg_ddl()[:80]
        )
    df = spark.range(10).select(
        F.col("id").cast("string").alias("repo"),
        F.lit("p").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("py").alias("lang"),
        F.lit("x").alias("content"),
    )
    table = "iceberg_cat.db.rmspark_t4_iceberg"
    back = create_catalog_table(spark, df, table, fmt="iceberg")
    assert back.count() == 10
    snaps = spark.sql(f"SELECT snapshot_id FROM {table}.snapshots").collect()
    assert len(snaps) >= 1  # time-travel-able
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_winnow_portable_array_matches_long_form(spark):
    """The two portable winnowing paths — the array-expression form
    (winnow_fingerprints(portable=True), O(m·w) slices) and the
    posexplode+window long form used by winnow_overlap_pairs/q36 — must
    select identical fingerprint sets per document."""
    from record_matching_spark.functions.text import winnow_fingerprints

    texts = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "short"),
        (3, ""),
        (4, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
        (5, "x" * 7),   # shorter than k=8
        (6, "exactly-w-grams " * 3),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    k, w = 8, 16
    arr = {
        r["doc_id"]: sorted(r["winnow_fps"])
        for r in winnow_fingerprints(
            df, text_col="text", k=k, w=w, portable=True
        ).collect()
    }
    # long form: replicate the q36 inverted-index construction
    from pyspark.sql import Window as W

    c = F.col("text")
    starts = F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1)))
    hashed = F.transform(
        starts,
        lambda i: F.conv(
            F.substring(F.md5(F.substring(c, i, k)), 1, 15), 16, 10
        ).cast("long"),
    )
    pos = df.select(F.col("doc_id"), F.posexplode(hashed).alias("p", "h"))
    wspec = W.partitionBy("doc_id").orderBy("p")
    win = pos.select(
        "doc_id",
        F.min("h").over(wspec.rowsBetween(-(w - 1), 0)).alias("fp"),
        "p",
        F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("m"),
    ).filter((F.col("p") >= w - 1) | (F.col("p") == F.col("m") - 1))
    long = {}
    for r in win.select("doc_id", "fp").distinct().collect():
        long.setdefault(r["doc_id"], []).append(r["fp"])
    long = {d: sorted(v) for d, v in long.items()}
    assert arr == long, (arr, long)


def test_winnow_span_pairs_finds_shared_region(spark):
    """MOSS alignment: two docs sharing a long substring must pair with
    spans that LOCATE it — near the end of the doc that has it as a
    suffix, near the start of the doc that has it as a prefix. Checked on
    the production numpy path and the portable md5 path."""
    from record_matching_spark.functions.text import winnow_span_pairs

    shared = "the common plagiarised passage both documents carry " * 6
    a_pre = "completely unrelated preamble text zzz " * 8
    b_suf = " trailing unrelated conclusion qqq" * 8
    df = spark.createDataFrame(
        [(1, a_pre + shared), (2, shared + b_suf)],
        "doc_id long, text string",
    )
    for portable in (False, True):
        rows = winnow_span_pairs(
            df, id_col="doc_id", text_col="text", k=8, w=16, min_shared=2,
            portable=portable,
        ).collect()
        assert len(rows) == 1, (portable, rows)
        r = rows[0]
        assert (r["left"], r["right"]) == (1, 2)
        assert r["shared_fps"] >= 2
        # doc 2 carries the shared text as a PREFIX: its span starts early
        assert r["r_start"] < len(shared) // 2, (portable, r)
        # doc 1 carries it as a SUFFIX: its span ends deep into the doc
        assert r["l_end"] > len(a_pre) - 1, (portable, r)
