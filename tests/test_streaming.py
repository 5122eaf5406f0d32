"""Incremental ingest: exactly-once file pickup across restarts."""

from __future__ import annotations

from pyspark.sql import functions as F

from record_matching_spark.streaming.ingest import incremental_normalize
from record_matching_spark.synth import repo_files, synth_repo_files_with_truth


def test_incremental_normalize_exactly_once(spark, tmp_path):
    src = tmp_path / "incoming"
    dst = tmp_path / "normalized"
    ckp = tmp_path / "ckp"

    batch1 = repo_files(synth_repo_files_with_truth(spark, n_families=10, seed=1))
    batch1.write.parquet(str(src), mode="append")
    n1 = batch1.count()

    incremental_normalize(spark, str(src), str(dst), str(ckp))
    got1 = spark.read.parquet(str(dst))
    assert got1.count() == n1
    assert "content_sha" in got1.columns and "fid" in got1.columns

    # second batch lands; rerun picks up ONLY the new files
    batch2 = repo_files(synth_repo_files_with_truth(spark, n_families=6, seed=2))
    batch2.write.parquet(str(src), mode="append")
    n2 = batch2.count()

    incremental_normalize(spark, str(src), str(dst), str(ckp))
    got2 = spark.read.parquet(str(dst))
    assert got2.count() == n1 + n2                     # no duplicates
    assert got2.select("file_id").distinct().count() == n1 + n2

    # a third run with nothing new appends nothing
    incremental_normalize(spark, str(src), str(dst), str(ckp))
    assert spark.read.parquet(str(dst)).count() == n1 + n2


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """First occurrence of each key passes; re-deliveries are dropped even
    in a LATER micro-batch (state survives in the checkpoint)."""
    from record_matching_spark.streaming.ops import (
        run_stream_to_parquet,
        stateful_stream_dedup,
    )

    src = tmp_path / "in"
    dst = tmp_path / "out"
    ckp = tmp_path / "ck"
    schema = "content_sha string, doc_id long"
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], schema
    ).write.parquet(str(src), mode="append")

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_parquet(
            stateful_stream_dedup(stream, "content_sha"), str(dst), str(ckp)
        )

    run()
    got1 = spark.read.parquet(str(dst))
    assert got1.count() == 2  # one row per distinct sha
    assert {r["content_sha"] for r in got1.collect()} == {"a", "b"}

    # batch 2 re-delivers 'a' and 'b', introduces 'c'
    spark.createDataFrame(
        [("a", 9), ("c", 4), ("b", 8)], schema
    ).write.parquet(str(src), mode="append")
    run()
    got2 = spark.read.parquet(str(dst))
    assert got2.count() == 3
    assert {r["content_sha"] for r in got2.collect()} == {"a", "b", "c"}


def test_streaming_near_dup_across_batches(spark, tmp_path):
    """LSH-band state across micro-batches: a near-identical doc arriving a
    BATCH LATER still matches the original's representative; unrelated docs
    never edge; an exact re-delivery matches via the content-sha key."""
    from record_matching_spark.streaming.ops import (
        run_stream_to_parquet,
        streaming_near_dup,
    )

    src = tmp_path / "nd_in"
    dst = tmp_path / "nd_out"
    ckp = tmp_path / "nd_ck"
    schema = "doc_id string, text string"

    base = " ".join(f"tok{i}" for i in range(60))
    mutated = base.replace("tok7 ", "zzz7 ").replace("tok41 ", "qqq41 ")
    other = " ".join(f"alt{i}" for i in range(60))
    third = " ".join(f"new{i}" for i in range(60))

    spark.createDataFrame(
        [("A", base), ("D", other)], schema
    ).write.parquet(str(src), mode="append")

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_parquet(
            streaming_near_dup(stream, text_col="text", id_col="doc_id"),
            str(dst), str(ckp),
        )

    run()
    first = spark.read.parquet(str(dst))
    assert first.filter("doc_id != rep_id").count() == 0  # A, D unrelated

    # batch 2: B ≈ A (2 of 60 words mutated), C unrelated, E == D exactly
    spark.createDataFrame(
        [("B", mutated), ("C", third), ("E", other)], schema
    ).write.parquet(str(src), mode="append")
    run()
    edges = {
        (r["doc_id"], r["rep_id"])
        for r in spark.read.parquet(str(dst))
        .filter("doc_id != rep_id")
        .select("doc_id", "rep_id")
        .distinct()
        .collect()
    }
    assert ("B", "A") in edges, edges        # cross-batch LSH match
    assert ("E", "D") in edges, edges        # exact copy via content-sha key
    assert not any(d == "C" for d, _ in edges), edges


def test_streaming_near_dup_verify_threshold(spark, tmp_path):
    """verify_threshold: a doc that lands in the representative's band but
    is below the exact-Jaccard threshold produces NO edge (verify-then-emit,
    batch parity), while a true near-dup passes with its jaccard attached.
    rows_per_band=1 makes a band collision near-certain even at J≈0.33, so
    the test exercises the reject path deterministically."""
    from record_matching_spark.streaming.ops import (
        run_stream_to_parquet,
        streaming_near_dup,
    )

    src = tmp_path / "ndv_in"
    dst = tmp_path / "ndv_out"
    ckp = tmp_path / "ndv_ck"
    schema = "doc_id string, text string"

    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok7 ", "zzz7 ")  # J = 59/61 ≈ 0.967
    half = " ".join(
        [f"tok{i}" for i in range(30)] + [f"oth{i}" for i in range(30)]
    )  # J vs base = 30/90 ≈ 0.33: collides on some band, fails verify

    spark.createDataFrame([("A", base)], schema).write.parquet(
        str(src), mode="append"
    )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_parquet(
            streaming_near_dup(
                stream, text_col="text", id_col="doc_id",
                num_bands=32, rows_per_band=1,
                verify_threshold=0.9,
            ),
            str(dst), str(ckp),
        )

    run()
    spark.createDataFrame([("B", near), ("H", half)], schema).write.parquet(
        str(src), mode="append"
    )
    run()
    out = spark.read.parquet(str(dst))
    edges = out.filter("doc_id != rep_id").select(
        "doc_id", "rep_id", "jaccard"
    ).distinct().collect()
    pairs = {(r["doc_id"], r["rep_id"]) for r in edges}
    assert ("B", "A") in pairs, pairs          # cross-batch verified match
    assert all(d != "H" for d, _ in pairs), pairs  # below-τ: no edge at all
    assert all(abs(r["jaccard"] - 59 / 61) < 1e-12 for r in edges
               if r["doc_id"] == "B"), edges


def test_windowed_event_counts_drops_late_rows(spark, tmp_path):
    """Watermarked tumbling windows: rows later than the watermark behind
    the max seen timestamp are excluded from finalized windows."""
    from record_matching_spark.streaming.ops import (
        run_stream_to_parquet,
        windowed_event_counts,
    )

    src = tmp_path / "ev_in"
    dst = tmp_path / "ev_out"
    ckp = tmp_path / "ev_ck"
    schema = "ts timestamp, event_type string, value double"
    rows1 = [
        ("2024-01-01 10:05:00", "click", 1.0),
        ("2024-01-01 10:20:00", "click", 2.0),
        ("2024-01-01 12:10:00", "view", 5.0),  # advances watermark past 11:40
    ]
    df1 = spark.createDataFrame(rows1, "ts string, event_type string, value double")
    df1.selectExpr("CAST(ts AS timestamp) ts", "event_type", "value").write.parquet(
        str(src), mode="append"
    )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_parquet(
            windowed_event_counts(stream), str(dst), str(ckp)
        )

    run()
    # batch 2: a row for the 10:00 window arrives AFTER the watermark passed
    # 11:40 — it must NOT reopen the finalized window
    df2 = spark.createDataFrame(
        [("2024-01-01 10:45:00", "click", 100.0)],
        "ts string, event_type string, value double",
    )
    df2.selectExpr("CAST(ts AS timestamp) ts", "event_type", "value").write.parquet(
        str(src), mode="append"
    )
    run()
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(str(dst)).collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == (2, 3.0), got
