"""Round-2 operators: search (B24), normalization analogs (B10), SQL surface
(A25), the Iceberg DDL recipe and the CSV source/sink round-trip (A1/A4).
The empty-token pair scoring and RF CV (B19) tests live in
tests/test_scoring.py."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- B24 search


def test_search_text_finds_source_doc(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "quick brown foxes are rare in boxes"),
        ],
        "doc_id long, text string",
    )
    from record_matching_spark.functions.search import search_text

    hits = search_text(docs, "quick brown fox", k=2).collect()
    assert hits[0]["doc_id"] == 1 and hits[0]["rank"] == 1
    assert hits[0]["containment"] == 1.0
    assert hits[1]["doc_id"] == 3  # partial match ranks second

    assert search_text(docs, "!!! ???", k=3).count() == 0


# ------------------------------------------------- B10 normalization analog


def test_identifier_folding_and_comment_stripping(spark):
    from record_matching_spark.operators.normalize import (
        tokenize,
        tokenize_normalized,
    )

    df = spark.createDataFrame(
        [("a", "cfg = init(buf) // tmp comment about ptr\nval = cfg")],
        "id string, content string",
    )
    plain = df.select(tokenize(F.col("content")).alias("t")).collect()[0]["t"]
    folded = df.select(tokenize_normalized(F.col("content")).alias("t")).collect()[0]["t"]
    assert "cfg" in plain and "tmp" in plain and "comment" in plain
    assert "config" in folded and "cfg" not in folded
    assert "buffer" in folded and "initialize" in folded
    # comment text gone entirely
    assert "comment" not in folded and "temporary" not in folded

    # folding makes abbreviated vs expanded identifiers tokenize identically
    a = spark.createDataFrame([("x", "cfg parser err")], "id string, content string")
    b = spark.createDataFrame([("y", "config parser error")], "id string, content string")
    ta = a.select(tokenize_normalized(F.col("content")).alias("t")).collect()[0]["t"]
    tb = b.select(tokenize_normalized(F.col("content")).alias("t")).collect()[0]["t"]
    assert ta == tb


# -------------------------------------------------------- A25 SQL surface


def test_sql_views_over_testdata(spark):
    from record_matching_spark.sources.views import register_testdata_views, sql

    names = register_testdata_views(spark, SF, tables=("nation", "region"))
    assert set(names) == {"nation", "region"}
    got = sql(spark, """
        SELECT r.r_name, count(*) AS n
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
    """).collect()
    assert len(got) == 5 and sum(r["n"] for r in got) == 25


def test_iceberg_ddl_recipe():
    from record_matching_spark.sources.io import iceberg_ddl

    ddl = iceberg_ddl("cat.db.t")
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS cat.db.t (")
    for col in ("repo STRING", "path STRING", "commit STRING",
                "lang STRING", "content STRING"):
        assert col in ddl
    assert "USING iceberg" in ddl and "PARTITIONED BY (lang, bucket(64, repo))" in ddl


# ------------------------------------------------------ A1/A4 CSV round-trip


def test_csv_roundtrip(spark, tmp_path):
    from record_matching_spark.sources.io import read_csv, write_csv

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0)], "id long, name string, x double"
    )
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    back = read_csv(spark, path, schema="id long, name string, x double")
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
