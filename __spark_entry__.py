"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: MinHash-LSH near-dup blocking + connected-
components transitive closure over the sf0.001 documents table (the
reference pipeline's block→pair→cluster core re-expressed Spark-first).

`queries()` / `oracle_sql()` — one entry per implemented operator family
from SURVEY.md §2, DuckDB-oracled where expressible (55 of 60, including
the q26/q29 recursive-CTE closures, the q24/q36 portable-md5-hash
variants recomputed entirely in SQL, q37's MOSS alignment spans, q38's
cross-corpus decontamination, q39's C4-style line-level dedup, q40's
Gopher repetition signals, q41's surgical span-level decontamination and
q43's within-corpus keep-first substring dedup — each reconstructed
post-excision text pinned by sha256 in SQL — and q42's PII scrubbing
checked against DuckDB's RE2 regexp engine, and q44's sequence packing
— a distributed two-level prefix sum checked against the sequential
global cumsum — and q45's HTML extraction, the same ordered regexp
chain replayed on DuckDB's RE2; q46-q53 round out the training-data
family: unigram-LM quality scoring, exact n-gram decontamination,
mixture accounting, temperature resampling, end-to-end near-dup corpus
dedup, the composed quality-filter chain with per-rule verdicts,
deterministic global shuffle rank, token-balanced shard layout,
BPE-pretokenizer token counting, incremental-ingest dedup against a
persisted index, bigram-LM fluency scoring in add-k AND interpolated
Kneser-Ney forms, leakage-safe cluster-level splitting, and URL
canonicalization + one-doc-per-URL dedup — each replayed exactly in
SQL).
Rows-only by design: q25/q34/q58 approximate ANN (recall-gated; q58 is
IVF-PQ, the memory-compressed path), q27 media decode (no codecs in
DuckDB), q30 the full ER pipeline on an in-flight synthetic corpus
(golden-SHA pytest gate) — each carried by a pytest substitute instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Near-dup clustering of the documents table at sf0.001:
    tokenize → minhash → LSH bands → salted self-join → exact-Jaccard verify
    → connected components → (doc_id, cluster_id)."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs
    from record_matching_spark.operators.cluster import cluster_assignments

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_near_dup_pairs(docs, threshold=0.9)
    edges = pairs.select(F.col("left").alias("src"), F.col("right").alias("dst"))
    return cluster_assignments(edges, docs, "doc_id")


# ---------------------------------------------------------------- queries


def _q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A13/A14/A15/A17: hash aggregate w/ multiple functions (TPC-H Q1 shape,
    reference's get_field_distances-style grouped agg, main.py:587-603)."""
    li = _read(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1999-06-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _q02_revenue_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    """A9: inner equi-join (broadcast dim) + agg."""
    o = _read(spark, sf, "orders")
    c = _read(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def _q03_nation_balance(spark: SparkSession, sf: str) -> DataFrame:
    """A10/A22: left outer join + coalesce imputation (reference null
    imputation, main.py:394-405)."""
    n = _read(spark, sf, "nation")
    s = _read(spark, sf, "supplier")
    return (
        n.join(s, n.n_nationkey == s.s_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.coalesce(F.round(F.avg("s_acctbal"), 2), F.lit(0.0)).alias("avg_bal"),
            F.count("s_suppkey").alias("n_suppliers"),
        )
    )


def _q04_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """A11: anti-join (reference FP/FN computation, main.py:774-782)."""
    c = _read(spark, sf, "customer")
    o = _read(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_lonely"))
    )


def _q05_lineitem_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """A12/A24: self-join pair expansion with canonical l<r
    (reference calculate_expanded_match, main.py:697-712).

    r6 shape: ONE exchange (groupBy okey) + in-row pair expansion over the
    collected line numbers, replacing the self-join — the round-5 plan
    broadcast the full 600k-row table and probed it from the single-file
    scan's lone partition (one task built 1M output rows); group sizes are
    bounded by lines-per-order (≤ 7), so the in-row expansion is O(k²) on
    tiny arrays and the exchange parallelizes the output production. Same
    rows (exceptAll-verified both directions + unchanged DuckDB oracle)."""
    li = _read(spark, sf, "lineitem")
    g = (
        li.select(F.col("l_orderkey").alias("okey"), F.col("l_linenumber").alias("ln"))
        .groupBy("okey")
        .agg(F.collect_list("ln").alias("lns"))
    )
    pairs = F.flatten(
        F.transform(
            "lns",
            lambda x: F.transform(
                F.filter("lns", lambda y: x < y),
                lambda y: F.struct(x.alias("la"), y.alias("lb")),
            ),
        )
    )
    return g.select("okey", F.explode(pairs).alias("p")).select(
        "okey", F.col("p.la").alias("la"), F.col("p.lb").alias("lb")
    )


def _q06_top_orders_per_cust(spark: SparkSession, sf: str) -> DataFrame:
    """A19/A20: window row_number top-k per key (reference vector_id
    assignment, main.py:152-157; top-k ANN neighbors)."""
    o = _read(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


def _q07_distinct_cust_status(spark: SparkSession, sf: str) -> DataFrame:
    """A21: distinct/dedup (reference dedup_records, main.py:89-93)."""
    return _read(spark, sf, "orders").select("o_custkey", "o_orderstatus").distinct()


def _q08_order_lines_signature(spark: SparkSession, sf: str) -> DataFrame:
    """A13 hard part: ORDERED array_agg (reference array_agg(distance ORDER
    BY key), main.py:592-594) — Spark collect_list is unordered, so
    sort_array before joining."""
    li = _read(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(
            ",",
            F.transform(F.sort_array(F.collect_list("l_linenumber")), lambda x: x.cast("string")),
        ).alias("lines_sig")
    )


def _q09_union_priority(spark: SparkSession, sf: str) -> DataFrame:
    """A27: union/append accumulation (reference filtered-pair flushes,
    main.py:560-577)."""
    o = _read(spark, sf, "orders")
    u = o.filter(F.col("o_orderpriority") == "1-URGENT").unionByName(
        o.filter(F.col("o_orderpriority") == "2-HIGH")
    )
    return u.groupBy("o_orderpriority").agg(F.count("*").alias("n"))


def _q10_sha_docs(spark: SparkSession, sf: str) -> DataFrame:
    """A29/B1: content hash per row — the per-row sha256 invariant."""
    d = _read(spark, sf, "documents")
    return d.select("doc_id", F.sha2("text", 256).alias("text_sha"))


def _q11_high_value_custs(spark: SparkSession, sf: str) -> DataFrame:
    """A7/A8: aggregate + range-predicate post-filter (HAVING)."""
    o = _read(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .filter(F.col("total_spent") > 1_000_000.0)
    )


def _q12_event_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """A22/A23: scalar expressions — bucketing, conditional logic."""
    e = _read(spark, sf, "events")
    return (
        e.withColumn("bucket", F.floor(F.col("value") / 50).cast("int"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def _q13_monthly_orders(spark: SparkSession, sf: str) -> DataFrame:
    """A6: projection with scalar date extraction."""
    o = _read(spark, sf, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(F.count("*").alias("n_orders"))
    )


def _q14_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: whitespace token counting (training-data pipeline op)."""
    from record_matching_spark.functions.text import token_count

    d = _read(spark, sf, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def _q15_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: deterministic quality heuristic."""
    from record_matching_spark.functions.text import quality_score

    d = _read(spark, sf, "documents")
    return d.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))


def _q16_lang_guess(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: marker-word language id."""
    from record_matching_spark.functions.text import language_id

    d = _read(spark, sf, "documents")
    return d.select("doc_id", language_id(F.col("text")).alias("lang_guess"))


def _q17_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: min-shingle-hash document fingerprint (md5 variant so
    DuckDB can oracle it; production path uses xxhash64)."""
    d = _read(spark, sf, "documents")
    starts = F.sequence(F.lit(1), F.greatest(F.length("text") - F.lit(7), F.lit(1)))
    hashes = F.transform(starts, lambda i: F.md5(F.substring(F.col("text"), i, 8)))
    return d.select("doc_id", F.array_min(hashes).alias("fp"))


def _q18_tokenset_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup: exact on normalized token SET (content-normalized exact dedup;
    reference dedup-by-hash, main.py:89-93)."""
    from record_matching_spark.operators.normalize import tokenize

    d = _read(spark, sf, "documents")
    keyed = d.select(
        "doc_id",
        F.sha2(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokenize(F.col("text"))))), 256
        ).alias("k"),
    )
    a = keyed.select(F.col("k"), F.col("doc_id").alias("left"))
    b = keyed.select(F.col("k"), F.col("doc_id").alias("right"))
    return a.join(b, "k").filter(F.col("left") < F.col("right")).select("left", "right")


def _q19_shingle_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup: character-8-shingle n-gram Jaccard via MinHash-LSH buckets
    with exact verification — the scale path (round 1's quadratic
    within-lang brute force replaced per VERDICT item 8; ngram_jaccard_pairs
    remains as the test oracle). Oracle = brute-force shingle Jaccard: at
    b=32, r=4 a J≥0.9 pair escapes LSH with prob ≤ 1e-15."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs

    d = _read(spark, sf, "documents")
    return minhash_near_dup_pairs(d, threshold=0.9, shingle_k=8)


def _q20_minhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup: MinHash-LSH near-dup with exact-Jaccard verification — the
    100-TB-scale dedup path (replaces reference ANN blocking,
    main.py:552-577). Oracle = brute-force Jaccard: at b=32,r=4 a J≥0.9
    pair escapes LSH with prob ≤ 1e-15, so the sets are equal."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs

    d = _read(spark, sf, "documents")
    return minhash_near_dup_pairs(d, threshold=0.9)


def _q21_cc_groups(spark: SparkSession, sf: str) -> DataFrame:
    """B14: transitive closure (connected_components) on chain graphs
    (worst-case diameter) — cluster = min doc_id of the chain."""
    from record_matching_spark.operators.cluster import cluster_assignments

    d = _read(spark, sf, "documents")
    w = W.partitionBy("lang", "source").orderBy("doc_id")
    edges = (
        d.select("lang", "source", "doc_id")
        .withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("doc_id").alias("dst"))
    )
    return cluster_assignments(edges, d, "doc_id")


def _q22_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity search: exact cosine top-k via the DISTRIBUTED tiled
    block-nested-loop (no driver collect of either side — round 1 collected
    the whole corpus as the query set; VERDICT item 6). cosine_topk stays
    the small-explicit-query-set operator."""
    from record_matching_spark.functions.similarity import cosine_topk_tiled

    e = _read(spark, sf, "embeddings")
    return cosine_topk_tiled(e, e, k=3, id_col="vec_id", vec_col="embedding")


def _q23_embedding_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup: embedding-cosine near-dup pairs within label groups."""
    from record_matching_spark.functions.similarity import embedding_near_dup_pairs

    e = _read(spark, sf, "embeddings")
    return embedding_near_dup_pairs(
        e, threshold=0.3, group_cols=["label"]
    ).select("left", "right")


def _q32_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data op: deterministic, append-stable train/val/test split
    by key hash (portable md5 mode so DuckDB reproduces the assignment
    bit-for-bit)."""
    from record_matching_spark.functions.sampling import hash_split

    d = _read(spark, sf, "documents")
    return hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, portable=True
    ).select("doc_id", "split")


def _q33_quota_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data op: per-group quota sampling (cap 20 docs per lang,
    best-first by n_chars, deterministic id tie-break) — the training-mix
    balancer."""
    from record_matching_spark.functions.sampling import quota_sample

    d = _read(spark, sf, "documents")
    return quota_sample(
        d, ["lang"], cap=20, order_col="n_chars", id_col="doc_id",
        hash_tiebreak=False,
    ).select("lang", "doc_id", "n_chars")


_SEARCH_QUERY = "the quick data pipeline processing"


def _q31_search_text(spark: SparkSession, sf: str) -> DataFrame:
    """B24: query-by-string search — tokenize the query, rank the corpus by
    containment then token Jaccard, deterministic top-k (reference
    search_string, main.py:504-549)."""
    from record_matching_spark.functions.search import search_text

    d = _read(spark, sf, "documents")
    return search_text(d, _SEARCH_QUERY, k=10).select(
        "doc_id",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
        "rank",
    )


def _q28_canonical_docs(spark: SparkSession, sf: str) -> DataFrame:
    """B16: cluster canonicalization — one representative per cluster by
    completeness (n_chars) with deterministic tie-break (reference
    claude_poc_v2:2086-2206)."""
    from record_matching_spark.operators.canonical import canonicalize_clusters

    d = _read(spark, sf, "documents")
    clusters = d.select(
        "doc_id",
        F.min("doc_id").over(W.partitionBy("lang", "source")).alias("cluster_id"),
    )
    canon = canonicalize_clusters(
        clusters, d, id_col="doc_id",
        order_by=[F.desc("n_chars"), F.asc("doc_id")],
    )
    return canon.select("cluster_id", "doc_id", "cluster_size")


def _q35_canonical_fields(spark: SparkSession, sf: str) -> DataFrame:
    """B16 field-frequency aggregation: each cluster's canonical field value
    is the most frequent among members, ties to the lowest value
    (reference claude_poc_v2:2100-2206 — the canonical entity aggregates
    fields across members, not just one representative row). One hash
    aggregate via mode(col, deterministic=true)."""
    from record_matching_spark.operators.canonical import canonical_fields

    d = _read(spark, sf, "documents")
    clusters = d.select(
        "doc_id", F.min("doc_id").over(W.partitionBy("lang")).alias("cluster_id")
    )
    return canonical_fields(
        clusters, d, fields=["source", "n_chars"], id_col="doc_id"
    ).select("cluster_id", "cluster_size", "source", "n_chars")


# ------------------------------------------------- rows-only (non-SQL ops)


def _q36_winnow_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Doc fingerprinting, scale path: MOSS winnowing (SIGMOD'03) k-gram
    hash + window minima → inverted-index overlap join. portable=True uses
    md5 character-k-gram hashes so the DuckDB oracle reproduces the
    fingerprint SETS exactly (min OVER w-row window + DISTINCT); the
    production numpy rolling-hash path selects the same minima structure
    and stays pytest-gated (test_round3::test_winnow_*)."""
    from record_matching_spark.functions.text import winnow_overlap_pairs

    d = _read(spark, sf, "documents")
    return winnow_overlap_pairs(
        d, id_col="doc_id", text_col="text", k=8, w=32, min_shared=1,
        portable=True,
    )


def _q37_winnow_spans(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS alignment half: overlapping pairs with the k-gram position
    SPANS their shared winnowing fingerprints cover on each side
    (SIGMOD'03 §4 — matched fingerprints are reported with positions).
    portable md5 mode → the DuckDB oracle recomputes fingerprints AND
    spans from the same window-min construction."""
    from record_matching_spark.functions.text import winnow_span_pairs

    d = _read(spark, sf, "documents")
    return winnow_span_pairs(
        d, id_col="doc_id", text_col="text", k=8, w=32, min_shared=2,
        portable=True,
    )


def _q39_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: C4-style line-level dedup — trimmed non-empty
    lines occurring in ≥ 2 distinct docs are boilerplate and removed from
    every doc; remaining lines keep their order (inverted-index shape,
    q08's ordered-agg rebuild). dedup_sha pins the reconstructed text
    byte-for-byte against the DuckDB oracle."""
    from record_matching_spark.functions.dedup import dedup_lines

    d = _read(spark, sf, "documents")
    return dedup_lines(d, text_col="text", id_col="doc_id", min_docs=2)


def _q40_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: Gopher-style repetition signals (duplicate-line
    fraction, duplicate-line char fraction, most-frequent-2-gram coverage)
    — the repetition filters public training pipelines apply, pure
    Catalyst."""
    from record_matching_spark.functions.text import repetition_features

    d = _read(spark, sf, "documents")
    r = repetition_features(d, id_col="doc_id", text_col="text")
    return r.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        "top_2gram",
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
    )


def _q42_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: PII scrubbing (C4/Dolma-style masking) —
    emails, IPv4s, and dash phone numbers replaced with typed placeholders
    + per-doc counts, pure Catalyst regexp (one map-only scan, the 100-TB
    shape). The synthetic documents carry no PII, so a deterministic PII
    suffix derived from doc_id is appended IN THE QUERY on both the Spark
    and oracle sides — the scrub is exercised on every row (counts ≥ 3).
    clean_text is hash-pinned against DuckDB's RE2 regexp engine (patterns
    kept inside the Java-regex/RE2-agreeing subset)."""
    from record_matching_spark.functions.text import scrub_pii

    d = _read(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    with_pii = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), sid, F.lit("@example.com"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return scrub_pii(with_pii, text_col="text", id_col="doc_id")


_EVAL_SOURCES = ("src0", "src1", "src2")


def _q38_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: cross-corpus decontamination — near-dup pairs
    BETWEEN a training split and a held-out/benchmark split (sources
    src0-src2 stand in for the benchmark side), probe side broadcast so
    the big corpus never shuffles. Oracle = brute-force token Jaccard
    between the two subsets (at b=32, r=4 a J≥0.9 pair escapes LSH with
    prob ≤ 1e-15)."""
    from record_matching_spark.functions.dedup import cross_corpus_near_dup_pairs

    d = _read(spark, sf, "documents")
    probe = d.filter(F.col("source").isin(*_EVAL_SOURCES))
    corpus = d.filter(~F.col("source").isin(*_EVAL_SOURCES))
    return cross_corpus_near_dup_pairs(corpus, probe, threshold=0.9)


def _q41_span_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: SURGICAL decontamination — excise only the
    character span a training doc shares with the benchmark/probe split
    (winnowing position index both sides, probe fingerprint set broadcast,
    gaps-and-islands span merge, ordered complement rebuild) instead of
    dropping the whole doc (q38). clean_sha pins every reconstructed doc
    byte-for-byte against the DuckDB oracle."""
    from record_matching_spark.functions.text import excise_contaminated_spans

    d = _read(spark, sf, "documents")
    probe = d.filter(F.col("source").isin(*_EVAL_SOURCES))
    corpus = d.filter(~F.col("source").isin(*_EVAL_SOURCES))
    return excise_contaminated_spans(
        corpus, probe, id_col="doc_id", text_col="text", k=8, w=32,
        portable=True,
    )


def _q43_self_dedup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: within-corpus exact-substring dedup,
    keep-first (Lee et al. 2022 re-expressed over the winnowing position
    index) — every character span duplicated across documents survives
    only in the lowest-id doc holding it; later copies are excised
    surgically. clean_sha pins every rebuilt doc byte-for-byte against
    the DuckDB oracle (same construction as q41 with a min-doc-id owner
    CTE instead of a probe fingerprint set)."""
    from record_matching_spark.functions.text import self_dedup_spans

    d = _read(spark, sf, "documents")
    return self_dedup_spans(
        d, id_col="doc_id", text_col="text", k=8, w=32, portable=True
    )


def _q44_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: sequence packing — documents laid end-to-end
    in doc_id order and chopped into fixed-512-token training sequences
    (concat-and-chunk); per doc, the sequence it starts in, its token
    offset inside it, and how many sequences it spans. Distributed
    two-level prefix sum (range partition → per-partition window → P-row
    driver prefix + broadcast back), never a single-partition global
    window; the oracle recomputes the trivially-sequential global cumsum
    in DuckDB."""
    from record_matching_spark.functions.sampling import pack_sequences
    from record_matching_spark.functions.text import token_count

    d = _read(spark, sf, "documents")
    tok = d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(tok, id_col="doc_id", token_col="n_tokens", budget=512)


def _q45_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: HTML → prose extraction (the C4-style first
    step on web crawl). The synthetic documents are plain text, so a
    deterministic HTML wrapper (tags, a script block, a comment,
    entities) is added IN THE QUERY on both the Spark and oracle sides;
    the extracted text is compared verbatim against DuckDB's RE2 engine
    applying the same ordered regexp chain."""
    from record_matching_spark.functions.text import strip_html

    d = _read(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>doc "), sid,
        F.lit("</title><script type=\"text/javascript\">var x = 1 < 2 && 3 > 2;</script>"),
        F.lit("<style>.c{color:red}</style></head><body><!-- nav boilerplate -->"),
        F.lit("<p>Tom &amp; Jerry &lt;rated&gt; &quot;5&#39;9&quot;&nbsp;tall</p><div class=\"main\">"),
        F.col("text"),
        F.lit("</div></body></html>"),
    )
    return d.select("doc_id", strip_html(html).alias("clean_text"))


def _q46_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: corpus-self-trained unigram-LM quality score —
    mean negative log probability of each doc's tokens under the corpus's
    own unigram distribution (the CCNet-style fluency signal, no external
    model). Per-(doc,token) counts collapse before the broadcast vocab
    join; oracle recomputes the same distribution in SQL."""
    from record_matching_spark.functions.text import unigram_logprob

    d = _read(spark, sf, "documents")
    r = unigram_logprob(d, text_col="text", id_col="doc_id")
    return r.select(
        "doc_id", "n_tokens", F.round("neg_logprob", 6).alias("neg_logprob")
    )


def _q47_ngram_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: exact n-gram decontamination (GPT-3/PaLM mode)
    — corpus docs sharing any exact 8-token run with the benchmark split
    (sources src0-src2, as in q38/q41), probe n-gram set broadcast so the
    corpus crosses one map-only scan. portable=True joins on the raw gram
    string so DuckDB reproduces counts exactly."""
    from record_matching_spark.functions.dedup import ngram_decontaminate

    d = _read(spark, sf, "documents")
    probe = d.filter(F.col("source").isin(*_EVAL_SOURCES))
    corpus = d.filter(~F.col("source").isin(*_EVAL_SOURCES))
    return ngram_decontaminate(corpus, probe, n=8, portable=True)


def _q48_mixture_report(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: mixture accounting — tokens/docs/share/
    cumulative share per (source, lang), the table mixture weights and
    epochs-per-source budgets are read off of. One corpus-wide hash agg;
    windows run over #groups rows only."""
    from record_matching_spark.functions.sampling import mixture_report
    from record_matching_spark.functions.text import token_count

    d = _read(spark, sf, "documents")
    t = d.select("source", "lang", token_count(F.col("text")).alias("n_tokens"))
    r = mixture_report(t, group_cols=["source", "lang"], weight_col="n_tokens")
    return r.select(
        "source", "lang", "docs", "tokens",
        F.round("share", 6).alias("share"),
        F.round("cum_share", 6).alias("cum_share"),
        "rank",
    )


def _q49_temperature_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: temperature-based mixture rebalancing — keep a
    deterministic md5-hash-chosen subset per language with probability
    (n_s/n_min)^(alpha-1) (alpha=0.5: sampled counts ∝ sqrt(n_s), the
    multilingual upweighting rule — the testdata's lang column is the
    skewed axis; source is uniform). Append-stable membership; group
    thresholds broadcast; one map-only filter."""
    from record_matching_spark.functions.sampling import temperature_sample

    d = _read(spark, sf, "documents")
    r = temperature_sample(
        d, group_col="lang", alpha=0.5, id_col="doc_id", portable=True
    )
    return r.select("doc_id", "lang", "keep_thresh")


def _q50_near_dedup_keep_one(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: end-to-end near-dup DEDUP — minhash-LSH
    verified pairs → distributed transitive closure → keep-one-per-cluster
    (min doc_id survives). The composed corpus-dedup operation, oracled by
    the q26 recursive-CTE closure with a kept flag."""
    from record_matching_spark.functions.dedup import near_dedup_keep_min

    d = _read(spark, sf, "documents")
    return near_dedup_keep_min(d, threshold=0.9)


def _q51_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: the composed C4/Gopher quality-filter chain
    with per-rule verdicts (first failing rule wins — too_short /
    lang_blocked / low_quality / repetitive_2gram / pass), thresholds
    calibrated to bind on this corpus (p90 top-2gram coverage = 0.118).
    Length/lang/quality rules are one map-only Catalyst scan; the Gopher
    repetition join engages only because its threshold binds."""
    from record_matching_spark.functions.text import quality_filter

    d = _read(spark, sf, "documents")
    return quality_filter(
        d, min_chars=100, allowed_langs=["en", "de", "fr", "es"],
        lang_col="lang", min_quality=0.45, max_top_2gram_frac=0.12,
    )


def _q52_shuffle_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: deterministic global shuffle — dense 0-based
    rank of each doc under the md5(seed|id) permutation, computed with
    the two-level prefix sum (never a single-partition global window);
    the oracle is the trivially-sequential row_number in DuckDB."""
    from record_matching_spark.functions.sampling import global_shuffle_rank

    d = _read(spark, sf, "documents")
    return global_shuffle_rank(d, id_col="doc_id", seed="shuffle", portable=True)


def _q53_shard_by_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: the layout finisher — shuffle (q52's md5
    permutation) then deal whole docs into 8 token-balanced shards
    (ceil(total/8) budget, docs never split), with each doc's 0-based
    position within its shard. One two-level-prefix scan; the oracle
    replays the sequential cumsum in DuckDB."""
    from record_matching_spark.functions.sampling import (
        global_shuffle_rank, shard_by_budget,
    )
    from record_matching_spark.functions.text import token_count

    d = _read(spark, sf, "documents")
    tok = d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    ranked = tok.join(
        global_shuffle_rank(d, id_col="doc_id", seed="shuffle", portable=True),
        "doc_id",
    )
    return shard_by_budget(
        ranked, id_col="doc_id", token_col="n_tokens", n_shards=8,
        order_col="shuffle_rank",
    )


def _q54_bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Text analysis: BPE-pretokenizer token count (GPT-2 pretokenize rule
    in the RE2-safe subset) next to the whitespace count — the cheap
    token-budget estimator; one map-only Catalyst scan, oracled against
    DuckDB's RE2 applying the identical pattern."""
    from record_matching_spark.functions.text import token_count, token_count_bpe

    d = _read(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
    )


def _q55_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: incremental-ingest dedup — a NEW shard (the
    non-src0-2 docs) checked against a PREBUILT near-dup index of history
    (src0-2; build_near_dup_index — the band-once/reuse-forever
    contract), plus the within-shard keep-first rule. history_dup beats
    shard_dup; every new doc appears with (kept, reason). Oracle =
    brute-force cross + within Jaccard at the same threshold."""
    from record_matching_spark.functions.dedup import (
        build_near_dup_index, incremental_dedup,
    )

    d = _read(spark, sf, "documents")
    history = d.filter(F.col("source").isin(*_EVAL_SOURCES))
    new = d.filter(~F.col("source").isin(*_EVAL_SOURCES))
    bands, feats = build_near_dup_index(history)
    return incremental_dedup(new, bands, feats, threshold=0.9)


def _q56_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: corpus-self-trained bigram-LM fluency score —
    mean −ln of the add-1-smoothed p(w2|w1) over each doc's bigrams (one
    rung above q46's unigram signal); model tables re-aggregated from the
    per-(doc,bigram) counts and broadcast."""
    from record_matching_spark.functions.text import bigram_logprob

    d = _read(spark, sf, "documents")
    r = bigram_logprob(d, text_col="text", id_col="doc_id", add_k=1.0)
    return r.select(
        "doc_id", "n_bigrams", F.round("neg_logprob", 6).alias("neg_logprob")
    )


def _q57_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: leakage-safe train/val/test split — whole
    near-dup clusters (q50's minhash+CC machinery) assigned via the
    portable md5 hash_split on the cluster id, so no near-dup pair
    straddles a split. Oracle = recursive-CTE closure + the q32 md5
    bucket on the cluster min."""
    from record_matching_spark.functions.sampling import leakage_safe_split

    d = _read(spark, sf, "documents")
    return leakage_safe_split(
        d, weights={"train": 0.8, "val": 0.1, "test": 0.1},
        threshold=0.9, portable=True,
    )


def _q58_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity search: IVF-PQ approximate top-k (coarse cells prune
    pairs, product-quantized codes compress the scoring join to m bytes
    per vector, ADC einsum scoring, exact re-rank of the shortlist) —
    approximate by construction, rows-only like q25/q34; recall-gated in
    pytest (test_round5::test_ivfpq_recall_gate)."""
    from record_matching_spark.functions.similarity import ivfpq_cosine_topk

    e = _read(spark, sf, "embeddings")
    return ivfpq_cosine_topk(e, e, k=3, n_cells=16, n_probe=10, m=8, nbits=8)


def _q59_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: URL extraction + canonicalization + C4-style
    one-doc-per-URL keep-first dedup. The synthetic docs carry no URLs,
    so three are injected deterministically IN THE QUERY on both sides
    (mixed-case host, utm params, fragment, trailing punctuation — each
    normalization rule exercised on every row); DuckDB replays the same
    ordered regexp chain on RE2."""
    from record_matching_spark.functions.text import url_dedup

    d = _read(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    with_urls = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" visit https://Site"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".Example.COM/page/"), sid,
            F.lit("?utm_source=x&ref="), (F.col("doc_id") % 7).cast("string"),
            F.lit("#frag then http://SHARED.example.com/common?utm_campaign=a"),
            F.lit(" finally see https://news.example.com/a/"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("."),
        ).alias("text"),
    )
    return url_dedup(with_urls)


def _q60_kn_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline op: interpolated Kneser-Ney bigram-LM fluency
    score (absolute discount 0.75, continuation-probability backoff —
    the standard n-gram smoother) beside q56's add-k variant; all four
    count tables derive from one bigram aggregate."""
    from record_matching_spark.functions.text import bigram_logprob

    d = _read(spark, sf, "documents")
    r = bigram_logprob(
        d, text_col="text", id_col="doc_id", smoothing="kn", discount=0.75
    )
    return r.select(
        "doc_id", "n_bigrams", F.round("neg_logprob", 6).alias("neg_logprob")
    )


def _q24_simhash_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup: SimHash near-dups (pigeonhole chunk blocking + bit_count
    verify). With max_hamming=3 ≤ n_chunks-1 the output is EXACTLY the
    hamming ≤ 3 pair set, so the DuckDB oracle recomputes simhash from
    portable md5 token hashes (per-bit majority in SQL) and brute-forces
    all pairs — the blocking is a plan optimization, not a semantics
    change."""
    from record_matching_spark.functions.dedup import simhash_near_dup_pairs

    d = _read(spark, sf, "documents")
    return simhash_near_dup_pairs(d, max_hamming=3, portable=True)


def _q25_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity search: hyperplane-LSH bucketed ANN (approximate → no
    exact oracle; recall vs brute force tested in tests/test_functions.py)."""
    from record_matching_spark.functions.similarity import lsh_cosine_topk

    e = _read(spark, sf, "embeddings")
    return lsh_cosine_topk(e, e, k=3, n_tables=16, bits=4)


def _q34_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity search: IVF coarse-quantizer ANN (k-means cells + n_probe
    inverted-list search, exact cosine re-rank). Approximate → rows-only;
    recall vs brute force gated in tests/test_functions.py."""
    from record_matching_spark.functions.similarity import ivf_cosine_topk

    e = _read(spark, sf, "embeddings")
    return ivf_cosine_topk(e, e, k=3, n_cells=16, n_probe=6)


def _q26_er_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Mini-ER over the documents table: MinHash-LSH near-dup pairs →
    connected-components transitive closure → (doc_id, cluster_id) with
    singleton completion. DuckDB oracle = brute-force Jaccard pairs + a
    recursive-CTE reachability closure (VERDICT item 7: the round-1 q26 was
    rows-only; the full synthetic-corpus pipeline moved to q30)."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs
    from record_matching_spark.operators.cluster import cluster_assignments

    d = _read(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.9)
    edges = pairs.select(F.col("left").alias("src"), F.col("right").alias("dst"))
    return cluster_assignments(edges, d, "doc_id")


def _q29_refined_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """B15 cluster refinement on the documents mini-ER: clusters whose mean
    within-cluster Jaccard < 0.95 are split at edges below 0.95 (weak-bridge
    mega-cluster splitting; reference claude_poc_v2:1640-1853). DuckDB
    oracle = q26's recursive-CTE closure, then coherence/size per cluster,
    then a second recursive closure over the ≥0.95 edges of the incoherent
    clusters only (pytest tests/test_refine.py carries the unit gate)."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs
    from record_matching_spark.operators.cluster import cluster_assignments
    from record_matching_spark.operators.refine import refine_clusters

    d = _read(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(d, threshold=0.9)
    edges = pairs.select(F.col("left").alias("src"), F.col("right").alias("dst"))
    assign = cluster_assignments(edges, d, "doc_id")
    return refine_clusters(
        assign, pairs.withColumnRenamed("jaccard", "score"), "doc_id",
        coherence_tau=0.95, edge_tau=0.95, min_size=3,
    )


def _q30_er_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The full ER pipeline (normalize → block → salted pairs → score →
    transitive closure) on the deterministic synthetic repo_files corpus
    (BASELINE.json.input_hint table shape; external SQL oracle impossible
    since the table is synthesized in-flight — correctness gated in
    tests/test_pipeline_e2e.py instead)."""
    from record_matching_spark.operators.blocking import blocking_keys, candidate_pairs
    from record_matching_spark.operators.cluster import cluster_assignments
    from record_matching_spark.operators.normalize import normalize_files
    from record_matching_spark.operators.scoring import pair_features, score_pairs
    from record_matching_spark.synth import repo_files, synth_repo_files_with_truth

    truth = synth_repo_files_with_truth(spark, n_families=40, seed=11, members_mean=4,
                                        heavy_families=0)
    norm = normalize_files(repo_files(truth)).cache()
    pairs = candidate_pairs(blocking_keys(norm, id_col="fid"), id_col="fid")
    scored = score_pairs(pair_features(pairs, norm, id_col="fid"))
    edges = scored.filter(F.col("score") > 0.5).select(
        F.col("left").alias("src"), F.col("right").alias("dst")
    )
    assign = cluster_assignments(edges, norm, "fid")
    return assign.join(norm.select("fid", "file_id"), "fid").select(
        "file_id", "cluster_id"
    )


def _q27_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal: binary payload → mapInPandas decode + feature extraction.
    All three modalities decode for REAL in pure numpy (BMP images, PCM-WAV
    audio, uncompressed-AVI video with frame sampling + temporal pooling)
    over real synthesized payloads. Rows-only: gated by
    test_bmp_wav_codec_roundtrip + test_media_features_reflect_real_decode."""
    from record_matching_spark.functions.multimodal import extract_media_features, synth_media

    media = synth_media(spark, n=96)
    return extract_media_features(media).select("media_id", "kind", "n_bytes")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": _q01_pricing_summary,
        "q02_revenue_by_segment": _q02_revenue_by_segment,
        "q03_nation_balance": _q03_nation_balance,
        "q04_customers_without_orders": _q04_customers_without_orders,
        "q05_lineitem_pairs": _q05_lineitem_pairs,
        "q06_top_orders_per_cust": _q06_top_orders_per_cust,
        "q07_distinct_cust_status": _q07_distinct_cust_status,
        "q08_order_lines_signature": _q08_order_lines_signature,
        "q09_union_priority": _q09_union_priority,
        "q10_sha_docs": _q10_sha_docs,
        "q11_high_value_custs": _q11_high_value_custs,
        "q12_event_buckets": _q12_event_buckets,
        "q13_monthly_orders": _q13_monthly_orders,
        "q14_token_count": _q14_token_count,
        "q15_quality": _q15_quality,
        "q16_lang_guess": _q16_lang_guess,
        "q17_fingerprint": _q17_fingerprint,
        "q18_tokenset_dup_pairs": _q18_tokenset_dup_pairs,
        "q19_shingle_dedup": _q19_shingle_dedup,
        "q20_minhash_dedup": _q20_minhash_dedup,
        "q21_cc_groups": _q21_cc_groups,
        "q22_embedding_topk": _q22_embedding_topk,
        "q23_embedding_near_dups": _q23_embedding_near_dups,
        "q24_simhash_dups": _q24_simhash_dups,
        "q25_lsh_topk": _q25_lsh_topk,
        "q26_er_clusters": _q26_er_clusters,
        "q27_media_features": _q27_media_features,
        "q28_canonical_docs": _q28_canonical_docs,
        "q29_refined_clusters": _q29_refined_clusters,
        "q30_er_pipeline": _q30_er_pipeline,
        "q31_search_text": _q31_search_text,
        "q32_hash_split": _q32_hash_split,
        "q33_quota_sample": _q33_quota_sample,
        "q34_ivf_topk": _q34_ivf_topk,
        "q35_canonical_fields": _q35_canonical_fields,
        "q36_winnow_overlap": _q36_winnow_overlap,
        "q37_winnow_spans": _q37_winnow_spans,
        "q38_decontamination": _q38_decontamination,
        "q39_line_dedup": _q39_line_dedup,
        "q40_repetition": _q40_repetition,
        "q41_span_decontamination": _q41_span_decontamination,
        "q42_pii_scrub": _q42_pii_scrub,
        "q43_self_dedup_spans": _q43_self_dedup_spans,
        "q44_pack_sequences": _q44_pack_sequences,
        "q45_html_extract": _q45_html_extract,
        "q46_unigram_logprob": _q46_unigram_logprob,
        "q47_ngram_decontaminate": _q47_ngram_decontaminate,
        "q48_mixture_report": _q48_mixture_report,
        "q49_temperature_sample": _q49_temperature_sample,
        "q50_near_dedup_keep_one": _q50_near_dedup_keep_one,
        "q51_quality_filter": _q51_quality_filter,
        "q52_shuffle_rank": _q52_shuffle_rank,
        "q53_shard_by_budget": _q53_shard_by_budget,
        "q54_bpe_token_count": _q54_bpe_token_count,
        "q55_incremental_dedup": _q55_incremental_dedup,
        "q56_bigram_logprob": _q56_bigram_logprob,
        "q57_leakage_safe_split": _q57_leakage_safe_split,
        "q58_ivfpq_topk": _q58_ivfpq_topk,
        "q59_url_dedup": _q59_url_dedup,
        "q60_kn_bigram_logprob": _q60_kn_bigram_logprob,
    }


# ----------------------------------------------------------------- oracles

_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'), x -> len(x) >= 2)"
)
_STOP_PAT = r"\b(the|and|of|to|a|in|is|it|that|for)\b"
_MARKERS = {
    "en": r"\b(the|and|of|to|is)\b",
    "de": r"\b(der|die|und|ist|das)\b",
    "fr": r"\b(le|la|et|les|des)\b",
    "es": r"\b(el|los|que|de|una)\b",
}


def oracle_sql() -> dict[str, str]:
    lang_counts = ", ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS c_{lang}"
        for lang, pat in _MARKERS.items()
    )
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1999-06-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_revenue_by_segment": """
            SELECT c_mktsegment,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q03_nation_balance": """
            SELECT n_name,
                   coalesce(round(avg(s_acctbal), 2), 0.0) AS avg_bal,
                   count(s_suppkey) AS n_suppliers
            FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "q04_customers_without_orders": """
            SELECT c_nationkey, count(*) AS n_lonely
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey
        """,
        "q05_lineitem_pairs": """
            SELECT a.l_orderkey AS okey, a.l_linenumber AS la, b.l_linenumber AS lb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        """,
        "q06_top_orders_per_cust": """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders)
            WHERE rn <= 2
        """,
        "q07_distinct_cust_status": """
            SELECT DISTINCT o_custkey, o_orderstatus FROM orders
        """,
        "q08_order_lines_signature": """
            SELECT l_orderkey,
                   string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS lines_sig
            FROM lineitem GROUP BY l_orderkey
        """,
        "q09_union_priority": """
            SELECT o_orderpriority, count(*) AS n FROM (
                SELECT o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
                UNION ALL
                SELECT o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH')
            GROUP BY o_orderpriority
        """,
        "q10_sha_docs": """
            SELECT doc_id, sha256(text) AS text_sha FROM documents
        """,
        "q11_high_value_custs": """
            SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
            FROM orders GROUP BY o_custkey
            HAVING round(sum(o_totalprice), 2) > 1000000.0
        """,
        "q12_event_buckets": """
            SELECT event_type, CAST(floor(value / 50) AS INT) AS bucket,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type, bucket
        """,
        "q13_monthly_orders": """
            SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr,
                   CAST(extract(month FROM o_orderdate) AS INT) AS mo,
                   count(*) AS n_orders
            FROM orders GROUP BY yr, mo
        """,
        "q14_token_count": r"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\s+'),
                                        x -> len(x) > 0)) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "q15_quality": rf"""
            SELECT doc_id, round(
                least(4.0 * (len(regexp_extract_all(lower(text), '{_STOP_PAT}'))::DOUBLE
                             / greatest(len(list_filter(string_split_regex(text, '\s+'),
                                                        x -> len(x) > 0)), 1)), 1.0) * 0.4
                + (len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE
                   / greatest(length(text), 1)) * 0.3
                + least(length(text)::DOUBLE / 500.0, 1.0) * 0.3, 6) AS quality
            FROM documents
        """,
        "q16_lang_guess": f"""
            SELECT doc_id,
                   CASE WHEN gmax = 0 THEN 'und'
                        WHEN c_en = gmax THEN 'en'
                        WHEN c_de = gmax THEN 'de'
                        WHEN c_fr = gmax THEN 'fr'
                        ELSE 'es' END AS lang_guess
            FROM (SELECT doc_id, c_en, c_de, c_fr, c_es,
                         greatest(c_en, c_de, c_fr, c_es) AS gmax
                  FROM (SELECT doc_id, {lang_counts} FROM documents))
        """,
        "q17_fingerprint": """
            SELECT doc_id, min(md5(substr(text, i, 8))) AS fp
            FROM documents,
                 unnest(generate_series(1, greatest(length(text) - 7, 1))) AS t(i)
            GROUP BY doc_id
        """,
        "q18_tokenset_dup_pairs": f"""
            WITH t AS (SELECT doc_id,
                              list_sort(list_distinct({_TOKS})) AS toks
                       FROM documents)
            SELECT a.doc_id AS "left", b.doc_id AS "right"
            FROM t a JOIN t b ON a.toks = b.toks AND a.doc_id < b.doc_id
        """,
        "q19_shingle_dedup": """
            WITH t AS (SELECT doc_id, text,
                              list_sort(list_distinct(list_transform(
                                  generate_series(1, greatest(length(text) - 7, 1)),
                                  i -> substr(text, i, 8)))) AS toks
                       FROM documents)
            SELECT "left", "right", jaccard FROM (
                SELECT a.doc_id AS "left", b.doc_id AS "right",
                       CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                            THEN (CASE WHEN a.text = b.text THEN 1.0 ELSE 0.0 END)
                            ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                                 / len(list_distinct(list_concat(a.toks, b.toks)))
                       END AS jaccard
                FROM t a JOIN t b ON a.doc_id < b.doc_id)
            WHERE jaccard >= 0.9
        """,
        "q20_minhash_dedup": f"""
            WITH t AS (SELECT doc_id, text,
                              list_sort(list_distinct({_TOKS})) AS toks
                       FROM documents)
            SELECT "left", "right", jaccard FROM (
                SELECT a.doc_id AS "left", b.doc_id AS "right",
                       CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                            THEN (CASE WHEN a.text = b.text THEN 1.0 ELSE 0.0 END)
                            ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                                 / len(list_distinct(list_concat(a.toks, b.toks)))
                       END AS jaccard
                FROM t a JOIN t b ON a.doc_id < b.doc_id)
            WHERE jaccard >= 0.9
        """,
        "q21_cc_groups": """
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY lang, source) AS cluster_id
            FROM documents
        """,
        "q26_er_clusters": f"""
            WITH RECURSIVE
            t AS MATERIALIZED (SELECT doc_id, text,
                         list_sort(list_distinct({_TOKS})) AS toks
                  FROM documents),
            p AS MATERIALIZED (
                SELECT a.doc_id AS l, b.doc_id AS r FROM t a JOIN t b
                ON a.doc_id < b.doc_id
                WHERE CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                           THEN (CASE WHEN a.text = b.text THEN 1.0 ELSE 0.0 END)
                           ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                                / len(list_distinct(list_concat(a.toks, b.toks)))
                      END >= 0.9),
            e AS (SELECT l, r FROM p UNION ALL SELECT r AS l, l AS r FROM p),
            walk(node, reach) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT w.node, e.r FROM walk w JOIN e ON e.l = w.reach
            )
            SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node
        """,
        "q24_simhash_dups": f"""
            WITH th AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
                FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            ),
            votes AS (
                SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
                FROM th, unnest(generate_series(0, 59)) AS g(b)
                GROUP BY doc_id, b
            ),
            sig AS (
                SELECT doc_id,
                       sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
                FROM votes GROUP BY doc_id
            ),
            s AS (
                SELECT d.doc_id, coalesce(sig.simhash, 0)::BIGINT AS simhash
                FROM documents d LEFT JOIN sig USING (doc_id)
            )
            SELECT a.doc_id AS "left", b.doc_id AS "right",
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "q29_refined_clusters": f"""
            WITH RECURSIVE
            t AS MATERIALIZED (SELECT doc_id, text,
                         list_sort(list_distinct({_TOKS})) AS toks
                  FROM documents),
            p AS MATERIALIZED (
                SELECT l, r, j FROM (
                    SELECT a.doc_id AS l, b.doc_id AS r,
                           CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                                THEN (CASE WHEN a.text = b.text THEN 1.0 ELSE 0.0 END)
                                ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                                     / len(list_distinct(list_concat(a.toks, b.toks)))
                           END AS j
                    FROM t a JOIN t b ON a.doc_id < b.doc_id)
                WHERE j >= 0.9),
            e AS (SELECT l, r FROM p UNION ALL SELECT r AS l, l AS r FROM p),
            walk(node, reach) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT w.node, e.r FROM walk w JOIN e ON e.l = w.reach
            ),
            assign AS MATERIALIZED (SELECT node AS doc_id, min(reach) AS cluster_id
                       FROM walk GROUP BY node),
            coh AS (SELECT al.cluster_id, avg(p.j) AS coherence
                    FROM p JOIN assign al ON p.l = al.doc_id
                    GROUP BY al.cluster_id),
            sizes AS (SELECT cluster_id, count(*) AS size
                      FROM assign GROUP BY cluster_id),
            bad AS (SELECT s.cluster_id
                    FROM sizes s LEFT JOIN coh USING (cluster_id)
                    WHERE s.size >= 3 AND coalesce(coh.coherence, 1.0) < 0.95),
            badm AS MATERIALIZED (SELECT doc_id FROM assign
                     WHERE cluster_id IN (SELECT cluster_id FROM bad)),
            se AS MATERIALIZED (
                SELECT l, r FROM p
                WHERE j >= 0.95
                  AND l IN (SELECT doc_id FROM badm)
                  AND r IN (SELECT doc_id FROM badm)
                UNION ALL
                SELECT r AS l, l AS r FROM p
                WHERE j >= 0.95
                  AND l IN (SELECT doc_id FROM badm)
                  AND r IN (SELECT doc_id FROM badm)
            ),
            walk2(node, reach) AS (
                SELECT doc_id, doc_id FROM badm
                UNION
                SELECT w.node, se.r FROM walk2 w JOIN se ON se.l = w.reach
            )
            SELECT doc_id, cluster_id FROM assign
            WHERE cluster_id NOT IN (SELECT cluster_id FROM bad)
            UNION ALL
            SELECT node AS doc_id, min(reach) AS cluster_id
            FROM walk2 GROUP BY node
        """,
        "q36_winnow_overlap": """
            WITH pos AS (
                SELECT doc_id, i,
                       ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::UBIGINT::BIGINT AS h
                FROM documents,
                     unnest(generate_series(1, greatest(length(text) - 7, 1))) AS g(i)
            ),
            win AS (
                SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS fp,
                       row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
                       count(*) OVER (PARTITION BY doc_id) AS m
                FROM pos
            ),
            fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE rn >= 32 OR rn = m),
            filt AS (
                SELECT doc_id, fp FROM (
                    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
                    FROM fps)
                WHERE df <= 200
            )
            SELECT a.doc_id AS "left", b.doc_id AS "right",
                   count(*) AS shared_fps
            FROM filt a JOIN filt b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY "left", "right"
            HAVING count(*) >= 1
        """,
        "q37_winnow_spans": """
            WITH pos AS (
                SELECT doc_id, i,
                       ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::UBIGINT::BIGINT AS h
                FROM documents,
                     unnest(generate_series(1, greatest(length(text) - 7, 1))) AS g(i)
            ),
            win AS (
                SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS fp,
                       row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS p,
                       count(*) OVER (PARTITION BY doc_id) AS m
                FROM pos
            ),
            fps AS (
                SELECT doc_id, fp, min(p) AS minp, max(p) AS maxp
                FROM win WHERE p >= 31 OR p = m - 1
                GROUP BY doc_id, fp
            ),
            filt AS (
                SELECT doc_id, fp, minp, maxp FROM (
                    SELECT doc_id, fp, minp, maxp,
                           count(*) OVER (PARTITION BY fp) AS df
                    FROM fps)
                WHERE df <= 200
            )
            SELECT a.doc_id AS "left", b.doc_id AS "right",
                   count(*) AS shared_fps,
                   min(a.minp) AS l_start, max(a.maxp) AS l_end,
                   min(b.minp) AS r_start, max(b.maxp) AS r_end
            FROM filt a JOIN filt b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY "left", "right"
            HAVING count(*) >= 2
        """,
        "q38_decontamination": f"""
            WITH t AS (SELECT doc_id, text, source,
                              list_sort(list_distinct({_TOKS})) AS toks
                       FROM documents),
            c AS (SELECT * FROM t WHERE source NOT IN ('src0','src1','src2')),
            p AS (SELECT * FROM t WHERE source IN ('src0','src1','src2'))
            SELECT corpus_id, probe_id, jaccard FROM (
                SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id,
                       CASE WHEN len(list_distinct(list_concat(c.toks, p.toks))) = 0
                            THEN (CASE WHEN c.text = p.text THEN 1.0 ELSE 0.0 END)
                            ELSE len(list_intersect(c.toks, p.toks))::DOUBLE
                                 / len(list_distinct(list_concat(c.toks, p.toks)))
                       END AS jaccard
                FROM c, p)
            WHERE jaccard >= 0.9
        """,
        "q41_span_decontamination": """
            WITH pos AS (
                SELECT doc_id, source, i,
                       ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::UBIGINT::BIGINT AS h
                FROM documents,
                     unnest(generate_series(1, greatest(length(text) - 7, 1))) AS g(i)
            ),
            win AS (
                SELECT doc_id, source,
                       min(h) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS fp,
                       row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS p,
                       count(*) OVER (PARTITION BY doc_id) AS m
                FROM pos
            ),
            fps AS (
                SELECT doc_id, source, fp, min(p) AS minp, max(p) AS maxp
                FROM win WHERE p >= 31 OR p = m - 1
                GROUP BY doc_id, source, fp
            ),
            pf AS (SELECT DISTINCT fp FROM fps
                   WHERE source IN ('src0','src1','src2')),
            hits AS (
                SELECT f.doc_id, greatest(f.minp - 31, 0) AS s, f.maxp + 7 AS e
                FROM fps f JOIN pf USING (fp)
                WHERE f.source NOT IN ('src0','src1','src2')
            ),
            isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(
                                max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), -2) + 1
                            THEN 1 ELSE 0 END AS nw
                FROM hits
            ),
            merged AS (
                SELECT i.doc_id, min(s) AS s,
                       least(max(e), length(d.text) - 1) AS e
                FROM (SELECT doc_id, s, e,
                             sum(nw) OVER (PARTITION BY doc_id
                                           ORDER BY s, e) AS island
                      FROM isl) i
                JOIN documents d USING (doc_id)
                GROUP BY i.doc_id, i.island, length(d.text)
            ),
            segs AS (
                SELECT doc_id,
                       coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s)
                                + 1, 0) AS ks,
                       s - 1 AS ke
                FROM merged
                UNION ALL
                SELECT m.doc_id, max(m.e) + 1 AS ks,
                       length(d.text) - 1 AS ke
                FROM merged m JOIN documents d USING (doc_id)
                GROUP BY m.doc_id, length(d.text)
            ),
            rebuilt AS (
                SELECT s.doc_id,
                       string_agg(substr(d.text, ks + 1, ke - ks + 1),
                                  '' ORDER BY ks) AS ct
                FROM segs s JOIN documents d USING (doc_id)
                WHERE ks <= ke
                GROUP BY s.doc_id
            ),
            stats AS (
                SELECT doc_id, count(*) AS n_spans,
                       sum(e - s + 1) AS removed
                FROM merged GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_chars,
                   sha256(CASE WHEN st.doc_id IS NOT NULL
                               THEN coalesce(rb.ct, '')
                               ELSE d.text END) AS clean_sha
            FROM documents d
            LEFT JOIN stats st USING (doc_id)
            LEFT JOIN rebuilt rb USING (doc_id)
            WHERE d.source NOT IN ('src0','src1','src2')
        """,
        "q42_pii_scrub": r"""
            WITH base AS (
                SELECT doc_id,
                       text || ' reach user' || CAST(doc_id AS VARCHAR)
                            || '@example.com'
                            || ' from 10.0.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || '.7 or call 555-'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            AS t
                FROM documents
            ),
            s1 AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(t,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                         AS BIGINT) AS n_emails,
                       regexp_replace(t,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g') AS t
                FROM base
            ),
            s2 AS (
                SELECT doc_id, n_emails,
                       CAST(len(regexp_extract_all(t,
                         '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT)
                         AS n_ipv4,
                       regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
                                      '<IP>', 'g') AS t
                FROM s1
            ),
            s3 AS (
                SELECT doc_id, n_emails, n_ipv4,
                       CAST(len(regexp_extract_all(t,
                         '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
                       regexp_replace(t, '\b\d{3}-\d{3}-\d{4}\b',
                                      '<PHONE>', 'g') AS t
                FROM s2
            )
            SELECT doc_id, t AS clean_text, n_emails, n_ipv4, n_phones
            FROM s3
        """,
        "q43_self_dedup_spans": """
            WITH pos AS (
                SELECT doc_id, i,
                       ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::UBIGINT::BIGINT AS h
                FROM documents,
                     unnest(generate_series(1, greatest(length(text) - 7, 1))) AS g(i)
            ),
            win AS (
                SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY i
                                    ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS fp,
                       row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS p,
                       count(*) OVER (PARTITION BY doc_id) AS m
                FROM pos
            ),
            fps AS (
                SELECT doc_id, fp, min(p) AS minp, max(p) AS maxp
                FROM win WHERE p >= 31 OR p = m - 1
                GROUP BY doc_id, fp
            ),
            own AS (
                SELECT fp, min(doc_id) AS owner
                FROM fps GROUP BY fp HAVING count(*) >= 2
            ),
            hits AS (
                SELECT f.doc_id, greatest(f.minp - 31, 0) AS s, f.maxp + 7 AS e
                FROM fps f JOIN own o USING (fp)
                WHERE f.doc_id <> o.owner
            ),
            isl AS (
                SELECT doc_id, s, e,
                       CASE WHEN s > coalesce(
                                max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), -2) + 1
                            THEN 1 ELSE 0 END AS nw
                FROM hits
            ),
            merged AS (
                SELECT i.doc_id, min(s) AS s,
                       least(max(e), length(d.text) - 1) AS e
                FROM (SELECT doc_id, s, e,
                             sum(nw) OVER (PARTITION BY doc_id
                                           ORDER BY s, e) AS island
                      FROM isl) i
                JOIN documents d USING (doc_id)
                GROUP BY i.doc_id, i.island, length(d.text)
            ),
            segs AS (
                SELECT doc_id,
                       coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s)
                                + 1, 0) AS ks,
                       s - 1 AS ke
                FROM merged
                UNION ALL
                SELECT m.doc_id, max(m.e) + 1 AS ks,
                       length(d.text) - 1 AS ke
                FROM merged m JOIN documents d USING (doc_id)
                GROUP BY m.doc_id, length(d.text)
            ),
            rebuilt AS (
                SELECT s.doc_id,
                       string_agg(substr(d.text, ks + 1, ke - ks + 1),
                                  '' ORDER BY ks) AS ct
                FROM segs s JOIN documents d USING (doc_id)
                WHERE ks <= ke
                GROUP BY s.doc_id
            ),
            stats AS (
                SELECT doc_id, count(*) AS n_spans,
                       sum(e - s + 1) AS removed
                FROM merged GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_chars,
                   sha256(CASE WHEN st.doc_id IS NOT NULL
                               THEN coalesce(rb.ct, '')
                               ELSE d.text END) AS clean_sha
            FROM documents d
            LEFT JOIN stats st USING (doc_id)
            LEFT JOIN rebuilt rb USING (doc_id)
        """,
        "q44_pack_sequences": r"""
            WITH tok AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split_regex(text, '\s+'),
                                            x -> len(x) > 0)) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            cum AS (
                SELECT doc_id, n_tokens,
                       coalesce(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS st
                FROM tok
            )
            SELECT doc_id, n_tokens,
                   CAST(st // 512 AS BIGINT) AS seq_id,
                   CAST(st % 512 AS BIGINT) AS offset,
                   CAST((st + greatest(n_tokens, 1) - 1) // 512
                        - st // 512 + 1 AS BIGINT) AS n_seqs
            FROM cum
        """,
        "q45_html_extract": r"""
            WITH base AS (
                SELECT doc_id,
                       '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
                       || '</title><script type="text/javascript">var x = 1 < 2 && 3 > 2;</script>'
                       || '<style>.c{color:red}</style></head><body><!-- nav boilerplate -->'
                       || '<p>Tom &amp; Jerry &lt;rated&gt; &quot;5&#39;9&quot;&nbsp;tall</p><div class="main">'
                       || text
                       || '</div></body></html>' AS t
                FROM documents
            )
            SELECT doc_id,
                   trim(regexp_replace(
                     regexp_replace(
                      regexp_replace(
                       regexp_replace(
                        regexp_replace(
                         regexp_replace(
                          regexp_replace(
                           regexp_replace(
                            regexp_replace(
                             regexp_replace(
                              regexp_replace(t,
                                '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                             '(?s)<!--.*?-->', ' ', 'g'),
                            '(?s)<[^>]+>', ' ', 'g'),
                           '&nbsp;', ' ', 'g'),
                          '&lt;', '<', 'g'),
                         '&gt;', '>', 'g'),
                        '&quot;', '"', 'g'),
                       '&#39;', '''', 'g'),
                      '&amp;', '&', 'g'),
                     '\s+', ' ', 'g')) AS clean_text
            FROM base
        """,
        "q39_line_dedup": """
            WITH ex AS (
                SELECT doc_id, i AS pos, ls[i] AS line
                FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                      FROM documents),
                     unnest(generate_series(1, len(ls))) AS g(i)
            ),
            bad AS (
                SELECT trim(line) AS tl
                FROM ex WHERE trim(line) <> ''
                GROUP BY tl HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
                SELECT doc_id, pos, line FROM ex
                WHERE trim(line) = '' OR trim(line) NOT IN (SELECT tl FROM bad)
            ),
            reb AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS dt
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
                   CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
                   sha256(coalesce(reb.dt, '')) AS dedup_sha
            FROM documents d LEFT JOIN reb USING (doc_id)
        """,
        "q40_repetition": r"""
            WITH lines AS (
                SELECT doc_id, trim(l) AS line
                FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                      FROM documents)
                WHERE trim(l) <> ''
            ),
            lc AS (SELECT doc_id, line, count(*) AS cnt
                   FROM lines GROUP BY doc_id, line),
            ls AS (
                SELECT doc_id,
                       sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)::DOUBLE
                         / sum(cnt) AS dup_line_frac,
                       sum(CASE WHEN cnt >= 2 THEN cnt * length(line)
                                ELSE 0 END)::DOUBLE
                         / greatest(sum(cnt * length(line)), 1)
                         AS dup_line_char_frac
                FROM lc GROUP BY doc_id
            ),
            toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> len(x) > 0) AS tk,
                       length(text) AS tlen
                FROM documents
            ),
            grams AS (
                SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram, tlen
                FROM toks,
                     unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS g(i)
            ),
            gw AS (
                SELECT doc_id, gram, cnt, tlen,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, gram) AS rn
                FROM (SELECT doc_id, gram, count(*) AS cnt, min(tlen) AS tlen
                      FROM grams GROUP BY doc_id, gram)
            ),
            tg AS (
                SELECT doc_id, gram AS top_2gram,
                       cnt * length(gram)::DOUBLE / greatest(tlen, 1) AS tgf
                FROM gw WHERE rn = 1
            )
            SELECT d.doc_id,
                   round(coalesce(ls.dup_line_frac, 0.0), 6) AS dup_line_frac,
                   round(coalesce(ls.dup_line_char_frac, 0.0), 6)
                       AS dup_line_char_frac,
                   coalesce(tg.top_2gram, '') AS top_2gram,
                   round(coalesce(tg.tgf, 0.0), 6) AS top_2gram_char_frac
            FROM documents d LEFT JOIN ls USING (doc_id)
                             LEFT JOIN tg USING (doc_id)
        """,
        "q22_embedding_topk": """
            WITH s AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
                          + 1e-12) AS c
                FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
            SELECT query_id, neighbor_id, rank FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY c DESC, neighbor_id) AS rank
                FROM s)
            WHERE rank <= 3
        """,
        "q23_embedding_near_dups": """
            SELECT a.vec_id AS "left", b.vec_id AS "right"
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
                     + 1e-12) >= 0.3
        """,
        "q32_hash_split": """
            SELECT doc_id,
                   CASE WHEN b < 100000 THEN 'test'
                        WHEN b < 900000 THEN 'train'
                        ELSE 'val' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5('split' || '|' || doc_id::VARCHAR), 1, 8))::UBIGINT
                         % 1000000 AS b
                  FROM documents)
        """,
        "q33_quota_sample": """
            SELECT lang, doc_id, n_chars FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars DESC, doc_id) AS rn
                FROM documents)
            WHERE rn <= 20
        """,
        "q31_search_text": f"""
            WITH t AS (SELECT doc_id,
                              list_sort(list_distinct({_TOKS})) AS toks
                       FROM documents),
            s AS (SELECT doc_id,
                         len(list_intersect(toks,
                             ['data','pipeline','processing','quick','the']))::DOUBLE AS inter,
                         len(list_distinct(list_concat(toks,
                             ['data','pipeline','processing','quick','the'])))::DOUBLE AS uni
                  FROM t)
            SELECT doc_id, round(inter / 5, 6) AS containment,
                   round(inter / uni, 6) AS jaccard, rank
            FROM (SELECT *, row_number() OVER (ORDER BY inter / 5 DESC,
                                               inter / uni DESC, doc_id) AS rank
                  FROM s WHERE inter > 0)
            WHERE rank <= 10
        """,
        "q28_canonical_docs": """
            SELECT cluster_id, doc_id, cluster_size FROM (
                SELECT min(doc_id) OVER (PARTITION BY lang, source) AS cluster_id,
                       doc_id,
                       count(*) OVER (PARTITION BY lang, source) AS cluster_size,
                       row_number() OVER (PARTITION BY lang, source
                                          ORDER BY n_chars DESC, doc_id) AS rn
                FROM documents)
            WHERE rn = 1
        """,
        "q35_canonical_fields": """
            WITH c AS (SELECT min(doc_id) OVER (PARTITION BY lang) AS cluster_id,
                              source, n_chars
                       FROM documents),
            sz AS (SELECT cluster_id, count(*) AS cluster_size
                   FROM c GROUP BY cluster_id),
            m1 AS (SELECT cluster_id, source FROM (
                       SELECT cluster_id, source,
                              row_number() OVER (PARTITION BY cluster_id
                                                 ORDER BY count(*) DESC, source ASC) AS rn
                       FROM c GROUP BY cluster_id, source) WHERE rn = 1),
            m2 AS (SELECT cluster_id, n_chars FROM (
                       SELECT cluster_id, n_chars,
                              row_number() OVER (PARTITION BY cluster_id
                                                 ORDER BY count(*) DESC, n_chars ASC) AS rn
                       FROM c GROUP BY cluster_id, n_chars) WHERE rn = 1)
            SELECT sz.cluster_id, sz.cluster_size, m1.source, m2.n_chars
            FROM sz JOIN m1 USING (cluster_id) JOIN m2 USING (cluster_id)
        """,
        "q46_unigram_logprob": r"""
            WITH tk AS (
                SELECT doc_id, unnest(list_filter(
                           string_split_regex(lower(text), '\s+'),
                           x -> len(x) > 0)) AS tok
                FROM documents
            ),
            dc AS (SELECT doc_id, tok, count(*) AS c
                   FROM tk GROUP BY doc_id, tok),
            v AS (SELECT tok, sum(c) AS cnt FROM dc GROUP BY tok),
            n AS (SELECT sum(cnt)::DOUBLE AS total FROM v),
            s AS (
                SELECT doc_id, sum(c) AS n_tokens,
                       sum(c * -ln(cnt / total)) / sum(c) AS nlp
                FROM dc JOIN v USING (tok), n
                GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                   round(coalesce(s.nlp, 0.0), 6) AS neg_logprob
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "q47_ngram_decontaminate": r"""
            WITH tk AS (
                SELECT doc_id, source,
                       list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> len(x) > 0) AS t
                FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id, source,
                       array_to_string(list_slice(t, i, i + 7), ' ') AS gram
                FROM tk,
                     unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
            ),
            pg AS (SELECT DISTINCT gram FROM g
                   WHERE source IN ('src0', 'src1', 'src2'))
            SELECT doc_id, count(*) AS n_matched
            FROM g JOIN pg USING (gram)
            WHERE source NOT IN ('src0', 'src1', 'src2')
            GROUP BY doc_id
        """,
        "q48_mixture_report": r"""
            WITH t AS (
                SELECT source, lang,
                       CAST(len(list_filter(string_split_regex(text, '\s+'),
                                            x -> len(x) > 0)) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            g AS (SELECT source, lang, count(*) AS docs,
                         sum(n_tokens) AS tokens
                  FROM t GROUP BY source, lang)
            SELECT source, lang, docs, CAST(tokens AS BIGINT) AS tokens,
                   round(tokens / sum(tokens) OVER (), 6) AS share,
                   round(sum(tokens) OVER (ORDER BY tokens DESC, source, lang
                                           ROWS UNBOUNDED PRECEDING)
                         / sum(tokens) OVER (), 6) AS cum_share,
                   CAST(row_number() OVER (ORDER BY tokens DESC, source, lang)
                        AS INT) AS rank
            FROM g
        """,
        "q49_temperature_sample": """
            WITH c AS (SELECT lang, count(*) AS n
                       FROM documents GROUP BY lang),
            th AS (SELECT lang,
                          CAST(floor(pow(n::DOUBLE / min(n) OVER (), -0.5)
                                     * 1000000) AS BIGINT) AS keep_thresh
                   FROM c)
            SELECT d.doc_id, d.lang, th.keep_thresh
            FROM documents d JOIN th USING (lang)
            WHERE ('0x' || substr(md5('temp' || '|' || d.doc_id::VARCHAR),
                                  1, 8))::UBIGINT % 1000000 < th.keep_thresh
        """,
        "q50_near_dedup_keep_one": f"""
            WITH RECURSIVE
            t AS MATERIALIZED (SELECT doc_id, text,
                         list_sort(list_distinct({_TOKS})) AS toks
                  FROM documents),
            p AS MATERIALIZED (
                SELECT a.doc_id AS l, b.doc_id AS r FROM t a JOIN t b
                ON a.doc_id < b.doc_id
                WHERE CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                           THEN (CASE WHEN a.text = b.text THEN 1.0 ELSE 0.0 END)
                           ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                                / len(list_distinct(list_concat(a.toks, b.toks)))
                      END >= 0.9),
            e AS (SELECT l, r FROM p UNION ALL SELECT r AS l, l AS r FROM p),
            walk(node, reach) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT w.node, e.r FROM walk w JOIN e ON e.l = w.reach
            )
            SELECT node AS doc_id, min(reach) AS cluster_id,
                   (node = min(reach)) AS kept
            FROM walk GROUP BY node
        """,
        "q51_quality_filter": rf"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'),
                                   x -> len(x) > 0) AS tk,
                       length(text) AS tlen
                FROM documents
            ),
            grams AS (
                SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram, tlen
                FROM toks,
                     unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS g(i)
            ),
            gw AS (SELECT doc_id, gram, count(*) AS cnt, min(tlen) AS tlen
                   FROM grams GROUP BY doc_id, gram),
            tg AS (SELECT doc_id,
                          cnt * length(gram)::DOUBLE / greatest(tlen, 1) AS tgf,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY cnt DESC, gram) AS rn
                   FROM gw),
            top AS (SELECT doc_id, tgf FROM tg WHERE rn = 1),
            v AS (
                SELECT d.doc_id,
                       CASE
                         WHEN length(d.text) < 100 THEN 'too_short'
                         WHEN d.lang NOT IN ('en', 'de', 'fr', 'es')
                           THEN 'lang_blocked'
                         WHEN least(4.0 * (len(regexp_extract_all(lower(d.text),
                                    '{_STOP_PAT}'))::DOUBLE
                                / greatest(len(list_filter(
                                    string_split_regex(d.text, '\s+'),
                                    x -> len(x) > 0)), 1)), 1.0) * 0.4
                              + (len(regexp_extract_all(d.text, '[A-Za-z]'))::DOUBLE
                                 / greatest(length(d.text), 1)) * 0.3
                              + least(length(d.text)::DOUBLE / 500.0, 1.0) * 0.3
                              < 0.45 THEN 'low_quality'
                         WHEN coalesce(top.tgf, 0.0) > 0.12
                           THEN 'repetitive_2gram'
                         ELSE 'pass'
                       END AS verdict
                FROM documents d LEFT JOIN top USING (doc_id)
            )
            SELECT doc_id, verdict, (verdict = 'pass') AS kept FROM v
        """,
        "q52_shuffle_rank": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                        ORDER BY md5('shuffle' || '|' || doc_id::VARCHAR),
                                 doc_id) - 1 AS BIGINT) AS shuffle_rank
            FROM documents
        """,
        "q59_url_dedup": r"""
            WITH inj AS (
                SELECT doc_id,
                       text || ' visit https://Site' || (doc_id % 50)::VARCHAR
                       || '.Example.COM/page/' || doc_id::VARCHAR
                       || '?utm_source=x&ref=' || (doc_id % 7)::VARCHAR
                       || '#frag then http://SHARED.example.com/common?utm_campaign=a'
                       || ' finally see https://news.example.com/a/'
                       || (doc_id % 10)::VARCHAR || '.' AS t
                FROM documents
            ),
            raw AS (
                SELECT DISTINCT doc_id, u
                FROM (SELECT doc_id,
                             unnest(regexp_extract_all(t,
                                 'https?://[^\s<>"'']+')) AS u
                      FROM inj)
            ),
            norm AS (
                SELECT DISTINCT doc_id,
                       regexp_replace(
                         lower(regexp_extract(u5, '^(https?://[^/?#]+)', 1))
                         || regexp_replace(u5, '^https?://[^/?#]+', '', 'g'),
                         '/$', '') AS url
                FROM (
                    SELECT doc_id,
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 regexp_replace(
                                   regexp_replace(
                                     regexp_replace(u, '[.,;:!?)]+$', ''),
                                     '#.*$', ''),
                                   '([?&])utm_[A-Za-z0-9_]+=[^&#]*', '\1', 'g'),
                                 '&&+', '&', 'g'),
                               '\?&', '?', 'g'),
                             '[?&]+$', '') AS u5
                    FROM raw)
            )
            SELECT doc_id, url,
                   (row_number() OVER (PARTITION BY url ORDER BY doc_id) = 1)
                       AS kept
            FROM norm
        """,
        "q57_leakage_safe_split": f"""
            WITH RECURSIVE
            t AS MATERIALIZED (SELECT doc_id, text,
                         list_sort(list_distinct({_TOKS})) AS toks
                  FROM documents),
            p AS MATERIALIZED (
                SELECT a.doc_id AS l, b.doc_id AS r FROM t a JOIN t b
                ON a.doc_id < b.doc_id
                WHERE CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                           THEN (CASE WHEN a.text = b.text THEN 1.0 ELSE 0.0 END)
                           ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                                / len(list_distinct(list_concat(a.toks, b.toks)))
                      END >= 0.9),
            e AS (SELECT l, r FROM p UNION ALL SELECT r AS l, l AS r FROM p),
            walk(node, reach) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT w.node, e.r FROM walk w JOIN e ON e.l = w.reach
            ),
            assign AS (SELECT node AS doc_id, min(reach) AS cluster_id
                       FROM walk GROUP BY node)
            SELECT doc_id, cluster_id,
                   CASE WHEN b < 100000 THEN 'test'
                        WHEN b < 900000 THEN 'train'
                        ELSE 'val' END AS split
            FROM (SELECT doc_id, cluster_id,
                         ('0x' || substr(md5('split' || '|' ||
                                             cluster_id::VARCHAR), 1, 8))::UBIGINT
                         % 1000000 AS b
                  FROM assign)
        """,
        "q60_kn_bigram_logprob": r"""
            WITH tk AS (
                SELECT doc_id, list_filter(
                           string_split_regex(lower(text), '\s+'),
                           x -> len(x) > 0) AS t
                FROM documents
            ),
            bg AS (
                SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
                FROM tk,
                     unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
            ),
            dc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
            bgc AS (SELECT bg, sum(c) AS c_bg FROM dc GROUP BY bg),
            ugc AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_w1
                    FROM bgc GROUP BY w1),
            n1f AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS nf
                    FROM bgc GROUP BY w1),
            n1b AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS nb
                    FROM bgc GROUP BY w2),
            ty AS (SELECT count(*)::DOUBLE AS types FROM bgc),
            model AS (
                SELECT bg,
                       greatest(c_bg - 0.75, 0.0) / c_w1
                       + (0.75 * nf / c_w1) * (nb / types) AS p
                FROM bgc
                JOIN ugc ON split_part(bg, ' ', 1) = ugc.w1
                JOIN n1f ON split_part(bg, ' ', 1) = n1f.w1
                JOIN n1b ON split_part(bg, ' ', 2) = n1b.w2, ty
            ),
            s AS (
                SELECT doc_id, sum(c) AS nb,
                       sum(c * -ln(p)) / sum(c) AS nlp
                FROM dc JOIN model USING (bg) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
                   round(coalesce(s.nlp, 0.0), 6) AS neg_logprob
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "q56_bigram_logprob": r"""
            WITH tk AS (
                SELECT doc_id, list_filter(
                           string_split_regex(lower(text), '\s+'),
                           x -> len(x) > 0) AS t
                FROM documents
            ),
            bg AS (
                SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
                FROM tk,
                     unnest(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
            ),
            dc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
            bgc AS (SELECT bg, sum(c) AS c_bg FROM dc GROUP BY bg),
            ugc AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_w1
                    FROM bgc GROUP BY w1),
            v AS (SELECT count(*)::DOUBLE AS vs FROM ugc),
            model AS (
                SELECT bg, (c_bg + 1.0) / (c_w1 + vs) AS p
                FROM bgc JOIN ugc ON split_part(bg, ' ', 1) = ugc.w1, v
            ),
            s AS (
                SELECT doc_id, sum(c) AS nb,
                       sum(c * -ln(p)) / sum(c) AS nlp
                FROM dc JOIN model USING (bg) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
                   round(coalesce(s.nlp, 0.0), 6) AS neg_logprob
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "q55_incremental_dedup": f"""
            WITH t AS MATERIALIZED (
                SELECT doc_id, text, source,
                       list_sort(list_distinct({_TOKS})) AS toks
                FROM documents),
            n AS MATERIALIZED (SELECT * FROM t
                 WHERE source NOT IN ('src0', 'src1', 'src2')),
            h AS (SELECT * FROM t WHERE source IN ('src0', 'src1', 'src2')),
            hist AS (
                SELECT DISTINCT n.doc_id FROM n, h
                WHERE CASE WHEN len(list_distinct(list_concat(n.toks, h.toks))) = 0
                           THEN (CASE WHEN n.text = h.text THEN 1.0 ELSE 0.0 END)
                           ELSE len(list_intersect(n.toks, h.toks))::DOUBLE
                                / len(list_distinct(list_concat(n.toks, h.toks)))
                      END >= 0.9
            ),
            shard AS (
                SELECT DISTINCT b.doc_id FROM n a JOIN n b
                ON a.doc_id < b.doc_id
                WHERE CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0
                           THEN (CASE WHEN a.text = b.text THEN 1.0 ELSE 0.0 END)
                           ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                                / len(list_distinct(list_concat(a.toks, b.toks)))
                      END >= 0.9
            )
            SELECT n.doc_id,
                   CASE WHEN hist.doc_id IS NOT NULL THEN 'history_dup'
                        WHEN shard.doc_id IS NOT NULL THEN 'shard_dup'
                        ELSE 'kept' END AS reason,
                   (hist.doc_id IS NULL AND shard.doc_id IS NULL) AS kept
            FROM n LEFT JOIN hist USING (doc_id) LEFT JOIN shard USING (doc_id)
        """,
        "q54_bpe_token_count": r"""
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(text, '\s+'),
                                        x -> len(x) > 0)) AS BIGINT)
                       AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'
                        )) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "q53_shard_by_budget": r"""
            WITH tk AS (
                SELECT doc_id,
                       CAST(len(list_filter(string_split_regex(text, '\s+'),
                                            x -> len(x) > 0)) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            rk AS (
                SELECT doc_id, n_tokens,
                       row_number() OVER (
                           ORDER BY md5('shuffle' || '|' || doc_id::VARCHAR),
                                    doc_id) - 1 AS r
                FROM tk
            ),
            cs AS (
                SELECT doc_id, n_tokens, r,
                       sum(n_tokens) OVER (ORDER BY r
                                           ROWS UNBOUNDED PRECEDING)
                           - n_tokens AS strt,
                       ceil(sum(n_tokens) OVER ()::DOUBLE / 8) AS shard_size
                FROM rk
            ),
            sh AS (
                SELECT doc_id, n_tokens, r,
                       least(floor(strt / shard_size), 7) AS shard
                FROM cs
            )
            SELECT doc_id, n_tokens, CAST(shard AS INT) AS shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY r) - 1
                        AS BIGINT) AS pos
            FROM sh
        """,
    }
