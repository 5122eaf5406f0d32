"""Round-5 gates. First batch: lazy hyperplane planes (VERDICT r4 item
6), Gopher repetition signals (item 3), the embedding near-dup LSH scale
path (item 4), the mid-stage-kill manifest gate (item 8), span decontamination,
PII scrub, substring dedup, packing, JSONL, HTML extraction. Second batch
(q46-q60): unigram/bigram/Kneser-Ney LM scoring, mixture accounting,
temperature resampling, quality-filter chain, global shuffle rank,
token-balanced shards, BPE pretokenizer counting, leakage-safe splitting,
IVF-PQ (residual) with its recall gate, URL dedup, the two-level
prefix-sum property gate, streaming stateless parity, and the two
runnable end-to-end examples (ER + pretraining recipe). The C4-style
line-level dedup tests (item 2) live in tests/test_dedup.py."""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------- lazy hyperplane planes


def test_lsh_plan_builds_without_jobs(spark):
    """VERDICT r4 item 6: constructing the LSH ANN plan must launch NO
    Spark job (the old per-call `.first()` dimension sniff was one job per
    call); execution still returns correct buckets."""
    from record_matching_spark.functions.similarity import (
        hyperplane_buckets, lsh_cosine_topk,
    )

    e = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    sc.setJobGroup("r5-plan-build", "plan construction must run no job")
    try:
        df = lsh_cosine_topk(e, e, k=2, n_tables=4, bits=3)
        ids = sc.statusTracker().getJobIdsForGroup("r5-plan-build")
    finally:
        sc.setJobGroup("r5-after", "")
    assert list(ids) == [], "plan construction launched a Spark job"
    # lazy planes == eagerly pinned planes, bucket for bucket
    lazy = sorted(map(tuple, hyperplane_buckets(e, n_tables=4, bits=5).collect()))
    eager = sorted(
        map(tuple, hyperplane_buckets(e, n_tables=4, bits=5, dim=3).collect())
    )
    assert lazy == eager and len(lazy) == 60 * 4
    assert df.count() > 0


# ------------------------------------------------ Gopher repetition signals


def test_repetition_features(spark):
    from record_matching_spark.functions.text import repetition_features

    text1 = "dup line\nother\ndup line\n\nx y x y x y"
    docs = spark.createDataFrame(
        [(1, text1), (2, ""), (3, "one two")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in repetition_features(docs, "doc_id", "text").collect()
    }
    r1 = out[1]
    # 4 non-empty lines, 'dup line' twice -> 2/4 of lines, 16/32 of chars
    assert r1["dup_line_frac"] == pytest.approx(0.5)
    assert r1["dup_line_char_frac"] == pytest.approx(16 / 32)
    # 2-grams: 'x y' x3 beats 'dup line' x2; 3*len('x y')/len(text)
    assert r1["top_2gram"] == "x y"
    assert r1["top_2gram_char_frac"] == pytest.approx(3 * 3 / len(text1))
    # empty doc -> zeros, '' gram
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["top_2gram"] == "" and out[2]["top_2gram_char_frac"] == 0.0
    # two tokens -> exactly one 2-gram occurring once
    assert out[3]["top_2gram"] == "one two"
    assert out[3]["top_2gram_char_frac"] == pytest.approx(7 / 7)


# ------------------------------------------ embedding near-dup LSH scale path


def test_embedding_near_dup_lsh_recall(spark):
    """VERDICT r4 item 4: the bucketed path's output is a SUBSET of brute
    force (exact verify => perfect precision) with recall >= 0.99 at
    threshold 0.9. Deterministic: fixed seeds everywhere."""
    from record_matching_spark.functions.similarity import (
        embedding_near_dup_pairs, embedding_near_dup_pairs_lsh,
    )

    rng = np.random.RandomState(7)
    rows, vid = [], 0
    for _ in range(40):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        for _ in range(int(rng.randint(1, 5))):
            v = base + rng.normal(scale=0.05, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)

    brute = {
        (r["left"], r["right"])
        for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    }
    got = {
        (r["left"], r["right"])
        for r in embedding_near_dup_pairs_lsh(
            df, threshold=0.9, n_tables=16, bits=8
        ).collect()
    }
    assert got <= brute, "verify step must make precision exact"
    assert len(brute) > 50, "fixture degenerate"
    recall = len(got) / len(brute)
    assert recall >= 0.99, f"recall {recall:.4f} ({len(got)}/{len(brute)})"


# ----------------------------------------------- mid-stage-kill manifest gate


def test_mid_stage_kill_partial_parquet_refused(spark, truth_df, tmp_path_factory):
    """VERDICT r4 item 8: a kill -9 mid-write leaves stage data WITHOUT a
    (complete) manifest. The resume gate must refuse the partial parquet,
    recompute the stage, and land byte-identical clusters."""
    from record_matching_spark.pipeline import Pipeline, PipelineConfig
    from record_matching_spark.synth import repo_files

    files = repo_files(truth_df)
    cfg = PipelineConfig(tau=0.5)

    work_ref = tmp_path_factory.mktemp("chaos_ref")
    ref = Pipeline(spark, work_ref, cfg).run(files).cache()
    ref.count()

    work = tmp_path_factory.mktemp("chaos_kill")
    p1 = Pipeline(spark, work, cfg)
    assert p1.run(files, stop_after="s5_features") is None

    s5 = work / "s5_features"
    # simulate the kill: manifest gone (it is written only after the
    # parquet completes), data dir left partial — drop _SUCCESS and one
    # part file, truncate another to half its bytes
    (s5 / "_manifest.json").unlink()
    data = s5 / "data"
    (data / "_SUCCESS").unlink()
    parts = sorted(data.glob("part-*"))
    assert len(parts) >= 2, "need >= 2 part files to simulate a partial write"
    parts[0].unlink()
    blob = parts[1].read_bytes()
    parts[1].write_bytes(blob[: len(blob) // 2])

    p2 = Pipeline(spark, work, cfg)
    clusters = p2.run(files)
    # earlier stages resumed; the mutilated stage did NOT
    for s in ["s1_normalized", "s2_sha_features", "s3_blocks", "s4_pairs"]:
        assert p2.stage_metrics[s] == {"resumed": True}
    assert "resumed" not in p2.stage_metrics["s5_features"]
    # recomputed manifest is complete again and clusters match the clean run
    m = json.loads((s5 / "_manifest.json").read_text())
    assert m["complete"] and m["rows"] > 0
    assert ref.exceptAll(clusters).count() == 0
    assert clusters.exceptAll(ref).count() == 0


# ------------------------------------------- surgical span decontamination


def test_excise_contaminated_spans(spark):
    """A corpus doc quoting a probe passage loses (at least) that passage
    and keeps its own prefix/suffix; clean docs pass through
    byte-identical; a doc that IS the probe text is fully excised.
    Both hash paths (numpy rolling hash and portable md5) must agree on
    which docs are touched."""
    from record_matching_spark.functions.text import excise_contaminated_spans

    bench = (
        "The benchmark question asks: what is the capital of France and "
        "why does the river matter for trade in the nineteenth century?"
    )
    prefix = "My own training prose, written independently of any eval. "
    suffix = " And a closing paragraph that is also entirely original."
    corpus = spark.createDataFrame(
        [
            (1, prefix + bench + suffix),   # contaminated in the middle
            (2, "Entirely clean document with plenty of original text "
                "that overlaps nothing at all in the probe corpus here."),
            (3, bench),                      # the probe text verbatim
        ],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame([(100, bench)], "doc_id long, text string")

    for portable in (False, True):
        out = {
            r["doc_id"]: r
            for r in excise_contaminated_spans(
                corpus, probe, text_col="text", k=8, w=16,
                portable=portable, keep_text=True,
            ).collect()
        }
        assert len(out) == 3
        # clean doc: byte-identical, zero spans
        assert out[2]["n_spans"] == 0 and out[2]["removed_chars"] == 0
        assert out[2]["clean_text"] == corpus.collect()[1]["text"] or \
            out[2]["clean_text"] == [r for r in corpus.collect()
                                     if r["doc_id"] == 2][0]["text"]
        # verbatim probe copy: guaranteed-detected, (almost) fully excised
        assert out[3]["n_spans"] >= 1
        assert len(out[3]["clean_text"]) <= 2 * (16 + 8 - 2)
        assert bench not in out[3]["clean_text"]
        # mid-doc quote: the benchmark text is gone...
        r1 = out[1]
        assert bench[16 + 8 - 2: -(16 + 8 - 2)] not in r1["clean_text"]
        # ...the doc's own head and tail survive (conservative clipping
        # may eat up to w+k-2 chars at each boundary)
        clip = 16 + 8 - 2
        assert r1["clean_text"].startswith(prefix[: len(prefix) - clip])
        assert r1["clean_text"].endswith(suffix[clip:])
        assert 0 < r1["removed_chars"] < len(prefix + bench + suffix)
        # sha matches the returned text
        assert r1["clean_sha"] == hashlib.sha256(
            r1["clean_text"].encode()
        ).hexdigest()


# ----------------------------------------- within-corpus substring dedup


def test_self_dedup_spans_keep_first(spark):
    """self_dedup_spans: a passage duplicated across docs survives ONLY in
    the lowest-id doc (byte-identical there), is excised from every later
    copy, and unique docs pass through untouched — on both hash paths.
    Noise alphabets are disjoint per doc so no k-gram collides by
    accident."""
    from record_matching_spark.functions.text import self_dedup_spans

    dup = "0123456789!#0123456789?%0123456789<>0123"   # 40 chars, shared
    n1 = "abc defg abcdefg gfedcba bagged cabbage facade dead beef "
    n2 = "hijk lmn hijklmn nmlkjih khaki njillion millhill jinn mill "
    n3 = "opqr stu opqrstu utsrqpo troops squrt upport outpost roots "
    rows = [
        (1, n1 + dup + n1),          # owner: keeps everything
        (2, n2 + dup + n2),          # later copy: dup excised
        (3, n3 + n3),                # unique: untouched
        (4, dup),                    # later copy, verbatim: ~fully excised
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    k, w = 4, 8
    clip = w + k - 2
    for portable in (False, True):
        out = {
            r["doc_id"]: r
            for r in self_dedup_spans(
                corpus, text_col="text", k=k, w=w,
                portable=portable, keep_text=True,
            ).collect()
        }
        assert len(out) == 4
        # keep-first: the owner is byte-identical
        assert out[1]["n_spans"] == 0 and out[1]["clean_text"] == rows[0][1]
        # unique doc untouched
        assert out[3]["n_spans"] == 0 and out[3]["clean_text"] == rows[2][1]
        # later copies lose the duplicated core
        assert out[2]["n_spans"] >= 1
        assert dup[clip:-clip] not in out[2]["clean_text"]
        # ...but keep their own prose head/tail (conservative clipping)
        assert out[2]["clean_text"].startswith(n2[: len(n2) - clip])
        assert out[2]["clean_text"].endswith(n2[clip:])
        # verbatim copy: (almost) fully excised
        assert len(out[4]["clean_text"]) <= 2 * clip
        # sha pins the rebuilt text
        assert out[2]["clean_sha"] == hashlib.sha256(
            out[2]["clean_text"].encode()
        ).hexdigest()


def test_self_dedup_three_way_keeps_exactly_one(spark):
    """Three identical docs → the lowest id keeps the text, the other two
    are excised to (at most) boundary residue; total kept copies == 1."""
    from record_matching_spark.functions.text import self_dedup_spans

    t = "shared boilerplate license header, identical in every file. " * 3
    corpus = spark.createDataFrame(
        [(10, t), (20, t), (30, t)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in self_dedup_spans(
            corpus, text_col="text", k=4, w=8, keep_text=True
        ).collect()
    }
    assert out[10]["clean_text"] == t and out[10]["n_spans"] == 0
    for d in (20, 30):
        assert out[d]["n_spans"] >= 1
        assert len(out[d]["clean_text"]) <= 2 * (8 + 4 - 2)


# ---------------------------------------------------- HTML extraction


def test_strip_html(spark):
    """strip_html: script/style blocks vanish WITH their contents,
    comments and tags vanish, entities decode (amp last, and entities
    decoded into tag-shaped text are NOT re-stripped), whitespace
    collapses; plain text passes through (modulo whitespace collapse)."""
    from record_matching_spark.functions.text import strip_html

    rows = [
        (1, "<p>Hello <b>world</b></p>"),
        (2, "<script>ignore < this && that ></script>keep"),
        (3, "<style>.x{a:b}</style>styled<!-- note -->text"),
        (4, "a &lt;tag&gt; &amp;amp; &quot;q&#39;s&quot;&nbsp;end"),
        (5, "plain   text\n\nwith   gaps"),
        (6, "<div\nclass='multi\nline'>attr spans lines</div>"),
    ]
    out = {
        r["doc_id"]: r["clean"]
        for r in spark.createDataFrame(rows, "doc_id long, text string")
        .select("doc_id", strip_html(F.col("text")).alias("clean"))
        .collect()
    }
    assert out[1] == "Hello world"
    assert out[2] == "keep"
    assert out[3] == "styled text"
    # &amp;amp; decodes to &amp; (single pass, amp last); &lt;tag&gt;
    # becomes literal <tag> and is NOT stripped (decode is after strip)
    assert out[4] == "a <tag> &amp; \"q's\" end"
    assert out[5] == "plain text with gaps"
    assert out[6] == "attr spans lines"


# ---------------------------------------------------- sequence packing


def test_pack_sequences_matches_sequential_reference(spark):
    """pack_sequences == a driver-side sequential concat-and-chunk pass,
    independent of parallelism: same (seq_id, offset, n_seqs) per doc at 1
    partition and at 16, straddlers span >1 seq, zero-token docs occupy
    their start seq, and offsets are always in [0, budget)."""
    from record_matching_spark.functions.sampling import pack_sequences

    budget = 100
    toks = [(i, nt) for i, nt in enumerate(
        [37, 0, 250, 13, 99, 1, 100, 42, 7, 180, 55, 3, 61, 29, 98]
    )]
    expect = {}
    start = 0
    for i, nt in toks:
        end = start + max(nt, 1) - 1
        expect[i] = (start // budget, start % budget,
                     end // budget - start // budget + 1)
        start += nt
    for n_part in (1, 16):
        df = spark.createDataFrame(toks, "doc_id long, n_tokens long")
        out = {
            r["doc_id"]: (r["seq_id"], r["offset"], r["n_seqs"])
            for r in pack_sequences(
                df, budget=budget, partitions=n_part
            ).collect()
        }
        assert out == expect, n_part
    assert expect[2][2] == 3          # 250-token doc spans 3 sequences
    assert all(0 <= v[1] < budget for v in expect.values())


# ----------------------------------------------------------- JSONL IO


def test_jsonl_roundtrip(spark, tmp_path):
    """write_jsonl emits newline-delimited JSON readable both by
    read_jsonl (schema enforced) and a plain json.loads pass; values
    survive the roundtrip byte-for-byte including unicode."""
    from record_matching_spark.sources.io import read_jsonl, write_jsonl

    rows = [
        (1, "plain ascii text", 0.5),
        (2, "unicode: cœur 知識 ий €", -3.25),
        (3, 'quotes " and \\ backslash and\nnewline', 0.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    dest = str(tmp_path / "out_jsonl")
    write_jsonl(df, dest)
    back = read_jsonl(spark, dest, "doc_id long, text string, score double")
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)
    # raw-file check: every line parses standalone (true JSONL)
    import glob

    parsed = []
    for f in glob.glob(dest + "/part-*"):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    parsed.append(json.loads(line))
    assert len(parsed) == len(rows)
    assert {p["doc_id"] for p in parsed} == {1, 2, 3}


# --------------------------------------------------------- PII scrubbing


def test_scrub_pii_masks_and_counts(spark):
    """scrub_pii: emails/IPv4s/dash-phones are replaced with typed
    placeholders; counts are SEQUENTIAL (an IP inside an email is scrubbed
    as part of the email and not double-counted); clean text carries no
    residual PII; PII-free text is byte-identical with zero counts."""
    from record_matching_spark.functions.text import scrub_pii

    rows = [
        (1, "mail a.user+x@sub.example.org and b@ex.io now"),
        (2, "server 10.1.2.3 and 192.168.255.1 up"),
        (3, "call 555-123-4567 or 800-555-0199"),
        # IP-shaped string inside an email local part: eaten by the email
        # replacement, so n_ipv4 counts only the standalone one
        (4, "x 10.0.0.1@host.example.com then 172.16.0.9 y"),
        (5, "no pii here, just text with numbers 12345 and v1.2 dots"),
        (6, ""),
    ]
    out = {
        r["doc_id"]: r
        for r in scrub_pii(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1]["n_emails"] == 2 and "@" not in out[1]["clean_text"]
    assert out[1]["clean_text"] == "mail <EMAIL> and <EMAIL> now"
    assert out[2]["n_ipv4"] == 2
    assert out[2]["clean_text"] == "server <IP> and <IP> up"
    assert out[3]["n_phones"] == 2
    assert out[3]["clean_text"] == "call <PHONE> or <PHONE>"
    assert out[4]["n_emails"] == 1 and out[4]["n_ipv4"] == 1
    assert out[4]["clean_text"] == "x <EMAIL> then <IP> y"
    assert out[5]["clean_text"] == rows[4][1]
    assert (out[5]["n_emails"], out[5]["n_ipv4"], out[5]["n_phones"]) == (0, 0, 0)
    assert out[6]["clean_text"] == ""


def test_unigram_logprob_orders_rarity(spark):
    """Rare-token docs must score strictly higher (more surprising) than
    common-token docs under the corpus's own unigram LM; a hand example
    pins the exact value."""
    import math

    from record_matching_spark.functions.text import unigram_logprob

    rows = [
        (1, "a a a"),        # 'a' x3
        (2, "a a b"),        # 'b' rarer than 'a'
        (3, "c"),            # singleton token: rarest
        (4, ""),             # tokenless
    ]
    out = {
        r["doc_id"]: r
        for r in unigram_logprob(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    # corpus counts: a=5, b=1, c=1, total=7
    t = 7.0
    exp1 = -math.log(5 / t)
    exp2 = (2 * -math.log(5 / t) + -math.log(1 / t)) / 3
    assert abs(out[1]["neg_logprob"] - exp1) < 1e-12
    assert abs(out[2]["neg_logprob"] - exp2) < 1e-12
    assert abs(out[3]["neg_logprob"] - (-math.log(1 / t))) < 1e-12
    assert out[4]["neg_logprob"] == 0.0 and out[4]["n_tokens"] == 0
    assert out[1]["neg_logprob"] < out[2]["neg_logprob"] < out[3]["neg_logprob"]
    assert out[1]["n_tokens"] == 3


def test_mixture_report_shares(spark):
    from record_matching_spark.functions.sampling import mixture_report

    rows = [
        ("web", "en", 100), ("web", "en", 200),   # web/en: 300
        ("web", "de", 50),                          # web/de: 50
        ("code", "en", 150),                        # code/en: 150
    ]
    df = spark.createDataFrame(rows, "source string, lang string, n_tokens long")
    out = {
        (r["source"], r["lang"]): r
        for r in mixture_report(
            df, group_cols=["source", "lang"], weight_col="n_tokens"
        ).collect()
    }
    assert out[("web", "en")]["rank"] == 1
    assert out[("web", "en")]["tokens"] == 300
    assert abs(out[("web", "en")]["share"] - 0.6) < 1e-12
    assert abs(out[("code", "en")]["cum_share"] - 0.9) < 1e-12
    assert abs(out[("web", "de")]["cum_share"] - 1.0) < 1e-12
    assert out[("web", "de")]["rank"] == 3
    assert out[("web", "en")]["docs"] == 2


def test_temperature_sample_properties(spark):
    """alpha=1 keeps everything; alpha=0.5 keeps ~sqrt-proportional counts
    with the smallest group intact; membership is deterministic across
    repartitioning, and growing a group only SHEDS members (threshold
    falls) — it never swaps kept rows."""
    from record_matching_spark.functions.sampling import temperature_sample

    rows = [(i, "big" if i < 3200 else "small") for i in range(3600)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")

    full = temperature_sample(df, group_col="grp", alpha=1.0, id_col="doc_id")
    assert full.count() == 3600

    half = temperature_sample(df, group_col="grp", alpha=0.5, id_col="doc_id")
    kept = half.groupBy("grp").count().collect()
    by = {r["grp"]: r["count"] for r in kept}
    assert by["small"] == 400                      # smallest group: keep all
    # big keeps ~ (3200/400)^-0.5 = 35.36% of 3200 = ~1131
    assert 1000 < by["big"] < 1260, by
    kept_ids = {r["doc_id"] for r in half.select("doc_id").collect()}
    # deterministic across physical layout
    again = temperature_sample(
        df.repartition(13), group_col="grp", alpha=0.5, id_col="doc_id"
    )
    assert {r["doc_id"] for r in again.select("doc_id").collect()} == kept_ids
    # growing 'big' lowers only its threshold: old kept rows can only be
    # shed, never swapped; 'small' (still the min group) is untouched
    more = spark.createDataFrame(
        rows + [(i, "big") for i in range(4000, 4800)],
        "doc_id long, grp string",
    )
    half2 = temperature_sample(more, group_col="grp", alpha=0.5, id_col="doc_id")
    kept2 = {r["doc_id"] for r in half2.select("doc_id").collect() if r["doc_id"] < 3600}
    assert kept2 <= kept_ids
    small_ids = {i for i, g in rows if g == "small"}
    assert kept2 & small_ids == kept_ids & small_ids == small_ids


def test_quality_filter_verdicts(spark):
    """Each rule fires on its planted doc; FIRST failing rule wins; docs
    passing all rules are kept; disabled rules cost nothing and never
    fire."""
    from record_matching_spark.functions.text import quality_filter

    good = ("the good and long document " * 8).strip()
    rows = [
        (1, "tiny", "en"),                 # too_short (also wrong-lang: order)
        (2, good, "zh"),                    # lang_blocked
        (3, "9" * 200, "en"),               # low_quality: digits only
        (4, "the dup line is fine\nthe dup line is fine\nunique the end",
         "en"),                              # repetitive_lines
        (5, ("ab cd " * 40).strip(), "en"),  # repetitive_2gram
        (6, good, "en"),                    # pass
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: (r["verdict"], r["kept"])
        for r in quality_filter(
            df, min_chars=20, allowed_langs=["en"], lang_col="lang",
            min_quality=0.3, max_dup_line_frac=0.5, max_top_2gram_frac=0.5,
        ).collect()
    }
    assert out[1] == ("too_short", False)
    assert out[2] == ("lang_blocked", False)
    assert out[3] == ("low_quality", False)
    assert out[4] == ("repetitive_lines", False)
    assert out[5] == ("repetitive_2gram", False)
    assert out[6] == ("pass", True)
    # all rules disabled -> everything passes, repetition join not needed
    all_pass = quality_filter(df).collect()
    assert all(r["kept"] for r in all_pass) and len(all_pass) == 6
    # an empty allow-list blocks every doc that passes the length rules
    none_allowed = {
        r["doc_id"]: r["verdict"]
        for r in quality_filter(
            df, min_chars=20, allowed_langs=[], lang_col="lang"
        ).collect()
    }
    assert none_allowed == {1: "too_short", 2: "lang_blocked", 3: "lang_blocked",
                            4: "lang_blocked", 5: "lang_blocked", 6: "lang_blocked"}


def test_global_shuffle_rank_permutation(spark):
    """Ranks are a dense 0..n-1 permutation, identical across partition
    counts and physical layout; different seeds deal different orders;
    the permutation actually shuffles (not identity)."""
    from record_matching_spark.functions.sampling import global_shuffle_rank

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    r1 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_shuffle_rank(df, partitions=16).collect()
    }
    assert sorted(r1.values()) == list(range(500))
    r2 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_shuffle_rank(
            df.repartition(7), partitions=1
        ).collect()
    }
    assert r1 == r2
    r3 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_shuffle_rank(df, seed="epoch2", partitions=16).collect()
    }
    assert sorted(r3.values()) == list(range(500))
    assert r3 != r1
    assert r1 != {i: i for i in range(500)}
    # portable (md5) mode is also a permutation and layout-stable
    p1 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_shuffle_rank(df, portable=True, partitions=16).collect()
    }
    p2 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in global_shuffle_rank(
            df.repartition(3), portable=True, partitions=4
        ).collect()
    }
    assert p1 == p2 and sorted(p1.values()) == list(range(500))


def test_shard_by_budget_balance(spark):
    """Whole docs deal into token-balanced shards: every shard's token
    mass stays within one max-doc of the budget, docs never split, order
    within shards follows the given order column, and the assignment is
    identical across partition counts."""
    from record_matching_spark.functions.sampling import shard_by_budget

    rows = [(i, (i * 37 % 90) + 10) for i in range(400)]  # 10..99 tokens
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = shard_by_budget(df, n_shards=8, partitions=16).collect()
    assert len(out) == 400
    total = sum(t for _, t in rows)
    budget = -(-total // 8)
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == set(range(8))
    max_doc = max(t for _, t in rows)
    for s, docs in by_shard.items():
        mass = sum(r["n_tokens"] for r in docs)
        if s < 7:
            # a doc straddling the boundary stays in its start shard
            assert budget - max_doc <= mass < budget + max_doc, (s, mass)
        # positions are dense 0..len-1 in id (order_col default) order
        docs.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in docs] == list(range(len(docs)))
        assert [r["doc_id"] for r in docs] == sorted(r["doc_id"] for r in docs)
    # layout invariance
    out1 = sorted(map(tuple, shard_by_budget(
        df.repartition(3), n_shards=8, partitions=2
    ).collect()))
    assert out1 == sorted(map(tuple, out))


def test_new_query_plan_shapes(spark):
    """Plan audits of the round-5 training-pipeline queries: the scale
    claims in the docstrings must be visible in the physical plan —
    q47's corpus-side scan joins the probe grams via BROADCAST (zero
    corpus-sized exchanges on the probe side), q46's vocab attach is a
    broadcast join, and no row-at-a-time Python anywhere."""
    import __spark_entry__ as entry
    from record_matching_spark.plans.audit import plan_audit

    sf = "/root/testdata/sf0.001"
    q47 = plan_audit(entry.queries()["q47_ngram_decontaminate"](spark, sf))
    assert q47["broadcast_joins"] >= 1
    assert q47["rowwise_python_nodes"] == 0
    q46 = plan_audit(entry.queries()["q46_unigram_logprob"](spark, sf))
    assert q46["broadcast_joins"] >= 1  # the vocab attach
    assert q46["rowwise_python_nodes"] == 0
    q51 = plan_audit(entry.queries()["q51_quality_filter"](spark, sf))
    assert q51["rowwise_python_nodes"] == 0 and q51["arrow_udf_nodes"] == 0
    q49 = plan_audit(entry.queries()["q49_temperature_sample"](spark, sf))
    assert q49["broadcast_joins"] >= 1  # the per-group threshold attach
    assert q49["rowwise_python_nodes"] == 0


def test_bpe_token_count_matches_python_re(spark):
    """The Catalyst count must equal Python's re over the same pattern on
    punctuation/contraction/code-heavy text (the branches the prose-only
    parquet corpus never exercises), and exceed the whitespace count
    there."""
    import re as _re

    from record_matching_spark.functions.text import (
        BPE_PRETOKEN_PATTERN, token_count, token_count_bpe,
    )

    texts = [
        "don't can't it's we're I'll you've he'd",
        "x = f(a, b) + 3.14 * arr[i]; // trailing comment",
        "word",
        "",
        "   ",
        "a1b2c3 été mixed99units",
        "!!!??? ... --- ###",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("ws"),
            token_count_bpe(F.col("text")).alias("bpe"),
        ).collect()
    }
    pat = _re.compile(BPE_PRETOKEN_PATTERN)
    for i, t in enumerate(texts):
        assert out[i][1] == len(pat.findall(t)), (i, t)
    # code/punct text splits far finer than whitespace
    assert out[1][1] > out[1][0]
    assert out[0][1] == 2 * 7  # each contraction = word piece + suffix piece


def test_two_level_prefix_matches_sequential(spark):
    """The shared two-level prefix-sum helper must equal the sequential
    cumsum for random values (zeros, big longs, single row) at several
    partition counts, with the grand total agreeing."""
    from record_matching_spark.functions.sampling import _two_level_prefix

    rng = np.random.RandomState(7)
    for n, parts in [(1, 4), (17, 1), (400, 16), (1000, 3)]:
        vals = rng.randint(0, 1000, size=n)
        vals[rng.rand(n) < 0.2] = 0
        rows = [(int(i), int(v)) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "k long, v long").repartition(5)
        out, total = _two_level_prefix(df, ["k"], "v", parts)
        got = {r["k"]: r["_end"] for r in out.collect()}
        exp = np.cumsum(vals)
        assert total == int(exp[-1])
        assert got == {i: int(exp[i]) for i in range(n)}


def test_streaming_stateless_text_ops_parity(spark, tmp_path):
    """The map-only text operators (PII scrub, quality-filter rule chain)
    are stateless Catalyst expressions, so they run UNCHANGED under
    Structured Streaming: streaming output over micro-batched input must
    equal the batch run row-for-row."""
    from record_matching_spark.functions.text import quality_filter, scrub_pii
    from record_matching_spark.streaming.ops import run_stream_to_parquet

    src = tmp_path / "st_in"
    dst1 = tmp_path / "st_pii"
    ck1 = tmp_path / "st_pii_ck"
    dst2 = tmp_path / "st_qf"
    ck2 = tmp_path / "st_qf_ck"
    schema = "doc_id long, text string"

    rows_b1 = [
        (1, "mail me at a@b.co or call 555-123-4567 the end"),
        (2, "the quick brown fox jumps over the lazy dog " * 3),
    ]
    rows_b2 = [
        (3, "9" * 150),
        (4, "server 10.0.0.7 is the one that matters most here today"),
    ]
    spark.createDataFrame(rows_b1, schema).write.parquet(str(src), mode="append")
    spark.createDataFrame(rows_b2, schema).write.parquet(str(src), mode="append")
    batch_df = spark.read.schema(schema).parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    run_stream_to_parquet(scrub_pii(stream), str(dst1), str(ck1))
    got_pii = sorted(map(tuple, spark.read.parquet(str(dst1)).collect()))
    exp_pii = sorted(map(tuple, scrub_pii(batch_df).collect()))
    assert got_pii == exp_pii and len(got_pii) == 4

    stream2 = spark.readStream.schema(schema).parquet(str(src))
    qf_kwargs = dict(min_chars=20, min_quality=0.3)
    run_stream_to_parquet(
        quality_filter(stream2, **qf_kwargs), str(dst2), str(ck2)
    )
    got_qf = sorted(map(tuple, spark.read.parquet(str(dst2)).collect()))
    exp_qf = sorted(map(tuple, quality_filter(batch_df, **qf_kwargs).collect()))
    assert got_qf == exp_qf and len(got_qf) == 4
    verdicts = {d: v for d, v, _ in got_qf}
    assert verdicts[3] == "low_quality" and verdicts[2] == "pass"


def test_bigram_logprob_hand_example(spark):
    """Exact value on a hand-computable corpus; repeated in-distribution
    bigrams score lower than a shuffled-word doc whose unigrams are
    identical (the signal unigram_logprob cannot see)."""
    import math

    from record_matching_spark.functions.text import bigram_logprob

    rows = [
        (1, "a b a b"),      # bigrams: 'a b' x2, 'b a' x1
        (2, "b b a a"),      # same unigrams, different bigrams
        (3, "x"),            # < 2 tokens
    ]
    out = {
        r["doc_id"]: r
        for r in bigram_logprob(
            spark.createDataFrame(rows, "doc_id long, text string"), add_k=1.0
        ).collect()
    }
    # corpus bigram counts: 'a b':2, 'b a':2, 'b b':1, 'a a':1
    # context counts (from bigram table): w1=a -> 3, w1=b -> 3; V = 2
    p_ab = (2 + 1) / (3 + 2)
    p_ba = (2 + 1) / (3 + 2)
    p_bb = (1 + 1) / (3 + 2)
    p_aa = (1 + 1) / (3 + 2)
    exp1 = (2 * -math.log(p_ab) + -math.log(p_ba)) / 3
    exp2 = (-math.log(p_bb) + -math.log(p_ba) + -math.log(p_aa)) / 3
    assert abs(out[1]["neg_logprob"] - exp1) < 1e-12
    assert abs(out[2]["neg_logprob"] - exp2) < 1e-12
    assert out[1]["neg_logprob"] < out[2]["neg_logprob"]
    assert out[3] == (3, 0, 0.0) or (
        out[3]["n_bigrams"] == 0 and out[3]["neg_logprob"] == 0.0
    )


def test_leakage_safe_split_no_straddling(spark):
    """Every near-dup family lands whole in one split (the leakage
    guarantee); singleton docs get exactly hash_split's verdict; ratios
    are roughly honored."""
    from record_matching_spark.functions.sampling import (
        hash_split, leakage_safe_split,
    )

    fam = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = (
        [(i, fam) for i in range(0, 6)]
        + [(i, f"solo doc {i} " + " ".join(f"w{i}x{j}" for j in range(10)))
           for i in range(100, 400)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(df, weights=w, threshold=0.9).collect()
    assert len(out) == len(rows)
    # the family is one cluster, one split
    fam_rows = [r for r in out if r["doc_id"] < 100]
    assert {r["cluster_id"] for r in fam_rows} == {0}
    assert len({r["split"] for r in fam_rows}) == 1
    # singletons match plain hash_split on their own id
    plain = {
        r["doc_id"]: r["split"]
        for r in hash_split(df, "doc_id", w).collect()
    }
    for r in out:
        if r["doc_id"] >= 100:
            assert r["cluster_id"] == r["doc_id"]
            assert r["split"] == plain[r["doc_id"]]
    counts = {}
    for r in out:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)


def test_ivfpq_recall_gate(spark):
    """IVF-PQ recall vs the exact tiled baseline: >= 0.99 on planted
    tight clusters (structure PQ exploits), >= 0.85 on the sf0.01
    embeddings table (near-random vectors, ANN's hardest case — here the
    coarse-cell probe fraction is the recall limiter, not the codes:
    measured 0.83/0.91/0.95 at n_probe=8/10/12 of 16 cells); output is
    always <= k rows per query with valid ids."""
    from record_matching_spark.functions.similarity import (
        cosine_topk_tiled, ivfpq_cosine_topk,
    )

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(40, 64))
    rows = []
    vid = 0
    for ci in range(40):
        for _ in range(8):
            v = centers[ci] + 0.01 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_tiled(
            planted, planted, k=3, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_cosine_topk(
            planted, planted, k=3, n_cells=16, n_probe=8, m=8, nbits=8
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.99

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact2 = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_tiled(
            e, e, k=3, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    ap = ivfpq_cosine_topk(e, e, k=3, n_cells=16, n_probe=10, m=8, nbits=8)
    rows2 = ap.collect()
    approx2 = {(r["query_id"], r["neighbor_id"]) for r in rows2}
    assert len(exact2 & approx2) / len(exact2) >= 0.85
    per_q = {}
    for r in rows2:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert max(per_q.values()) <= 3


def test_url_extract_normalize_and_dedup(spark):
    """Each canonicalization rule verified on a hand case (trailing
    punctuation, fragment, utm params with separator cleanup, host
    lowercasing with case-sensitive path, trailing slash); keep-first is
    by lowest doc id per normalized URL."""
    from record_matching_spark.functions.text import (
        extract_normalized_urls, url_dedup,
    )

    rows = [
        (5, "see https://WWW.Example.COM/Path/To?utm_source=a&x=1&utm_medium=b#frag."),
        (2, "dup of it: https://www.example.com/Path/To?x=1 plus https://other.example.com/"),
        (9, "no urls here at all"),
        (3, "trailing slash http://Host.example.com/dir/ and bare http://host.example.com/dir"),
        (7, "two utm params in a row https://t.example.com/p?utm_a=1&utm_b=2&c=3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = {
        r["doc_id"]: r["u"]
        for r in df.select(
            "doc_id", extract_normalized_urls(F.col("text")).alias("u")
        ).collect()
    }
    assert norm[5] == ["https://www.example.com/Path/To?x=1"]
    assert norm[2] == [
        "https://www.example.com/Path/To?x=1",
        "https://other.example.com",
    ]
    assert norm[9] == []
    assert norm[3] == [
        "http://host.example.com/dir",
        "http://host.example.com/dir",
    ]
    assert norm[7] == ["https://t.example.com/p?c=3"]
    out = {
        (r["doc_id"], r["url"]): r["kept"]
        for r in url_dedup(df).collect()
    }
    # doc 2 holds the lowest id for the shared URL -> doc 5's copy dropped
    assert out[(2, "https://www.example.com/Path/To?x=1")] is True
    assert out[(5, "https://www.example.com/Path/To?x=1")] is False
    assert out[(2, "https://other.example.com")] is True
    # doc 3's two spellings normalize to ONE url -> one output row, kept
    assert out[(3, "http://host.example.com/dir")] is True
    assert out[(7, "https://t.example.com/p?c=3")] is True
    assert len(out) == 5


def test_pretraining_pipeline_example(spark):
    """The composed end-to-end recipe (examples/pretraining_pipeline.py)
    runs on sf0.001 and its accounting reconciles: every drop is
    attributed, stages only ever shrink the corpus, shards are complete,
    and the run is deterministic."""
    from examples.pretraining_pipeline import run

    out = run(spark, "/root/testdata/sf0.001")
    assert out["input_docs"] == 500
    assert sum(out["drop_counts"].values()) == out["input_docs"]
    assert out["drop_counts"]["pass"] == out["after_quality"]
    assert out["after_near_dup"] <= out["after_quality"]
    assert out["train_docs"] <= out["after_near_dup"] - out["decontaminated_out"]
    assert 0 < out["balanced_docs"] <= out["train_docs"]
    assert out["shards"] == 8
    assert out["n_sequences"] >= out["total_tokens"] // 512
    out2 = run(spark, "/root/testdata/sf0.001")
    assert out2 == out


def test_kn_bigram_logprob_hand_example(spark):
    """Interpolated Kneser-Ney pinned to its textbook formula on a hand
    corpus; the continuation term works: a bigram whose RIGHT word
    appears after many contexts gets more backoff mass than one whose
    right word is context-locked, even at equal raw counts."""
    import math

    from record_matching_spark.functions.text import bigram_logprob

    rows = [
        (1, "a b a b"),   # bigrams: 'a b' x2, 'b a' x1
        (2, "c b c a"),   # 'c b' x1, 'b c' x1, 'c a' x1
    ]
    out = {
        r["doc_id"]: r
        for r in bigram_logprob(
            spark.createDataFrame(rows, "doc_id long, text string"),
            smoothing="kn", discount=0.75,
        ).collect()
    }
    # corpus bigram counts: ab:2 ba:1 cb:1 bc:1 ca:1 -> 5 types
    # c(w1): a->3 (ab2+... a is left of: ab2, b? no. a:'a b'x2 =2? recount:
    # bigrams: doc1: ab, ba, ab ; doc2: cb, bc, ca
    # c_bg: ab=2, ba=1, cb=1, bc=1, ca=1; c(w1): a=2(ab)... a also left in
    # nothing else -> a=2; b: ba+bc=2; c: cb+ca=2
    # N1+(w1,.): a->1(ab), b->2(ba,bc), c->2(cb,ca)
    # N1+(.,w2): b<-{a,c}=2, a<-{b,c}=2, c<-{b}=1 ; types=5
    d = 0.75
    ty = 5.0
    def p(c_bg, c_w1, nf, nb):
        return max(c_bg - d, 0.0) / c_w1 + (d * nf / c_w1) * (nb / ty)
    p_ab = p(2, 2, 1, 2)
    p_ba = p(1, 2, 2, 2)
    p_cb = p(1, 2, 2, 2)
    p_bc = p(1, 2, 2, 1)
    p_ca = p(1, 2, 2, 2)
    exp1 = (2 * -math.log(p_ab) + -math.log(p_ba)) / 3
    exp2 = (-math.log(p_cb) + -math.log(p_bc) + -math.log(p_ca)) / 3
    assert abs(out[1]["neg_logprob"] - exp1) < 1e-12
    assert abs(out[2]["neg_logprob"] - exp2) < 1e-12
    # continuation effect: 'b c' (right word c follows only 1 context)
    # scores lower p than 'c b' (b follows 2 contexts) at equal counts
    assert p_bc < p_cb


def test_er_pipeline_example(spark, tmp_path):
    """The runnable ER example (examples/er_pipeline.py) produces perfect
    clusters on its synthetic corpus and a stable fingerprint — and a
    SECOND run over the same workdir resumes every stage from its
    manifest with a byte-identical result."""
    from examples.er_pipeline import run

    wd = str(tmp_path / "er_example")
    out = run(spark, wd, n_families=40, seed=7)
    assert out["ari"] == 1.0
    assert out["n_clusters"] > 0
    out2 = run(spark, wd, n_families=40, seed=7)
    assert out2["clusters_sha"] == out["clusters_sha"]
    assert all(v == {"resumed": True} for v in out2["stage_metrics"].values())


def test_opq_rotation_beats_plain_pq_on_anisotropic(spark):
    """OPQ A/B on planted ANISOTROPIC vectors (low-dim structure mixed
    through a fixed orthogonal rotation, so axis-aligned PQ subspaces see
    correlated energy): the learned rotation must strictly improve ADC
    ranking recall at identical bits. Deterministic seeds; measured
    0.9775 plain vs 0.9892 OPQ."""
    from record_matching_spark.functions.similarity import (
        cosine_topk_tiled, ivfpq_cosine_topk,
    )

    rng = np.random.RandomState(11)
    M, _ = np.linalg.qr(rng.normal(size=(64, 64)))
    cents = rng.normal(size=(40, 6)) * 5.0
    rows = []
    vid = 0
    for ci in range(40):
        for _ in range(10):
            z = np.zeros(64)
            z[:6] = cents[ci] + 0.3 * rng.normal(size=6)
            z[6:] = 0.3 * rng.normal(size=58)
            rows.append((vid, [float(x) for x in z @ M]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_tiled(
            df, df, k=3, id_col="vec_id", vec_col="embedding"
        ).collect()
    }
    rec = {}
    for opq in (False, True):
        a = {
            (r["query_id"], r["neighbor_id"])
            for r in ivfpq_cosine_topk(
                df, df, k=3, n_cells=8, n_probe=8, m=8, nbits=4,
                rerank_factor=4, opq=opq,
            ).collect()
        }
        rec[opq] = len(a & exact) / len(exact)
    assert rec[True] > rec[False], rec
    assert rec[True] >= 0.985 and rec[False] >= 0.9, rec
