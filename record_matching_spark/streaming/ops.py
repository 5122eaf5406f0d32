"""Streaming operators: watermarked window aggregation + custom stateful
dedup.

The reference is batch-only (SURVEY.md §2: no streaming operators exist),
so these are the engine's forward-looking additions for a production
ingest path: late-data-tolerant rollups over an event stream, and an
exactly-once seen-key dedup that holds its state ACROSS micro-batches via
applyInPandasWithState — the op a continuous training-data pipeline needs
so a document re-delivered hours later is still dropped.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup over a (streaming) event frame:
    (window_start, window_end, <key>, n, sum_value). Rows later than
    `watermark` past the max seen ts are dropped and their windows finalize
    — bounded state, the Structured-Streaming late-data contract."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
            "sum_value",
        )
    )


_DEDUP_STATE = StructType([StructField("seen", LongType())])


def stateful_stream_dedup(
    stream: DataFrame,
    key_col: str = "content_sha",
) -> DataFrame:
    """Exactly-once streaming dedup: the FIRST row per key passes, every
    later arrival — same micro-batch or any later one — is dropped. State
    (one long per key) lives in the state store, so restarts resume the
    seen-set from the checkpoint. applyInPandasWithState = the custom
    stateful operator path (batch analog: exact_dedup)."""
    out_schema = stream.schema

    def dedup_fn(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        first = None
        for pdf in batches:
            if len(pdf):
                first = pdf.iloc[[0]]
                break
        if first is None:
            return
        state.update((1,))
        yield first

    return stream.groupBy(key_col).applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_NEAR_DUP_STATE = StructType([StructField("rep", StringType())])
_NEAR_DUP_OUT = StructType(
    [
        StructField("block_key", LongType()),
        StructField("doc_id", StringType()),
        StructField("rep_id", StringType()),
    ]
)
# verified variant: rep's sorted token-hash set rides in state as packed
# int64 bytes; output carries the exact Jaccard that admitted the edge
_NEAR_DUP_STATE_V = StructType(
    [StructField("rep", StringType()), StructField("rep_toks", BinaryType())]
)
_NEAR_DUP_OUT_V = StructType(
    [
        StructField("block_key", LongType()),
        StructField("doc_id", StringType()),
        StructField("rep_id", StringType()),
        StructField("jaccard", DoubleType()),
    ]
)


def streaming_near_dup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
    verify_threshold: float | None = None,
) -> DataFrame:
    """Cross-batch streaming NEAR-dup candidates: MinHash-LSH band keys with
    per-band representative state.

    Streaming analog of the candidate stage of
    `functions.dedup.minhash_near_dup_pairs` — the same signature → band →
    content-sha-key builder (stateless per row, so it runs unchanged under
    Structured Streaming), but membership is resolved
    against ALL history via the state store instead of a self-join: each
    band key holds its FIRST-seen doc id (its representative), and every
    later arrival on that band — same micro-batch or any later one — emits
    an edge to that representative. P(edge | J) = 1-(1-J^r)^b per the LSH
    contract.

    verify_threshold=None (default) emits every candidate edge — exact
    verification then belongs downstream (join the edge stream against a
    doc store). verify_threshold=τ mirrors the batch path's exact
    verify-then-emit over the same token-hash payload: the
    representative's sorted token-HASH set rides in state (packed int64
    bytes, 8 B/token), every later same-band arrival is exact-verified
    against it in-state, and a candidate below τ produces NO row; output
    gains a `jaccard` column (1.0 on the rep's own membership row).
    Jaccard over xxhash64 token hashes equals Jaccard over the tokens up
    to a ~2⁻⁶⁴ collision. Asymmetry vs batch: verification is against the
    band's first-seen representative only (state holds one doc per band),
    not all-pairs within the band — a rejected doc still pairs through
    its other bands, the LSH recall contract unchanged.

    Output (append mode): (block_key, doc_id, rep_id[, jaccard]) — one row
    per band per doc; `doc_id != rep_id` rows are the candidate near-dup
    edges. Within a micro-batch the representative is the MIN doc id (so
    output is deterministic under task reordering); across batches it is
    the first-seen representative from the state store, which survives
    restarts via the checkpoint. State: one string (plus one packed
    token-hash set when verifying) per distinct band key, hash-partitioned
    across executors by the state store — the same scale class as the
    batch blocks table, with no growth per re-delivery.
    """
    import numpy as np

    from record_matching_spark.functions.dedup import _bands, _payload

    verify = verify_threshold is not None
    stream = stream.select(
        F.col(id_col).cast("string").alias(id_col), F.col(text_col)
    )
    # bands come from the payload's token hashes; when verifying, the
    # representative's hashes also ride through the band explode
    names = (id_col, "_th", "_sha", "_n")
    bands = _bands(
        _payload(stream, id_col, text_col, shingle_k, names), names,
        num_bands, rows_per_band, keep_cols=["_th"] if verify else [],
    )

    def match_fn(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ids: list[str] = []
        for pdf in batches:
            ids.extend(pdf[id_col].tolist())
        if not ids:
            return
        ids = sorted(set(ids))
        if state.exists:
            (rep,) = state.get
        else:
            rep = ids[0]
            state.update((rep,))
        yield pd.DataFrame(
            {"block_key": key[0], "doc_id": ids, "rep_id": rep}
        )

    def match_fn_verified(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        docs: dict[str, np.ndarray] = {}
        for pdf in batches:
            for _id, th in zip(pdf[id_col], pdf["_th"]):
                if _id not in docs:
                    docs[_id] = np.asarray(
                        [] if th is None else th, dtype=np.int64
                    )
        if not docs:
            return
        ids = sorted(docs)
        if state.exists:
            rep, rep_bytes = state.get
            rep_toks = np.frombuffer(rep_bytes, dtype=np.int64)
        else:
            rep = ids[0]
            rep_toks = docs[rep]
            state.update((rep, rep_toks.tobytes()))
        out_ids, out_j = [], []
        for _id in ids:
            if _id == rep:
                j = 1.0
            else:
                t = docs[_id]
                inter = np.intersect1d(t, rep_toks, assume_unique=True).size
                union = t.size + rep_toks.size - inter
                j = 1.0 if union == 0 else inter / union
                if j < verify_threshold:
                    continue  # the verify-then-emit gate
            out_ids.append(_id)
            out_j.append(j)
        if out_ids:
            yield pd.DataFrame(
                {
                    "block_key": key[0],
                    "doc_id": out_ids,
                    "rep_id": rep,
                    "jaccard": out_j,
                }
            )

    return bands.groupBy("block_key").applyInPandasWithState(
        match_fn_verified if verify else match_fn,
        outputStructType=_NEAR_DUP_OUT_V if verify else _NEAR_DUP_OUT,
        stateStructType=_NEAR_DUP_STATE_V if verify else _NEAR_DUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_decontaminate(
    stream: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_bands: int = 32,
    rows_per_band: int = 4,
    shingle_k: int | None = None,
) -> DataFrame:
    """Streaming cross-corpus decontamination: contamination records
    (doc_id, probe_id, jaccard) for STREAM documents that near-duplicate
    any document of a STATIC probe corpus (benchmark/eval suites) — the
    continuous-ingest form of `functions.dedup.cross_corpus_near_dup_pairs`
    (the same band builder, verify payload and exact-Jaccard check from
    `functions.dedup`, same content-sha identical-text guarantee), so
    documents leaking benchmark content are flagged at ingest time instead
    of by a later batch sweep.

    Scale shape (unbounded corpus stream × bounded probe set): the probe's
    band keys and token-hash features are BATCH frames marked broadcast —
    each micro-batch of the stream crosses two map-side broadcast hash
    joins and never shuffles. The stream carries its own token-hash verify
    payload through the band explode (×(num_bands+1) in-flight payload
    duplication, map-side only — the price of not being able to re-join a
    stream to itself the way the batch path re-attaches corpus features
    post-dedup). Verification runs inline per band hit; only VERIFIED hits
    (tiny by construction) reach the single stateful operator, a
    dropDuplicates on (doc_id, probe_id) whose state is bounded by the
    number of distinct contaminated pairs ever seen — re-deliveries and
    multi-band hits add no state and emit no duplicate rows.

    Output (append mode): (doc_id, probe_id, jaccard), one row per
    contaminated pair, exactly-once across micro-batches. Batch parity is
    pytest-gated: over the same data this equals
    cross_corpus_near_dup_pairs row-for-row.
    """
    from record_matching_spark.functions.dedup import (
        _PROBE, _bands, _index, _payload, _size_ok, _verified,
    )

    # the verify payload is plain column exprs over the SAME rows — attach
    # it before the band explode (a stream cannot re-join itself later)
    names = (id_col, "_ta", "_sha_a", "_na")
    bands = _bands(
        _payload(stream, id_col, text_col, shingle_k, names), names,
        num_bands, rows_per_band, keep_cols=list(names[1:]),
    )
    pb, pf = _index(probe, _PROBE, id_col, text_col,
                    num_bands, rows_per_band, shingle_k)
    hits = (
        bands.join(F.broadcast(pb), "block_key")
        .join(F.broadcast(pf), "probe_id")
        .filter(_size_ok(threshold))
    )
    return (
        _verified(hits, threshold)
        .select(F.col(id_col).alias("doc_id"), "probe_id", "jaccard")
        .dropDuplicates(["doc_id", "probe_id"])
    )


def run_stream_to_parquet(
    df: DataFrame,
    dest_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Drive a streaming frame to parquet with availableNow (process the
    backlog exactly-once, then stop)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
