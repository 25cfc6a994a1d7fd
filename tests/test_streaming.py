"""Structured-Streaming path: the stateless stage chain over a file stream
with watermarked windowed flag accounting (SURVEY.md §2.10)."""

import os
import shutil
import tempfile


def _run_stream_to_memory(spark, src_path, name):
    """Drive a bounded file stream through the windowed flag counts to
    completion. Complete mode, not append: on a BOUNDED run the watermark
    never advances past max_event_time − delay, so append mode would
    withhold every window within that horizon and the counts would miss
    the newest hours of data (round-6 review)."""
    from exome_qc_library_spark.streaming.stream import (
        stream_pages,
        streaming_quality_flags,
        windowed_flag_counts,
    )

    q = (
        windowed_flag_counts(streaming_quality_flags(stream_pages(spark, src_path)))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_pipeline_counts(spark, pages):
    import pyspark.sql.functions as F

    from exome_qc_library_spark.streaming.stream import streaming_quality_flags

    src = tempfile.mkdtemp(prefix="stream_src_")
    try:
        fixture = pages.limit(100)
        fixture.repartition(4).write.mode("overwrite").parquet(src)
        out = _run_stream_to_memory(spark, src, name="t_stream")
        rows = out.collect()
        assert len(rows) > 0
        flags = {r["flag"] for r in rows}
        assert None in flags or len(flags) > 1  # pass rows and/or fail reasons
        assert all(r["n"] > 0 for r in rows)
        # round-6 review: complete-mode totals cover EVERY window — append
        # mode on a bounded run withheld all windows within the watermark
        # horizon of the max event time, silently under-counting the
        # newest hours. Pin stream total ≡ batch total.
        batch_total = (
            streaming_quality_flags(fixture)
            .filter(F.col("warc_ts").isNotNull())
            .select(F.explode_outer("low_pass_failing_qc"))
            .count()
        )
        assert sum(r["n"] for r in rows) == batch_total
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_host_counters_accumulate_across_batches(spark, pages):
    """applyInPandasWithState: per-host counters must fold state across
    micro-batches (maxFilesPerTrigger=1 over a multi-file source) and the
    final counter per host must equal the batch aggregation."""
    import pyspark.sql.functions as F

    from exome_qc_library_spark.functions.urltools import host_expr
    from exome_qc_library_spark.operators.hard_filters import LOW_PASS, apply_hard_filters
    from exome_qc_library_spark.operators.ingest import ingest_pages
    from exome_qc_library_spark.streaming.stream import (
        stream_pages,
        streaming_host_counters,
    )
    from exome_qc_library_spark.synth import PAGES_SCHEMA

    src = tempfile.mkdtemp(prefix="stream_state_")
    try:
        pages.limit(120).repartition(4).write.mode("overwrite").parquet(src)

        def flagged(df):
            return apply_hard_filters(
                ingest_pages(df), "low_pass_failing_qc", LOW_PASS
            ).withColumn("host", host_expr(F.col("url")))

        q = (
            streaming_host_counters(flagged(stream_pages(spark, src, max_files_per_trigger=1)))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("t_state")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # update-mode memory sink appends each trigger's emissions: the MAX
        # per host is the final accumulated state
        got = {
            r["host"]: (r["n_docs"], r["n_flagged"])
            for r in spark.sql(
                "SELECT host, max(n_docs) AS n_docs, max(n_flagged) AS n_flagged "
                "FROM t_state GROUP BY host"
            ).collect()
        }
        want = {
            r["host"]: (r["n"], r["f"])
            for r in flagged(spark.read.schema(PAGES_SCHEMA).parquet(src))
            .groupBy("host")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.size("low_pass_failing_qc") > 0).alias("f"),
            )
            .collect()
        }
        assert got == want
        assert len(want) > 1
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_counters_survive_query_restart(spark, pages):
    """Stop/restart with the same checkpointLocation: per-host state must be
    recovered from the state store, not rebuilt from zero — the property a
    100 TB resumable ingest relies on (round-2 VERDICT #8)."""
    import pyspark.sql.functions as F

    from exome_qc_library_spark.functions.urltools import host_expr
    from exome_qc_library_spark.operators.hard_filters import LOW_PASS, apply_hard_filters
    from exome_qc_library_spark.operators.ingest import ingest_pages
    from exome_qc_library_spark.streaming.stream import (
        stream_pages,
        streaming_host_counters,
    )
    from exome_qc_library_spark.synth import PAGES_SCHEMA

    src = tempfile.mkdtemp(prefix="stream_restart_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_restart_ckpt_")
    try:
        all_pages = pages.limit(120).cache()
        t1 = all_pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
        t2 = all_pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)

        def flagged(df):
            return apply_hard_filters(
                ingest_pages(df), "low_pass_failing_qc", LOW_PASS
            ).withColumn("host", host_expr(F.col("url")))

        def run_once():
            # memory sink cannot recover from a checkpoint — foreachBatch is
            # the restartable sink shape a real deployment uses
            emitted = []

            def sink(batch_df, _bid):
                emitted.extend(batch_df.collect())

            q = (
                streaming_host_counters(
                    flagged(stream_pages(spark, src, max_files_per_trigger=1))
                )
                .writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return emitted

        t1.repartition(2).write.mode("overwrite").parquet(src)
        run_once()
        # second tranche lands AFTER the first query stopped
        t2.repartition(2).write.mode("append").parquet(src)
        run2 = run_once()

        got: dict = {}
        for r in run2:  # keep the LAST emission per host (max counters)
            cur = got.get(r["host"], (0, 0))
            got[r["host"]] = (max(cur[0], r["n_docs"]), max(cur[1], r["n_flagged"]))
        want_all = {
            r["host"]: (r["n"], r["f"])
            for r in flagged(spark.read.schema(PAGES_SCHEMA).parquet(src))
            .groupBy("host")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.size("low_pass_failing_qc") > 0).alias("f"),
            )
            .collect()
        }
        want_t2_only = {
            r["host"]: r["n"]
            for r in flagged(t2).groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # run 2 emits only tranche-2 hosts, but each with counters folded
        # over BOTH tranches — equal to the full batch aggregation
        assert got, "second run emitted nothing"
        for host, (n_docs, n_flagged) in got.items():
            assert (n_docs, n_flagged) == want_all[host]
        # at least one host spans both tranches, proving state was recovered
        # (n_docs strictly exceeds its tranche-2-only count)
        assert any(got[h][0] > want_t2_only.get(h, 0) for h in got)
        all_pages.unpersist()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _dedup_tranches():
    import datetime

    def ts(i):
        return datetime.datetime(2024, 1, 1, i)

    # arrival (tranche) order == warc_ts order, so stream first-arrived ≡
    # batch earliest-warc_ts
    return [
        [("a1", ts(1), "content X"), ("a2", ts(2), "content Y"), ("n1", ts(2), None)],
        [("b1", ts(3), "content X"), ("b2", ts(4), "content Z"), ("n2", ts(4), None)],
        [("c1", ts(5), "content X"), ("c2", ts(6), "content W"), ("c3", ts(7), "content Y")],
    ]


def _run_dedup_stream(spark, src, ckpt):
    from exome_qc_library_spark.streaming.stream import streaming_exact_dedup

    emitted = []

    def sink(batch_df, _bid):
        emitted.extend(r["url"] for r in batch_df.select("url").collect())

    q = (
        streaming_exact_dedup(
            spark.readStream.schema("url string, warc_ts timestamp, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return emitted


def test_streaming_exact_dedup_matches_batch(spark):
    """round-4 VERDICT #6: cross-batch exact dedup via
    dropDuplicatesWithinWatermark on the content hash must keep exactly
    the batch operator's keep-set over a multi-file time-ordered stream;
    NULL-text rows are never deduplicated."""
    import pyspark.sql.functions as F

    from exome_qc_library_spark.operators.dedup import flag_exact_duplicates

    src = tempfile.mkdtemp(prefix="stream_dedup_")
    ckpt = tempfile.mkdtemp(prefix="stream_dedup_ck_")
    schema = "url string, warc_ts timestamp, text string"
    try:
        for tranche in _dedup_tranches():
            spark.createDataFrame(tranche, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        kept_stream = set(_run_dedup_stream(spark, src, ckpt))
        batch = flag_exact_duplicates(spark.read.schema(schema).parquet(src))
        kept_batch = {
            r["url"]
            for r in batch.filter(
                ~F.array_contains("low_pass_failing_qc", "exact_duplicate")
            ).collect()
        }
        assert kept_stream == kept_batch == {"a1", "a2", "b2", "c2", "n1", "n2"}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_exact_dedup_survives_restart(spark):
    """Dedup state must be recovered from the checkpoint: a duplicate whose
    original arrived BEFORE the restart is still dropped after it."""
    src = tempfile.mkdtemp(prefix="stream_dedup_rs_")
    ckpt = tempfile.mkdtemp(prefix="stream_dedup_rs_ck_")
    schema = "url string, warc_ts timestamp, text string"
    t1, t2, t3 = _dedup_tranches()
    try:
        for tranche in (t1, t2):
            spark.createDataFrame(tranche, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        first = _run_dedup_stream(spark, src, ckpt)
        assert set(first) == {"a1", "a2", "b2", "n1", "n2"}
        # tranche 3 lands after the first query stopped; c1 duplicates
        # pre-restart content X and must STILL be dropped
        spark.createDataFrame(t3, schema).coalesce(1).write.mode("append").parquet(src)
        second = _run_dedup_stream(spark, src, ckpt)
        assert set(second) == {"c2"}  # c1 (dup of a1) and c3 (dup of a2) dropped
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


# the tags the default pipeline's cross-record stages emit: s4, s5, s6, s10
# and s8 compare a doc with other docs, so the streaming chain has no such
# stage
CROSS_RECORD_TAGS = {
    "exact_duplicate",
    "near_duplicate",
    "metric_outlier",
    "segment_outlier",
    "missing_segment_outlier",
    "host_outlier",
}


def test_streaming_matches_batch_flags(spark, pages):
    """The streaming chain runs the batch pipeline's stateless stages, so
    per url it scores, counts PII and flags exactly as the cold pipeline
    does once the cross-record stages' tags are removed, and a url that
    carries none of those tags gets the cold run's verdict and scrub."""
    from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
    from exome_qc_library_spark.sources.checkpoint import CheckpointStore
    from exome_qc_library_spark.streaming.stream import streaming_quality_flags

    flag_cols = ("low_pass_failing_qc", "final_failing_qc")
    cols = ("url", "lang_id", "lang_conf", "perplexity", "pii_hits", *flag_cols)
    cols += ("keep", "scrubbed_text")
    root = tempfile.mkdtemp(prefix="stream_vs_batch_")
    try:
        cold = build_quality_pipeline(CheckpointStore(spark, root)).run(pages)
        batch = {r["url"]: r for r in cold.select(*cols).collect()}
    finally:
        shutil.rmtree(root, ignore_errors=True)
    stream = {r["url"]: r for r in streaming_quality_flags(pages).select(*cols).collect()}
    assert set(stream) == set(batch) and len(stream) == pages.count()
    crossed = 0
    for url, s in stream.items():
        b = batch[url]
        for c in ("lang_id", "lang_conf", "perplexity", "pii_hits"):
            assert s[c] == b[c], (url, c)
        for c in flag_cols:
            assert s[c] == [f for f in b[c] if f not in CROSS_RECORD_TAGS], (url, c)
        if CROSS_RECORD_TAGS.isdisjoint(b[flag_cols[0]] + b[flag_cols[1]]):
            assert (s["keep"], s["scrubbed_text"]) == (b["keep"], b["scrubbed_text"]), url
        else:
            crossed += 1
    # the comparison covers real tags of both arrays and of both kinds
    assert 0 < crossed < len(stream)
    assert all(any(s[c] for s in stream.values()) for c in flag_cols)
    assert any("perplexity" in s["final_failing_qc"] for s in stream.values())


def test_streaming_decontamination_matches_batch(spark, pages):
    """Decontamination is per-doc vs a STATIC benchmark — it needs no
    cross-batch state, so it composes into streaming via foreachBatch
    (the repo's documented pattern for cross-record stages) and must
    produce exactly the batch operator's flags."""
    import pyspark.sql.functions as F

    from exome_qc_library_spark.operators.decontaminate import flag_contaminated
    from exome_qc_library_spark.operators.ingest import ingest_pages
    from exome_qc_library_spark.streaming.stream import stream_pages

    src = tempfile.mkdtemp(prefix="stream_decon_")
    try:
        sample = pages.limit(80).cache()
        sample.repartition(4).write.mode("overwrite").parquet(src)
        # benchmark = one real doc's text → at least one stream doc flags
        bench_text = sample.filter(F.col("text").isNotNull()).first()["text"]
        bench = spark.createDataFrame([("b1", bench_text)], "bid string, text string")

        collected: dict[str, bool] = {}

        def sink(df, _epoch):
            out = flag_contaminated(ingest_pages(df), bench, n=5, flag_col="ff")
            for r in out.select("url", "ff").collect():
                collected[r["url"]] = "contaminated" in r["ff"]

        q = (
            stream_pages(spark, src, max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

        batch = flag_contaminated(ingest_pages(sample), bench, n=5, flag_col="ff")
        want = {
            r["url"]: "contaminated" in r["ff"]
            for r in batch.select("url", "ff").collect()
        }
        assert collected == want
        assert any(want.values()) and not all(want.values())
        sample.unpersist()
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_exact_dedup_null_text_null_key_rows_all_survive(spark):
    """round-5 ADVICE: with text AND key both NULL the state key must not
    collapse to a single NULL-concat group — every such row survives."""
    import datetime

    src = tempfile.mkdtemp(prefix="stream_nullkey_")
    ckpt = tempfile.mkdtemp(prefix="stream_nullkey_ck_")
    schema = "url string, warc_ts timestamp, text string"
    rows = [
        (None, datetime.datetime(2024, 1, 1, h), None) for h in range(1, 4)
    ]
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        emitted = _run_dedup_stream(spark, src, ckpt)
        assert emitted == [None, None, None]  # all three, none deduplicated
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
