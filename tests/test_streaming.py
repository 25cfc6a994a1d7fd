"""Structured-Streaming path: the stateless stage chain over a file stream
with watermarked windowed flag accounting (SURVEY.md §2.10)."""

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
