"""Structured Streaming ingestion of the pages table.

The reference is a pure batch pipeline whose closest streaming analog is
its resumable checkpointing (``/root/reference/README.md:54-55``;
SURVEY.md §2.10). The target layout is append-only snapshots keyed by
``warc_ts`` — which makes the *same stage functions* runnable under
``readStream``: the batch stages declared ``stateless`` (s0 ingest, s3
hard filters, s9 scoring, s11 verdict and scrub) compose unchanged; the
cross-record stages (exact and near dedup, outliers, host QC) stay in
the batch plane.

Provided here:
* :func:`stream_pages` — file-source stream over a pages directory;
* :func:`streaming_quality_flags` — the batch pipeline's stateless
  stages as a streaming transformation;
* :func:`windowed_flag_counts` — watermarked per-crawl-window flag
  accounting (late pages up to the watermark are folded in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def windowed_flag_counts(flagged: DataFrame) -> DataFrame:
    """Per-hour-of-crawl fail-reason accounting, folding in pages up to two
    hours late."""
    return (
        flagged.withWatermark("warc_ts", "2 hours")
        .select(F.col("warc_ts"), F.explode_outer("low_pass_failing_qc").alias("flag"))
        .groupBy(F.window("warc_ts", "1 hour"), "flag")
        .agg(F.count(F.lit(1)).alias("n"))
    )

