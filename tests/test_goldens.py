"""Golden-fixture regression (FIXTURES.md §5, BASELINE.md targets):
keep/drop F1 ≥ 0.99, byte-identical scrubbed text per url and the
terminal stage's recorded flag counts vs the pinned run frozen by
tools/freeze_goldens.py."""

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

GOLD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "goldens")


@pytest.fixture(scope="module")
def fresh_store(spark, pages):
    """The checkpoint store of one cold pipeline run, and its output."""
    from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
    from exome_qc_library_spark.sources.checkpoint import CheckpointStore

    ck = tempfile.mkdtemp(prefix="gold_ck_")
    store = CheckpointStore(spark, ck)
    out = build_quality_pipeline(store).run(pages)
    out = out.cache()
    out.count()
    yield store, out
    shutil.rmtree(ck, ignore_errors=True)


@pytest.fixture(scope="module")
def fresh_run(fresh_store):
    return fresh_store[1]


def test_keep_f1_vs_golden(spark, fresh_run):
    gold = spark.read.parquet(os.path.join(GOLD, "verdicts.parquet")).select(
        "url", F.col("keep").alias("keep_gold")
    )
    j = fresh_run.select("url", "keep").join(gold, "url", "inner").cache()
    assert j.count() == gold.count()
    tp = j.filter(F.col("keep") & F.col("keep_gold")).count()
    fp = j.filter(F.col("keep") & ~F.col("keep_gold")).count()
    fn = j.filter(~F.col("keep") & F.col("keep_gold")).count()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99 (fp={fp}, fn={fn})"


def test_flag_sets_match_golden(spark, fresh_run):
    gold = spark.read.parquet(os.path.join(GOLD, "verdicts.parquet"))
    fresh = fresh_run.select(
        "url",
        F.array_sort("low_pass_failing_qc").alias("low_pass_failing_qc"),
        F.array_sort("final_failing_qc").alias("final_failing_qc"),
    )
    diff = fresh.exceptAll(
        gold.select("url", "low_pass_failing_qc", "final_failing_qc")
    ).count()
    assert diff == 0


def test_scrubbed_text_byte_identical(spark, fresh_run):
    gold = spark.read.parquet(os.path.join(GOLD, "scrubbed.parquet")).select(
        "url", F.col("scrubbed_text").alias("gold_text")
    )
    j = fresh_run.select("url", "scrubbed_text").join(gold, "url")
    mism = j.filter(
        ~(
            (F.col("scrubbed_text").isNull() & F.col("gold_text").isNull())
            | (F.col("scrubbed_text") == F.col("gold_text"))
        )
    ).count()
    assert mism == 0


def test_flag_counts_match_golden(spark, fresh_store):
    """The terminal manifest's ``low_pass_failing_qc`` counts (the observed
    accounting path) equal the frozen ``flag_count_df`` multiset exactly."""
    store, _ = fresh_store
    gold = {
        (r["flag"] if r["flag"] is not None else "__none__"): r["n"]
        for r in spark.read.parquet(os.path.join(GOLD, "flag_counts.parquet")).collect()
    }
    recorded = store.manifest("s11_verdict")["metrics"]["flag_counts"]
    assert recorded["low_pass_failing_qc"] == gold
