"""Rule firing + annotate-don't-drop invariants for S3/S9
(reference semantics: shared/variant_qc.py:527-725)."""

import pyspark.sql.functions as F

from exome_qc_library_spark.operators.hard_filters import QualityThresholds, apply_hard_filters


def test_rules_fire(spark):
    rows = [
        ("short", "tiny doc"),
        ("symbols", "the and of to a in is was for with on that " * 5 + "@#$%^&*()!@#$%^&*()" * 8),
        ("ok", ("the and of to a in is was for with on that this it as are " * 6).strip()),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    out = apply_hard_filters(df, thresholds=QualityThresholds(min_word_count=20))
    flags = {r["id"]: set(r["low_pass_failing_qc"]) for r in out.collect()}
    assert "word_count" in flags["short"]
    assert "symbol_ratio" in flags["symbols"]
    assert flags["ok"] == set()


def test_null_text_gets_missing_flags(spark):
    df = spark.createDataFrame([("x", None)], "id string, text string")
    out = apply_hard_filters(df)
    fl = out.collect()[0]["low_pass_failing_qc"]
    assert "missing_word_count" in fl
    assert all(f.startswith("missing_") for f in fl)


def test_row_count_and_keys_preserved(spark, pages):
    out = apply_hard_filters(pages)
    assert out.count() == pages.count()
    assert out.select("url").distinct().count() == pages.select("url").distinct().count()


def test_flag_rate_sane_on_synth(spark, pages):
    out = apply_hard_filters(pages)
    n = out.count()
    passing = out.filter(F.size("low_pass_failing_qc") == 0).count()
    # synth plants ~40% failure classes; the clean majority must pass
    assert 0.3 < passing / n < 0.9
