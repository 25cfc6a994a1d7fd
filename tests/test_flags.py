"""Flag-combinator semantics (the engine's core invariants).

Mirrors the reference's conditional-append + missing-tag behavior
(/root/reference/shared/variant_qc.py:568-628,573-575) per FIXTURES.md §7.
"""

import pyspark.sql.functions as F

from exome_qc_library_spark.functions.flags import (
    add_flags,
    apply_flags,
    flag_count_df,
    flag_update,
    keep_expr,
    with_flag_column,
)


def _df(spark):
    return spark.createDataFrame(
        [(1, 10, "a"), (2, None, "b"), (3, 99, None), (4, 5, "ok")],
        "id int, metric int, label string",
    )


def test_add_flags_basic_and_missing(spark):
    # missing_* tagging lives on the expression half, flag_update
    df = apply_flags(
        _df(spark),
        "fl",
        flag_update(
            "fl",
            {"too_big": F.col("metric") > 50, "bad_label": F.col("label") == "b"},
            {"too_big": [F.col("metric")]},
        ),
    )
    got = {r["id"]: sorted(r["fl"]) for r in df.collect()}
    assert got == {
        1: [],
        2: ["bad_label", "missing_too_big"],
        3: ["too_big"],  # NULL label → NULL pred → no flag (missing_false)
        4: [],
    }


def test_null_pred_without_missing_does_not_flag(spark):
    df = add_flags(_df(spark), "fl", {"x": F.col("label") == "zzz"})
    assert all(r["fl"] == [] for r in df.collect())


def test_flags_accumulate_across_calls(spark):
    df = add_flags(_df(spark), "fl", {"a": F.col("id") == 1})
    df = add_flags(df, "fl", {"b": F.col("id") == 1})
    row = {r["id"]: r["fl"] for r in df.collect()}
    assert row[1] == ["a", "b"]


def test_keep_expr_conjunction(spark):
    df = with_flag_column(with_flag_column(_df(spark), "f1"), "f2")
    df = add_flags(df, "f1", {"x": F.col("id") == 1})
    df = add_flags(df, "f2", {"y": F.col("id") == 2})
    kept = {r["id"]: r["k"] for r in df.select("id", keep_expr("f1", "f2").alias("k")).collect()}
    assert kept == {1: False, 2: False, 3: True, 4: True}


def test_count_flags_single_pass(spark):
    df = add_flags(
        _df(spark), "fl", {"big": F.col("metric") > 50, "tiny": F.col("metric") < 8}
    )
    counts = {r["flag"]: r["n"] for r in flag_count_df(df, "fl").collect()}
    # per-tag counts plus the flagless rows under the NULL flag
    assert counts == {"big": 1, "tiny": 1, None: 2}


def test_flag_count_df_grouped(spark):
    df = add_flags(_df(spark), "fl", {"big": F.col("metric") > 50})
    rows = {
        (r["flag"],): r["n"] for r in flag_count_df(df, "fl").collect()
    }
    assert rows[("big",)] == 1
    assert rows[(None,)] == 3  # explode_outer keeps unflagged rows


def test_flag_vocab_metadata_accumulates_and_survives_parquet(spark, tmp_path):
    # apply_flags records every tag its update can emit (incl. missing_*
    # variants) as column metadata; a second call extends it; parquet
    # round-trips keep it
    from exome_qc_library_spark.functions.flags import flag_vocab

    df = apply_flags(
        _df(spark),
        "fl",
        flag_update("fl", {"too_big": F.col("metric") > 50}, {"too_big": [F.col("metric")]}),
    )
    assert flag_vocab(df, "fl") == ["too_big", "missing_too_big"]
    df = add_flags(df, "fl", {"bad_label": F.col("label") == "b"})
    assert flag_vocab(df, "fl") == ["too_big", "missing_too_big", "bad_label"]
    p = str(tmp_path / "vocab_roundtrip")
    df.write.parquet(p)
    back = spark.read.parquet(p)
    assert flag_vocab(back, "fl") == ["too_big", "missing_too_big", "bad_label"]
    # a plain column has no vocabulary
    assert flag_vocab(df, "label") is None
