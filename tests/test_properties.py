"""Property-based invariants (hypothesis) — FIXTURES.md §7 contracts over
arbitrary text, evaluated in batched Spark jobs (one job per example set).
"""

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from exome_qc_library_spark.functions.hashing import word_shingles
from exome_qc_library_spark.operators.hard_filters import apply_hard_filters
from exome_qc_library_spark.operators.scrub import scrub_expr
from exome_qc_library_spark.functions.textmetrics import with_text_metrics

# printable-ish text incl. unicode, newlines, tabs; plus None/empty corners
texts = st.one_of(
    st.none(),
    st.text(max_size=200),
    st.text(
        alphabet=st.characters(whitelist_categories=("L", "N", "P", "Z", "S")), max_size=400
    ),
)

BATCH = st.lists(texts, min_size=1, max_size=40)

SLOW = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _df(spark, batch):
    return spark.createDataFrame([(i, t) for i, t in enumerate(batch)], "id long, text string")


@given(BATCH)
@SLOW
def test_metrics_never_error_and_bounds(spark, batch):
    rows = with_text_metrics(_df(spark, batch)).collect()
    assert len(rows) == len(batch)
    for r in rows:
        if r["text"] is None:
            assert r["word_count"] is None
            continue
        assert r["word_count"] >= 0
        for ratio in ("symbol_ratio", "stopword_density", "alpha_word_ratio", "dup_line_frac"):
            v = r[ratio]
            assert v is None or -1e-9 <= v <= 1 + 1e-9, (ratio, v, r["text"])


@given(BATCH)
@SLOW
def test_flags_preserve_rows_and_missing_semantics(spark, batch):
    out = apply_hard_filters(_df(spark, batch)).collect()
    assert len(out) == len(batch)
    for r in out:
        flags = r["low_pass_failing_qc"]
        assert len(flags) == len(set(flags))  # no duplicate tags in one pass
        if r["text"] is None:
            assert all(f.startswith("missing_") for f in flags) and flags


@given(BATCH)
@SLOW
def test_scrub_idempotent_and_null_preserving(spark, batch):
    df = _df(spark, batch)
    once = df.select("id", scrub_expr(F.col("text")).alias("s"))
    twice = once.select("id", scrub_expr(F.col("s")).alias("s"))
    a = {r["id"]: r["s"] for r in once.collect()}
    b = {r["id"]: r["s"] for r in twice.collect()}
    assert a == b  # replacement tokens never re-match any pattern
    for i, t in enumerate(batch):
        assert (a[i] is None) == (t is None)


# ASCII whitespace (Java \s) and Unicode spaces it does not cover
_SPACES = " \t\n\r\x0b\x0c\u3000\u00a0\u2003\u2028\u0085"
_spacey = st.lists(
    st.one_of(st.sampled_from(_SPACES), st.text(max_size=3)), max_size=12
).map("".join)


@given(
    st.lists(
        st.one_of(st.none(), st.just(""), _spacey, st.text(max_size=40)), min_size=1, max_size=40
    )
)
@SLOW
def test_non_blank_text_iff_it_has_a_shingle(spark, batch):
    # minhash_sketch drops docs on rlike('\S') before its UDF instead of
    # on the UDF's NULL signature after it; both select the same docs
    rows = (
        _df(spark, batch)
        .select(
            "id",
            F.col("text").rlike(r"\S").alias("non_blank"),
            (F.size(word_shingles(F.col("text"), 3)) > 0).alias("has_shingle"),
        )
        .collect()
    )
    assert len(rows) == len(batch)
    for r in rows:
        assert bool(r["non_blank"]) == bool(r["has_shingle"]), batch[r["id"]]
