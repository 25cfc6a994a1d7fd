"""Hand-computed metric expectations, including NULL/empty/unicode cases
(missing-value semantics per FIXTURES.md §7.3)."""

import pyspark.sql.functions as F
import pytest

from exome_qc_library_spark.functions.textmetrics import with_text_metrics


def metrics_of(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    return with_text_metrics(df).collect()[0].asDict()


def test_simple_sentence(spark):
    m = metrics_of(spark, "the cat sat")
    assert m["word_count"] == 3
    assert m["n_chars"] == 11
    assert m["mean_word_len"] == pytest.approx((3 + 3 + 3) / 3)
    assert m["symbol_ratio"] == 0.0
    assert m["stopword_density"] == pytest.approx(1 / 3)  # 'the'
    assert m["alpha_word_ratio"] == 1.0
    assert m["max_word_len"] == 3


def test_null_text_gives_null_metrics(spark):
    m = metrics_of(spark, None)
    for k in ("word_count", "mean_word_len", "symbol_ratio", "stopword_density"):
        assert m[k] is None, k


def test_empty_and_whitespace(spark):
    for t in ("", "   \n\t "):
        m = metrics_of(spark, t)
        assert m["word_count"] == 0
        assert m["mean_word_len"] is None  # 0/0 → NULL, not 0
        assert m["stopword_density"] is None


def test_symbol_ratio(spark):
    m = metrics_of(spark, "ab!?")  # 2 symbols / 4 chars
    assert m["symbol_ratio"] == pytest.approx(0.5)


def test_dup_line_frac(spark):
    m = metrics_of(spark, "same line\nsame line\nother")
    assert m["line_count"] == 3
    assert m["dup_line_frac"] == pytest.approx(1 - 2 / 3)


def test_ellipsis_and_bullets(spark):
    m = metrics_of(spark, "- item one\n- item two\nwait for it...")
    assert m["bullet_line_frac"] == pytest.approx(2 / 3)
    assert m["ellipsis_line_frac"] == pytest.approx(1 / 3)


def test_unicode_words_count(spark):
    m = metrics_of(spark, "café 😀 naïve")
    assert m["word_count"] == 3
    # emoji is a symbol-class char: 1 of 12 codepoints... just assert bounds
    assert 0 < m["symbol_ratio"] < 1


def test_multiline_counts(spark):
    m = metrics_of(spark, "a b c\n\n  \nd e")
    assert m["line_count"] == 2
    assert m["word_count"] == 5


def test_symbol_ratio_unicode_letters_not_symbols(spark):
    """Round-6 review: ASCII-only classes counted every accented letter
    and all CJK as symbols, failing legitimate multilingual docs at the
    0.10-0.12 thresholds. Unicode letters/digits must not count."""
    from exome_qc_library_spark.functions.textmetrics import text_metrics

    rows = [("fr", "héllo naïve café über ñandú"), ("sym", "%%% $$$ @@@ ###")]
    df = spark.createDataFrame(rows, "k string, text string")
    m = {r["k"]: r["sr"] for r in df.select(
        "k", text_metrics(F.col("text"))["symbol_ratio"].alias("sr")
    ).collect()}
    assert m["fr"] == 0.0  # accented letters are letters, not symbols
    assert m["sym"] > 0.4  # real symbols still count


def test_line_metrics_handle_crlf(spark):
    """Round-6 review: a bare \\n split left a trailing \\r on every CRLF
    line, so endswith('...') never matched and tab-only lines counted as
    content."""
    from exome_qc_library_spark.functions.textmetrics import text_metrics

    text = "first line...\r\nsecond line\r\n\t\r\nthird..."
    df = spark.createDataFrame([(text,)], "text string")
    m = df.select(
        text_metrics(F.col("text"))["line_count"].alias("lc"),
        text_metrics(F.col("text"))["ellipsis_line_frac"].alias("ef"),
    ).collect()[0]
    assert m["lc"] == 3  # tab-only line is not content
    assert abs(m["ef"] - 2 / 3) < 1e-9  # both '...' lines match
