"""S2 blocklist (anti-join/substring) + url host/salt expressions."""

import pyspark.sql.functions as F

from exome_qc_library_spark.functions.urltools import host_expr, salt_expr
from exome_qc_library_spark.operators.blocklist import (
    flag_blocklisted,
    flag_substring_matches,
)


def test_host_extraction(spark):
    df = spark.createDataFrame(
        [
            ("https://Sub.Example.COM/path?q=1",),
            ("http://user@host.org:8080/x",),
            ("example.net/plain",),
        ],
        "url string",
    )
    got = [r["h"] for r in df.select(host_expr(F.col("url")).alias("h")).collect()]
    assert got == ["sub.example.com", "host.org", "example.net"]


def test_salt_stable_and_bounded(spark):
    df = spark.createDataFrame([(f"https://h0.com/{i}",) for i in range(100)], "url string")
    vals = [r["s"] for r in df.select(salt_expr(F.col("url"), 16).alias("s")).collect()]
    assert all(0 <= v < 16 for v in vals)
    assert len(set(vals)) > 4  # spreads the hot host
    vals2 = [r["s"] for r in df.select(salt_expr(F.col("url"), 16).alias("s")).collect()]
    assert vals == vals2


def test_flag_blocklisted_url_and_host(spark):
    docs = spark.createDataFrame(
        [("https://bad.com/p1",), ("https://good.com/p1",), ("https://x.com/exact",)],
        "url string",
    )
    bl = spark.createDataFrame([("bad.com",), ("https://x.com/exact",)], "url_or_host string")
    out = {r["url"]: r["low_pass_failing_qc"] for r in flag_blocklisted(docs, bl).collect()}
    assert out["https://bad.com/p1"] == ["blocklisted"]
    assert out["https://x.com/exact"] == ["blocklisted"]
    assert out["https://good.com/p1"] == []
    assert len(out) == 3


def test_flag_blocklisted_preserves_duplicate_urls(spark):
    # round-1 ADVICE: the old OR-join + dropDuplicates collapsed re-fetched
    # urls; duplicates must survive, and a row matching by BOTH url and
    # host must not multiply
    docs = spark.createDataFrame(
        [("https://bad.com/p1",), ("https://bad.com/p1",), ("https://ok.com/p",)],
        "url string",
    )
    bl = spark.createDataFrame(
        [("bad.com",), ("https://bad.com/p1",)], "url_or_host string"
    )
    out = flag_blocklisted(docs, bl)
    assert out.count() == 3  # both re-fetches kept, no multiplication
    assert out.filter(F.array_contains("low_pass_failing_qc", "blocklisted")).count() == 2


def test_substring_flags_and_eager_removal(spark):
    docs = spark.createDataFrame(
        [("https://a.com/casino/win",), ("https://b.com/news",)], "url string"
    )
    out = {r["url"]: r["low_pass_failing_qc"] for r in flag_substring_matches(docs, ["casino"]).collect()}
    assert out["https://a.com/casino/win"] == ["url_substring"]
    assert out["https://b.com/news"] == []
