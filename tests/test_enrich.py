"""S1 enrich: host-metadata broadcast join + spam flags (J1 analog)."""

import pyspark.sql.functions as F
import pytest

from exome_qc_library_spark.operators.enrich import enrich_with_host_metadata, flag_spam_hosts


def test_enrich_and_spam_flags(spark):
    docs = spark.createDataFrame(
        [("https://a.com/1",), ("https://b.com/1",), ("https://c.com/1",)], "url string"
    )
    meta = spark.createDataFrame(
        [("a.com", "src1", 0.95, "b1"), ("b.com", "src2", 0.1, "b1")],
        "host string, source string, spam_score double, crawl_batch string",
    )
    out = flag_spam_hosts(enrich_with_host_metadata(docs, meta))
    rows = {r["url"]: r for r in out.collect()}
    assert rows["https://a.com/1"]["low_pass_failing_qc"] == ["spam_host"]
    assert rows["https://b.com/1"]["low_pass_failing_qc"] == []
    # host absent from metadata: NULL columns, no flag
    assert rows["https://c.com/1"]["spam_score"] is None
    assert rows["https://c.com/1"]["low_pass_failing_qc"] == []
    assert out.count() == 3


def test_join_is_broadcast(spark):
    docs = spark.createDataFrame([("https://a.com/1",)], "url string")
    meta = spark.createDataFrame([("a.com", 0.5)], "host string, spam_score double")
    plan = enrich_with_host_metadata(docs, meta)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_enrich_broadcast_gate(spark):
    # the metadata side is always hinted: rows as expected, one hint
    docs = spark.createDataFrame(
        [("https://a.com/1",), ("https://c.com/1",)], "url string"
    )
    meta = spark.createDataFrame(
        [("a.com", "src1", 0.95, "b1")],
        "host string, source string, spam_score double, crawl_batch string",
    )
    out = enrich_with_host_metadata(docs, meta)
    assert sorted(map(tuple, out.collect())) == [
        ("a.com", "https://a.com/1", "src1", 0.95, "b1"),
        ("c.com", "https://c.com/1", None, None, None),
    ]
    assert out._jdf.queryExecution().analyzed().toString().count("ResolvedHint") == 1


def test_enrich_rejects_repeated_metadata_hosts(spark):
    # a repeated host would repeat every doc on it (2 docs in, 3 out)
    docs = spark.createDataFrame(
        [("https://a.com/1",), ("https://b.com/1",)], "url string"
    )
    meta = spark.createDataFrame(
        [("a.com", 0.1), ("a.com", 0.9), ("b.com", 0.2), (None, 0.3), (None, 0.4)],
        "host string, spam_score double",
    )
    with pytest.raises(ValueError, match=r"repeats hosts \['a\.com'\]"):
        enrich_with_host_metadata(docs, meta)
    # repeated NULL hosts never match the join, so they are allowed
    ok = enrich_with_host_metadata(docs, meta.filter(F.col("spam_score") != 0.9))
    assert ok.count() == 2
