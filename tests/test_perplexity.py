"""Perplexity, as scored by the fused s9 UDF: lexicon-like text scores
lower than symbol noise."""

from exome_qc_library_spark.operators.perplexity import flag_high_perplexity, with_text_scores


def test_ordering_and_nulls(spark):
    df = spark.createDataFrame(
        [
            ("nat", "the and of to that is was with the and for this that is the"),
            ("junk", "qzx jvw pqg zzq xkcd vvv qqq zzz xxx jjj kkk www"),
            ("null", None),
            ("tiny", "ab"),
        ],
        "id string, text string",
    )
    got = {r["id"]: r["perplexity"] for r in with_text_scores(df).collect()}
    assert got["null"] is None and got["tiny"] is None
    assert got["nat"] < got["junk"]


def test_flag_and_missing(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("b", 99999.0), ("c", None)], "id string, perplexity double"
    )
    out = flag_high_perplexity(df, max_perplexity=100.0)
    flags = {r["id"]: r["final_failing_qc"] for r in out.collect()}
    assert flags["a"] == [] and flags["b"] == ["perplexity"]
    assert flags["c"] == ["missing_perplexity"]


def test_deterministic_across_partitions(spark):
    texts = [(f"d{i}", "the and of to a in is was " * (i + 1)) for i in range(20)]
    df1 = spark.createDataFrame(texts, "id string, text string").repartition(1)
    df8 = spark.createDataFrame(texts, "id string, text string").repartition(8)
    a = {r["id"]: r["perplexity"] for r in with_text_scores(df1).collect()}
    b = {r["id"]: r["perplexity"] for r in with_text_scores(df8).collect()}
    assert a == b
