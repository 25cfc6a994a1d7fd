"""PII scrub correctness + byte stability (north rule: byte-identical
scrubbed text per url)."""

import pyspark.sql.functions as F

from exome_qc_library_spark.operators.scrub import apply_scrub, scrub_expr, with_pii_hits


def scrub_one(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(scrub_expr(F.col("text")).alias("s")).collect()[0]["s"]


def test_email_phone_ssn_card_ip(spark):
    t = "mail a.b-c@x.co.uk call 555-123-4567 ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0.0.1 done"
    s = scrub_one(spark, t)
    assert "<EMAIL>" in s and "<PHONE>" in s and "<SSN>" in s and "<CARD>" in s and "<IP>" in s
    assert "a.b-c@x" not in s and "4111" not in s and "123-45-6789" not in s
    assert s.endswith("done")


def test_clean_text_unchanged(spark):
    t = "the quick brown fox version 2 of 10 things"
    assert scrub_one(spark, t) == t


def test_pii_hits_metric(spark):
    df = spark.createDataFrame(
        [("a", "x@y.com and 1.2.3.4"), ("b", "clean"), ("c", None)], "id string, text string"
    )
    got = {r["id"]: r["pii_hits"] for r in with_pii_hits(df).collect()}
    assert got["a"] == 2 and got["b"] == 0 and got["c"] is None


def test_scrub_gated_on_keep(spark):
    df = spark.createDataFrame(
        [("a", "x@y.com", True), ("b", "x@y.com", False)], "id string, text string, keep boolean"
    )
    got = {r["id"]: r["scrubbed_text"] for r in apply_scrub(df).collect()}
    assert got["a"] == "<EMAIL>"
    assert got["b"] is None  # dropped docs never export scrubbed text


def test_byte_stability_across_runs(spark, pages):
    a = apply_scrub(pages.withColumn("keep", F.lit(True)))
    b = apply_scrub(pages.withColumn("keep", F.lit(True)))
    diff = (
        a.select("url", "scrubbed_text")
        .exceptAll(b.select("url", "scrubbed_text"))
        .count()
    )
    assert diff == 0


def test_phone_rule_never_matches_suffix_of_longer_digit_run(spark):
    """Round-6 review: the phone pattern had no leading anchor, so it
    matched a SUFFIX of longer digit runs (record ids, serials),
    corrupting non-PII text. Real phone formats must still scrub."""
    from exome_qc_library_spark.operators.scrub import scrub_expr

    rows = [
        ("r1", "id 12345-789-0123 end"),           # 12-digit record id (below
                                                    # the card rule's 13): keep
        ("r2", "call 555-123-4567 now"),            # plain phone: scrub
        ("r3", "call (555) 123-4567 now"),          # paren phone: scrub
        ("r4", "call +1 555-123-4567 now"),         # country code: scrub
        ("r5", "serial9555-123-4567x"),             # glued to a digit: keep
    ]
    df = spark.createDataFrame(rows, "k string, text string")
    got = {r["k"]: r["s"] for r in df.select("k", scrub_expr(F.col("text")).alias("s")).collect()}
    assert got["r1"] == "id 12345-789-0123 end"
    assert got["r2"] == "call <PHONE> now"
    assert got["r3"] == "call <PHONE> now"
    assert got["r4"] == "call <PHONE> now"
    assert "9555" in got["r5"] or got["r5"] == rows[4][1]


def test_gate_inline_flags_stay_scoped_to_their_rule(spark, monkeypatch):
    """An inline flag in one rule's gate must not leak into the other gates
    of the joined chain gate: a leading ``(?x)`` would otherwise strip the
    literal space from a later ``hello world`` gate, so a doc only that
    later rule matches skipped the whole chain unscrubbed."""
    from dataclasses import replace

    from exome_qc_library_spark.operators import scrub

    rules = (
        scrub.ScrubRule("num", r"\d+", "<N>", gate=r"(?x) \d"),
        scrub.ScrubRule("greet", r"hello world", "<HI>", gate="hello world"),
    )
    plain = tuple(replace(r, gate=None) for r in rules)
    df = spark.createDataFrame([("say hello world",)], "text string")
    monkeypatch.setattr(scrub, "DEFAULT_RULES", rules)
    gated = scrub_expr(F.col("text"))
    monkeypatch.setattr(scrub, "DEFAULT_RULES", plain)
    row = df.select(gated.alias("gated"), scrub_expr(F.col("text")).alias("plain")).collect()[0]
    assert row["plain"] == "say <HI>"
    assert row["gated"] == row["plain"]
