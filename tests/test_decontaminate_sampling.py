"""Training-data curation operators: benchmark decontamination (n-gram
overlap) and deterministic stratified quota sampling."""

import pyspark.sql.functions as F

from exome_qc_library_spark.operators.decontaminate import flag_contaminated
from exome_qc_library_spark.operators.sampling import (
    _BPS,
    _BUCKETS,
    _KNUTH,
    _MASK31,
    stratified_sample,
)


def _corpus(spark):
    secret = "the leaked benchmark answer is forty two exactly"
    rows = [
        ("d1", "a perfectly ordinary clean training document about spark engines"),
        ("d2", f"some page that quotes {secret} inside a longer paragraph"),
        ("d3", secret),  # verbatim benchmark doc
        ("d4", None),
        ("d5", "short doc"),
    ]
    return spark.createDataFrame(rows, "url string, text string")


def _bench(spark):
    return spark.createDataFrame(
        [("b1", "the leaked benchmark answer is forty two exactly")],
        "bid string, text string",
    )


def test_decontaminate_flags_overlapping_docs(spark):
    out = flag_contaminated(_corpus(spark), _bench(spark), n=5, flag_col="ff")
    flags = {r["url"]: "contaminated" in r["ff"] for r in out.collect()}
    assert flags == {"d1": False, "d2": True, "d3": True, "d4": False, "d5": False}
    assert out.count() == 5  # annotate-don't-drop


def test_decontaminate_broadcast_hits_gate(spark):
    # round-3 VERDICT #2: only the benchmark gram set is hinted; the hit
    # set is data-dependent and unbounded, so AQE decides its join
    out = flag_contaminated(_corpus(spark), _bench(spark), n=5, flag_col="ff")
    flagged = {r["url"] for r in out.collect() if "contaminated" in r["ff"]}
    assert flagged == {"d2", "d3"}
    assert out._jdf.queryExecution().analyzed().toString().count("ResolvedHint") == 1


def test_decontaminate_case_sensitivity_knob(spark):
    # n-grams fold case on both sides: an upper-cased quote still matches
    shouted = spark.createDataFrame(
        [("d9", "THE LEAKED BENCHMARK ANSWER IS FORTY TWO EXACTLY")],
        "url string, text string",
    )
    folded = flag_contaminated(shouted, _bench(spark), n=5, flag_col="ff")
    assert "contaminated" in folded.collect()[0]["ff"]


def test_decontaminate_no_cartesian(spark):
    plan = (
        flag_contaminated(_corpus(spark), _bench(spark), n=5, flag_col="ff")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Join Cross" not in plan and "CartesianProduct" not in plan


def _gate(key: int) -> int:
    return (((((key >> 31) ^ key) & _MASK31) * _KNUTH) >> 16) % _BPS


def test_stratified_sample_exact_and_deterministic(spark):
    rows = [(i, ["en", "de", "fr", None][i % 4]) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    fr = {"en": 0.5, "de": 0.2}
    got = {r["doc_id"] for r in stratified_sample(df, "lang", fr, default_fraction=0.1).collect()}
    want = set()
    for i, lang in rows:
        thr = int(fr.get(lang, 0.1) * _BPS)
        if _gate(i) < thr:
            want.add(i)
    assert got == want  # exact, not approximate: the gate is deterministic
    # repeated evaluation identical (no RNG stream)
    again = {r["doc_id"] for r in stratified_sample(df, "lang", fr, default_fraction=0.1).collect()}
    assert again == got


def test_stratified_sample_rates_roughly_hit_quota(spark):
    df = spark.range(20000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    n = stratified_sample(df, "lang", {"en": 0.25}).count()
    assert abs(n / 20000 - 0.25) < 0.02


def test_over_key_cap_matches_naive_window(spark):
    from pyspark.sql import Window as W

    from exome_qc_library_spark.operators.sampling import flag_over_key_cap

    # skewed: one key with 900 rows, several small keys, ties in order col
    rows = [(i, "big" if i < 900 else f"k{i % 7}", i % 50) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, host string, prio long")
    out = {
        r["doc_id"]: "over_key_cap" in r["ff"]
        for r in flag_over_key_cap(
            df, "host", 25, ("prio",), "doc_id", salt_buckets=8, flag_col="ff"
        ).collect()
    }
    w = W.partitionBy("host").orderBy("prio", "doc_id")
    naive = {
        r["doc_id"]: r["rn"] > 25
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert out == naive  # two-phase salted top-N is EXACT
    assert sum(out.values()) == 900 - 25  # only the hot key overflows


def test_over_key_cap_preserves_rows(spark):
    from exome_qc_library_spark.operators.sampling import flag_over_key_cap

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None)], "doc_id long, host string"
    )
    out = flag_over_key_cap(df, "host", 1, (), "doc_id", flag_col="ff")
    got = {r["doc_id"]: "over_key_cap" in r["ff"] for r in out.collect()}
    assert got == {1: False, 2: True, 3: False}  # NULL key is its own stratum


def test_stratified_sample_zero_default_drops_unlisted(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "xx"), (3, None)], "doc_id long, lang string"
    )
    kept = {r["lang"] for r in stratified_sample(df, "lang", {"en": 1.0}).collect()}
    assert kept <= {"en"}


def _budget_df(spark):
    # three strata with very different sizes (skew) + NULL lang + NULL weight
    rows = [(i, "en", (i % 37) + 1) for i in range(400)]
    rows += [(1000 + i, "de", (i % 11) + 5) for i in range(60)]
    rows += [(2000 + i, "fr", 10) for i in range(8)]
    rows += [(3000, None, 50), (3001, "en", None)]
    return spark.createDataFrame(rows, "doc_id long, lang string, n long")


def test_token_budget_matches_naive_window(spark):
    """Two-phase bucketed cumsum must equal the naive one-window-per-
    stratum form exactly (same total order, same inclusive prefix)."""
    from pyspark.sql import Window as W

    from exome_qc_library_spark.operators.sampling import (
        _KNUTH,
        _MASK31,
        sample_to_token_budget,
    )

    df = _budget_df(spark)
    budgets = {"en": 900, "de": 150}
    got = sample_to_token_budget(
        df, budgets, strata_col="lang", weight_col="n", default_budget=40
    )
    mixed = F.shiftright(F.col("doc_id"), 31).bitwiseXOR(F.col("doc_id"))
    h = F.shiftright(mixed.bitwiseAND(F.lit(_MASK31)) * F.lit(_KNUTH), 16)
    naive = (
        df.withColumn("__h", h)
        .withColumn("__b", F.pmod(F.col("__h"), F.lit(_BUCKETS)))
        .withColumn(
            "__cum",
            F.sum(F.coalesce(F.col("n").cast("long"), F.lit(0))).over(
                W.partitionBy("lang").orderBy("__b", "__h", "doc_id")
            ),
        )
        .filter(
            F.col("lang").isNotNull()
            & (
                F.col("__cum")
                <= F.when(F.col("lang") == "en", 900)
                .when(F.col("lang") == "de", 150)
                .otherwise(40)
            )
        )
    )
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in naive.collect()
    )


def test_token_budget_prefix_properties(spark):
    from exome_qc_library_spark.operators.sampling import sample_to_token_budget

    df = _budget_df(spark)
    out = sample_to_token_budget(
        df, {"en": 900, "de": 150}, strata_col="lang", weight_col="n",
        default_budget=40,
    )
    sums = {
        r["lang"]: r["s"]
        for r in out.groupBy("lang").agg(F.sum("n").alias("s")).collect()
    }
    # budgets respected per stratum
    assert sums["en"] <= 900 and sums["de"] <= 150 and sums.get("fr", 0) <= 40
    # maximality: each stratum admits no further doc in the prefix order
    # (the NEXT doc would overflow) — with all-positive weights the kept
    # count is strictly below the stratum total only when the budget bit
    kept_en = out.filter("lang = 'en'").count()
    total_en = df.filter("lang = 'en'").count()
    assert 0 < kept_en < total_en
    # NULL lang dropped; NULL weight counts 0 (kept iff its prefix fits)
    assert out.filter("lang IS NULL").count() == 0
    # layout-independence: same keys at any parallelism
    out2 = sample_to_token_budget(
        df.repartition(13), {"en": 900, "de": 150}, strata_col="lang",
        weight_col="n", default_budget=40,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in out2.collect()
    )


def test_token_budget_reserved_column_collision_raises(spark):
    from exome_qc_library_spark.operators.sampling import sample_to_token_budget

    df = _budget_df(spark).withColumn("__cum", F.lit(1))
    try:
        sample_to_token_budget(df, {"en": 10}, weight_col="n")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_packing_bins_match_naive_window_and_properties(spark):
    from pyspark.sql import Window as W

    from exome_qc_library_spark.operators.sampling import (
        assign_packing_bins,
    )

    df = _budget_df(spark).withColumn("lang", F.lit("x"))  # single stratum input
    out = assign_packing_bins(df.select("doc_id", "n"), seq_len=100, weight_col="n")
    # naive: one global window in the same order
    from exome_qc_library_spark.operators.sampling import _KNUTH, _MASK31

    mixed = F.shiftright(F.col("doc_id"), 31).bitwiseXOR(F.col("doc_id"))
    h = F.shiftright(mixed.bitwiseAND(F.lit(_MASK31)) * F.lit(_KNUTH), 16)
    w = F.coalesce(F.col("n").cast("long"), F.lit(0))
    naive = (
        df.select("doc_id", "n")
        .withColumn("__h", h)
        .withColumn("__b", F.pmod(F.col("__h"), F.lit(_BUCKETS)))
        .withColumn("c", F.sum(w).over(W.orderBy("__b", "__h", "doc_id")))
        .withColumn("excl", F.col("c") - w)
        .select(
            "doc_id",
            ((F.col("excl") - F.pmod("excl", F.lit(100))) / 100).cast("long").alias("bin_id"),
            F.pmod("excl", F.lit(100)).cast("long").alias("bin_offset"),
            (F.pmod("excl", F.lit(100)) + w > 100).alias("spans_boundary"),
        )
    )
    a = {r["doc_id"]: (r["bin_id"], r["bin_offset"], r["spans_boundary"]) for r in out.collect()}
    b = {r["doc_id"]: (r["bin_id"], r["bin_offset"], r["spans_boundary"]) for r in naive.collect()}
    assert a == b
    # properties: offsets in range; bins contiguous from 0; row count kept
    assert all(0 <= off < 100 for (_b, off, _s) in a.values())
    bins = sorted({bid for (bid, _o, _s) in a.values()})
    assert bins[0] == 0 and bins == list(range(bins[-1] + 1))
    assert len(a) == df.count()
    # layout independence
    out2 = assign_packing_bins(df.select("doc_id", "n").repartition(7), seq_len=100, weight_col="n")
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in out2.collect()}


def test_hash_gate_uses_high_key_bits():
    """Round-6 review: a bare 31-bit mask aliased keys differing only in
    high bits (monotonically_increasing_id's partition field lives at
    bits 33+), collapsing every partition's row #j onto one gate value.
    The XOR fold must keep high-bit entropy live while the multiply stays
    overflow-free (mixed & MASK31 <= 2^31-1)."""
    # same low 33 bits, different partition field -> gates must spread
    gates = {_gate((p << 33) | 7) for p in range(256)}
    assert len(gates) > 100  # pre-fix this set had exactly 1 element
    # and the mixed operand stays within the overflow-safe envelope
    for p in (0, 1, 2**20, 2**30):
        k = (p << 33) | 7
        assert 0 <= (((k >> 31) ^ k) & _MASK31) <= _MASK31


def test_decontaminate_short_benchmark_item_matches_inside_long_doc(spark):
    """Round-6 review: a benchmark item shorter than n words yields one
    whole-text gram the doc side's n-shingling never emits, so a short
    eval question quoted verbatim inside a longer doc silently escaped.
    The doc side must emit L-grams for exactly the short lengths present
    in the benchmark."""
    bench = spark.createDataFrame(
        [("b1", "forty two exactly")],  # 3 words < n=5
        "bid string, text string",
    )
    docs = spark.createDataFrame(
        [
            ("d1", "the secret answer is forty two exactly as everyone knows"),
            ("d2", "a clean document with no overlap whatsoever in it"),
            ("d3", "forty two exactly"),  # verbatim short doc
            ("d4", "forty two"),  # shorter than the bench item: no match
            ("d5", None),
        ],
        "url string, text string",
    )
    want = {"d1": True, "d2": False, "d3": True, "d4": False, "d5": False}
    got = {
        r["url"]: "contaminated" in r["ff"]
        for r in flag_contaminated(docs, bench, n=5, flag_col="ff").collect()
    }
    assert got == want
