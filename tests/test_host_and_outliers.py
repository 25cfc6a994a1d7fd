"""S8 host QC (batch-stratified window stats), S6 iterative outliers,
S10 segment QC — the A13/W1/W3 rewrites."""

import pyspark.sql.functions as F

from exome_qc_library_spark.operators.host_qc import flag_host_outliers, host_metrics
from exome_qc_library_spark.operators.outliers import flag_iterative_outliers
from exome_qc_library_spark.operators.segment_qc import flag_segment_outliers


def _docs(spark):
    rows = []
    for i in range(40):
        rows.append((f"https://normal{i % 8}.com/p{i}", 100 + i % 5, 0.01, 0.3))
    # one host with wildly different word_count
    for i in range(6):
        rows.append((f"https://weird.com/p{i}", 10000, 0.01, 0.3))
    return spark.createDataFrame(
        rows, "url string, word_count long, symbol_ratio double, stopword_density double"
    )


def test_host_metrics_salted_agg(spark):
    hm = host_metrics(_docs(spark))
    m = {r["host"]: r for r in hm.collect()}
    assert m["weird.com"]["n_docs"] == 6
    assert m["weird.com"]["mean_word_count"] == 10000.0
    assert abs(m["normal0.com"]["mean_word_count"] - 102.0) < 5
    # round-4 VERDICT #7: dispersion + extremes recombine exactly across
    # the salted partials — constant host → sd 0, min == max
    assert m["weird.com"]["sd_word_count"] == 0.0
    assert (m["weird.com"]["min_word_count"], m["weird.com"]["max_word_count"]) == (
        10000,
        10000,
    )
    # normal0.com sees word_counts {100..104} at i%8==0 → spread present
    assert m["normal0.com"]["sd_word_count"] > 0
    assert m["normal0.com"]["min_word_count"] >= 100
    assert m["normal0.com"]["max_word_count"] <= 104


def test_host_metrics_sd_matches_stddev_samp(spark):
    # the sum-of-squares recombination must equal the single-pass
    # stddev_samp on the same data (exact integer inputs)
    df = _docs(spark).withColumn("host", F.lower(F.regexp_extract("url", r"https://([^/]+)/", 1)))
    want = {
        r["host"]: r["sd"]
        for r in df.groupBy("host").agg(F.stddev_samp("word_count").alias("sd")).collect()
    }
    got = {r["host"]: r["sd_word_count"] for r in host_metrics(_docs(spark)).collect()}
    assert set(got) == set(want)
    for h in got:
        assert abs(got[h] - want[h]) < 1e-9, h


def test_flag_host_outliers(spark):
    from exome_qc_library_spark.functions.urltools import host_expr

    docs = _docs(spark)
    out = flag_host_outliers(docs, k_sigma=2.0)
    flagged_hosts = {
        r["host"]
        for r in out.filter(F.array_contains("final_failing_qc", "host_outlier"))
        .select(host_expr(F.col("url")).alias("host"))
        .distinct()
        .collect()
    }
    assert flagged_hosts == {"weird.com"}
    assert out.count() == 46  # annotate-don't-drop
    # round-6 review: schema preserved — no derived host column leaks out
    assert set(out.columns) == set(docs.columns) | {"final_failing_qc"}
    # and a caller-supplied host column is untouched (not clobbered by the
    # internally-derived normalization)
    tagged = docs.withColumn("host", F.lit("caller-owned"))
    out2 = flag_host_outliers(tagged, k_sigma=2.0)
    assert out2.filter(F.col("host") != "caller-owned").count() == 0
    f2 = {
        r["host"]
        for r in out2.filter(F.array_contains("final_failing_qc", "host_outlier"))
        .select(host_expr(F.col("url")).alias("host"))
        .distinct()
        .collect()
    }
    assert f2 == {"weird.com"}  # flags keyed on derived host, not the column


def test_flag_host_outliers_no_single_partition_window(spark):
    # round-1 VERDICT #3 regression: W.partitionBy(F.lit(1)) constant-folded
    # into an unpartitioned WindowExec funneling the host table into one
    # partition; the rewrite must produce a Window-free plan
    plan = (
        flag_host_outliers(_docs(spark), k_sigma=2.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_flag_host_outliers_batch_stratified(spark):
    # two batches with different word_count regimes: a host that is normal
    # within its own batch must NOT be flagged, even though it would be a
    # global outlier; a within-batch outlier must be flagged
    # (reference semantics: shared/samples_qc.py:432-486)
    rows = []
    for i in range(40):
        rows.append((f"https://a{i % 8}.com/p{i}", "b1", 100 + i % 5, 0.01, 0.3))
    for i in range(40):
        # batch b2 runs 100× longer docs — normal FOR ITS BATCH, and its
        # spread inflates the global σ enough to hide the b1 outlier
        rows.append((f"https://b{i % 8}.com/p{i}", "b2", 10000 + i % 5, 0.01, 0.3))
    for i in range(6):
        # 3× the b1 norm: an outlier within b1, invisible globally
        rows.append((f"https://weird.com/p{i}", "b1", 300, 0.01, 0.3))
    df = spark.createDataFrame(
        rows,
        "url string, crawl_batch string, word_count long, "
        "symbol_ratio double, stopword_density double",
    )
    from exome_qc_library_spark.functions.urltools import host_expr

    out = flag_host_outliers(df, batch_col="crawl_batch", k_sigma=2.0)
    flagged = {
        r["host"]
        for r in out.filter(F.array_contains("final_failing_qc", "host_outlier"))
        .select(host_expr(F.col("url")).alias("host"))
        .distinct()
        .collect()
    }
    assert flagged == {"weird.com"}
    # unstratified stats MISS it: the bimodal batch mix inflates global σ
    g = flag_host_outliers(df, batch_col=None, k_sigma=2.0)
    g_flagged = {
        r["host"]
        for r in g.filter(F.array_contains("final_failing_qc", "host_outlier"))
        .select(host_expr(F.col("url")).alias("host"))
        .distinct()
        .collect()
    }
    assert "weird.com" not in g_flagged
    assert out.count() == 86  # annotate-don't-drop


def test_flag_host_outliers_within_stratum_only(spark):
    # round-2 VERDICT #4 / ADVICE: a host spanning two batches that is an
    # outlier in ONE batch must flag its docs in that batch only — the old
    # join collapsed the batch dimension and flagged every batch
    rows = []
    for i in range(40):
        rows.append((f"https://a{i % 8}.com/p{i}", "b1", 100 + i % 5, 0.01, 0.3))
    for i in range(40):
        # b2 is perfectly uniform → σ over host means is 0 → the degenerate-σ
        # guard must keep EVERY b2 host unflagged
        rows.append((f"https://b{i % 8}.com/p{i}", "b2", 100, 0.01, 0.3))
    # cross.com: wildly anomalous in b1 (300 vs ~102), perfectly normal in b2
    for i in range(6):
        rows.append((f"https://cross.com/x{i}", "b1", 300, 0.01, 0.3))
    for i in range(6):
        rows.append((f"https://cross.com/y{i}", "b2", 100, 0.01, 0.3))
    df = spark.createDataFrame(
        rows,
        "url string, crawl_batch string, word_count long, "
        "symbol_ratio double, stopword_density double",
    )
    from exome_qc_library_spark.functions.urltools import host_expr

    out = flag_host_outliers(df, batch_col="crawl_batch", k_sigma=2.0)
    flagged = {
        (r["host"], r["crawl_batch"])
        for r in out.filter(F.array_contains("final_failing_qc", "host_outlier"))
        .select(host_expr(F.col("url")).alias("host"), "crawl_batch")
        .distinct()
        .collect()
    }
    assert flagged == {("cross.com", "b1")}  # b2 docs untouched


def test_iterative_outliers_converge(spark):
    rows = [(i, 100.0 + i % 3) for i in range(50)] + [(98, 10_000.0), (99, 9_000.0)]
    df = spark.createDataFrame(rows, "id long, word_count double")
    df = df.withColumns({"mean_word_len": F.lit(5.0), "stopword_density": F.lit(0.3)})
    out = flag_iterative_outliers(df, k_sigma=3.0, max_iter=3)
    flagged = {r["id"] for r in out.filter(F.size("final_failing_qc") > 0).collect()}
    assert flagged == {98, 99}
    assert out.count() == 52


def test_iterative_outliers_narrow_state(spark):
    # round-2 VERDICT #3: the loop must never materialize the full table —
    # only a measures-only projection is checkpointed, and the final flag is
    # a pure expression over the ORIGINAL plan (no join, no ExistingRDD scan
    # of a full-width checkpoint in the output lineage)
    df = (
        spark.range(100)
        .withColumn("word_count", (F.col("id") % 7 + 100).cast("double"))
        .withColumn("mean_word_len", F.lit(5.0))
        .withColumn("stopword_density", F.lit(0.3))
        .withColumn("big_payload", F.repeat(F.lit("x"), 10))
    )
    out = flag_iterative_outliers(df, k_sigma=3.0, max_iter=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan  # full table was never checkpointed
    assert "Join" not in plan  # flag applied expression-side, not joined back
    assert "Range" in plan  # original source still drives the output


def test_segment_outliers(spark):
    rows = [(i, "en", 0.30 + (i % 5) * 0.001) for i in range(30)] + [
        (100, "en", 0.95),
        (101, "fr", 0.31),  # too few fr docs → MIN_SEGMENT_N guard, no flag
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang_id string, stopword_density double")
    out = flag_segment_outliers(df)
    flagged = {r["doc_id"] for r in out.filter(F.size("final_failing_qc") > 0).collect()}
    assert flagged == {100}


def test_flag_host_outliers_broadcast_gate(spark):
    # the outlier-host set is a k·σ tail, always hinted for broadcast
    # next to the stats table
    out = flag_host_outliers(_docs(spark), k_sigma=2.0)
    flagged = {r["url"] for r in out.collect() if "host_outlier" in r["final_failing_qc"]}
    assert flagged == {f"https://weird.com/p{i}" for i in range(6)}
    assert out._jdf.queryExecution().analyzed().toString().count("ResolvedHint") == 2


def test_iterative_outliers_near_constant_measure_not_mass_flagged(spark):
    """Round-6 review: a measure constant up to float rounding has σ at
    noise scale (not exactly 0), and the bare sd == 0 guard let the k·σ
    test flag ulp-level differences as metric outliers. The noise-floor
    guard (σ > 1e-9·max(|μ|,1), same rule as host_qc) must suppress it."""
    from exome_qc_library_spark.operators.outliers import flag_iterative_outliers

    rows = [(i, 100.0 + (1e-12 if i < 5 else 0.0)) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, m double")
    out = flag_iterative_outliers(
        df, measures=("m",), k_sigma=2.0, flag_col="ff", tag="t"
    )
    assert out.filter(F.array_contains("ff", "t")).count() == 0
