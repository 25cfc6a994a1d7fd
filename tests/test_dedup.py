"""Dedup family: exact, MinHash-LSH, SimHash, exact Jaccard, components.

Near-dup analog of the reference's relatedness stage
(shared/samples_qc.py:737-872); representative choice mirrors its
independent-set preference (earliest wins)."""

import datetime

import pyspark.sql.functions as F

from exome_qc_library_spark.functions.hashing import simhash64
from exome_qc_library_spark.operators.dedup import (
    connected_components_df,
    connected_components_driver,
    flag_exact_duplicates,
    flag_near_duplicates,
    jaccard_pairs_exact,
    minhash_candidate_pairs,
    simhash_pairs,
    with_simhash,
)


def _ts(i):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight " * 4
    rows = [
        ("u1", _ts(1), base),
        ("u2", _ts(2), base),  # exact dup of u1 (later → flagged)
        ("u3", _ts(0), base + " tiny edit"),  # near dup, EARLIEST crawl
        ("u4", _ts(3), "completely different content about spark query engines and shuffles " * 5),
        ("u5", _ts(4), None),
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")


def test_exact_dedup_earliest_wins(spark):
    out = flag_exact_duplicates(_docs(spark))
    flags = {r["url"]: r["low_pass_failing_qc"] for r in out.collect()}
    assert flags["u1"] == []
    assert flags["u2"] == ["exact_duplicate"]
    assert flags["u3"] == [] and flags["u4"] == [] and flags["u5"] == []
    assert out.count() == 5


def test_minhash_finds_planted_pair(spark):
    pairs = {
        (r["a"], r["b"])
        for r in minhash_candidate_pairs(_docs(spark))
        .filter(F.col("jaccard_est") > 0.5)
        .collect()
    }
    assert ("u1", "u2") in pairs
    assert any({"u3"} & set(p) for p in pairs)  # near dup found
    assert not any("u4" in p for p in pairs)


def test_arithmetic_minhash_agrees_with_production(spark):
    # the oracle-checked arithmetic mode shares the banding/pairing code
    # path with the xxhash64+numpy production mode — both must surface the
    # planted exact pair with jaccard_est 1.0 and agree on the near pair
    prod = {
        (r["a"], r["b"]): r["jaccard_est"]
        for r in minhash_candidate_pairs(_docs(spark)).collect()
    }
    arith = {
        (r["a"], r["b"]): r["jaccard_est"]
        for r in minhash_candidate_pairs(_docs(spark), arithmetic=True).collect()
    }
    assert prod[("u1", "u2")] == 1.0 and arith[("u1", "u2")] == 1.0
    assert any("u3" in p for p in prod) and any("u3" in p for p in arith)
    assert not any("u4" in p for p in prod) and not any("u4" in p for p in arith)


def test_minhash_batch_kernel_matches_naive_per_row():
    # the flattened reduceat kernel (round-5: removes the per-row Python
    # loop that profiled at ~2/3 of the sketch step) must produce
    # signatures IDENTICAL to the naive per-row formula, at every chunk
    # size — including chunks that split mid-batch and a single row larger
    # than the whole chunk budget — and preserve None/empty rows as None
    import numpy as np

    from exome_qc_library_spark.functions.hashing import _MH_PRIME, _mh_params
    from exome_qc_library_spark.operators.dedup import _minhash_sig_batch

    params = _mh_params(8, seed=42)
    a = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.int64)[:, None]
    rng = np.random.default_rng(7)
    vals = [
        rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=n).tolist()
        if n is not None
        else None
        for n in (5, None, 0, 13, 1, 40, 7, None, 2)
    ]
    expected = []
    for v in vals:
        if v is None or len(v) == 0:
            expected.append(None)
        else:
            h = np.asarray(v, dtype=np.int64)[None, :]
            expected.append(((h * a + b) % _MH_PRIME).min(axis=1).tolist())
    for chunk in (1, 3, 8, 17, 10**9):  # chunk=1 forces the oversized-row path
        got = _minhash_sig_batch(np.array(vals, dtype=object), a, b, chunk)
        assert got == expected, f"chunk_hashes={chunk}"


def test_flag_near_duplicates_earliest_representative(spark):
    out = flag_near_duplicates(_docs(spark), threshold=0.5)
    flags = {r["url"]: r["final_failing_qc"] for r in out.collect()}
    # u3 has the earliest warc_ts in the cluster → representative
    assert flags["u3"] == []
    assert flags["u1"] == ["near_duplicate"] and flags["u2"] == ["near_duplicate"]
    assert flags["u4"] == [] and flags["u5"] == []
    assert out.count() == 5


def test_near_dup_pluggable_preference(spark):
    # prefer=[-quality] keeps the highest-quality copy instead of earliest
    df = _docs(spark).withColumn(
        "q", F.when(F.col("url") == "u2", 9.0).otherwise(1.0)
    )
    out = flag_near_duplicates(df, threshold=0.5, prefer=[-F.col("q")])
    flags = {r["url"]: r["final_failing_qc"] for r in out.collect()}
    assert flags["u2"] == []  # highest quality wins
    assert flags["u1"] == ["near_duplicate"] and flags["u3"] == ["near_duplicate"]


def test_kept_set_is_edgeless(spark):
    # the reference asserts its independent set induces no edges
    # (shared/samples_qc.py:656-664): no above-threshold pair may have
    # BOTH endpoints kept
    out = flag_near_duplicates(_docs(spark), threshold=0.5)
    kept = {
        r["url"]
        for r in out.filter(~F.array_contains("final_failing_qc", "near_duplicate")).collect()
    }
    pairs = (
        minhash_candidate_pairs(_docs(spark))
        .filter(F.col("jaccard_est") >= 0.5)
        .collect()
    )
    assert pairs, "planted near-dups must produce pairs"
    for p in pairs:
        assert not (p["a"] in kept and p["b"] in kept)


def test_connected_components_df_raises_when_unconverged(spark):
    import pytest

    # a 5-hop chain cannot converge in 2 min-label rounds
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(5)], "a string, b string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_df(chain, max_iter=2)


def test_distributed_cc_path_matches_driver_path(spark):
    # use_driver_cc=False (the does-not-fit-on-driver scale path, no forced
    # broadcast) must produce identical flags and cluster membership
    a = {
        r["url"]: (r["final_failing_qc"], r["dup_cluster_id"] is not None)
        for r in flag_near_duplicates(_docs(spark), threshold=0.5).collect()
    }
    b = {
        r["url"]: (r["final_failing_qc"], r["dup_cluster_id"] is not None)
        for r in flag_near_duplicates(
            _docs(spark), threshold=0.5, use_driver_cc=False
        ).collect()
    }
    assert a == b


def test_near_dup_size_gate_auto_selects_path(spark, monkeypatch):
    # round-4 VERDICT #1: with use_driver_cc unset the operator must COUNT
    # the thresholded pair set and pick the path itself — driver union-find
    # under the bound, distributed min-label propagation above it. The gate
    # is proven by making the wrong path raise.
    import exome_qc_library_spark.operators.dedup as dd

    # planted pairs (3 edges) exceed max_driver_pairs=1 → distributed path;
    # the driver path must never be touched
    monkeypatch.setattr(
        dd, "connected_components_driver", lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver CC path taken above max_driver_pairs")
        )
    )
    gated = {
        r["url"]: (r["final_failing_qc"], r["dup_cluster_id"] is not None)
        for r in dd.flag_near_duplicates(
            _docs(spark), threshold=0.5, max_driver_pairs=1
        ).collect()
    }
    monkeypatch.undo()
    explicit = {
        r["url"]: (r["final_failing_qc"], r["dup_cluster_id"] is not None)
        for r in dd.flag_near_duplicates(
            _docs(spark), threshold=0.5, use_driver_cc=True
        ).collect()
    }
    assert gated == explicit  # both paths agree on flags + membership

    # under the (default) bound the cheap driver path is selected
    monkeypatch.setattr(
        dd, "connected_components_df", lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("distributed CC path taken below max_driver_pairs")
        )
    )
    small = dd.flag_near_duplicates(_docs(spark), threshold=0.5)
    assert {
        r["url"]: r["final_failing_qc"] for r in small.collect()
    } == {u: f for u, (f, _) in explicit.items()}


def test_exact_jaccard_agrees(spark):
    pairs = {
        (r["a"], r["b"])
        for r in jaccard_pairs_exact(
            _docs(spark), "url", "text", threshold=0.6, allow_unblocked=True
        ).collect()
    }
    assert ("u1", "u2") in pairs


def test_simhash_pairs_hamming_blocking(spark):
    # hand-planted 64-bit hashes: u1/u2 differ in 2 bits (≤3 → pair),
    # u1/u3 share no 16-bit quarter (pigeonhole: never co-blocked),
    # u4 is 5 bits from u1 (co-blocked but fails the hamming verify)
    h1 = 0x1111_2222_3333_4444
    rows = [
        ("u1", h1),
        ("u2", h1 ^ 0b11),  # hamming 2
        ("u3", h1 ^ 0x0001_0001_0001_0001),  # one bit per quarter: hamming 4
        ("u4", h1 ^ 0b1111111),  # hamming 7 from u1, 5 from u2; shares 3 quarters
        ("u5", None),
    ]
    df = spark.createDataFrame(rows, "url string, simhash long")
    got = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(df).collect()}
    assert got == {("u1", "u2"): 2}


def test_simhash_pairs_degenerate_block_capped(spark):
    # round-2 VERDICT #2: m identical simhashes must NOT emit O(m²) pairs —
    # the quarter-block is capped like minhash max_bucket
    m, cap = 40, 5
    df = spark.createDataFrame(
        [(f"u{i:03d}", 0x0123_4567_89AB_CDEF) for i in range(m)],
        "url string, simhash long",
    )
    pairs = simhash_pairs(df, max_block=cap).collect()
    assert len(pairs) == cap * (cap - 1) // 2  # C(cap,2), not C(m,2)
    kept = {r["a"] for r in pairs} | {r["b"] for r in pairs}
    assert kept == {f"u{i:03d}" for i in range(cap)}  # deterministic (sorted) subset


def test_with_simhash_roundtrip(spark):
    out = with_simhash(_docs(spark))
    vals = {r["url"]: r["simhash"] for r in out.collect()}
    assert vals["u1"] == vals["u2"]  # identical text → identical sketch
    assert vals["u5"] is None


def _boiler_docs(spark):
    footer = "copyright example corp all rights reserved worldwide"
    nav = "home products pricing about contact careers blog"
    rows = [
        ("b1", f"{footer}\n{nav}\nunique text about owls and trees here"),
        ("b2", f"{footer}\n{nav}\ndifferent unique text about rivers"),
        ("b3", f"{footer}\n{nav}"),  # pure boilerplate → flagged
        ("b4", "entirely original essay with no shared lines whatsoever"),
        ("b5", None),
        ("b6", "tiny\nok"),  # every line below min_line_chars → no stats
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_cross_doc_dup_line_flagging(spark):
    from exome_qc_library_spark.operators.dedup import flag_cross_doc_dup_lines

    out = flag_cross_doc_dup_lines(_boiler_docs(spark), max_shared_frac=0.7)
    flags = {
        r["url"]: "cross_doc_dup_lines" in r["low_pass_failing_qc"]
        for r in out.collect()
    }
    # b3: 2/2 shared (1.0 > 0.7) flagged; b1/b2: 2/3 shared (0.67 < 0.7) not
    assert flags == {
        "b1": False, "b2": False, "b3": True, "b4": False, "b5": False, "b6": False,
    }
    assert out.count() == 6  # annotate-don't-drop


def test_cross_doc_dup_lines_hashed_matches_string(spark):
    from exome_qc_library_spark.operators.dedup import cross_doc_dup_line_stats

    a = {
        r["url"]: (r["n_lines"], r["n_shared"])
        for r in cross_doc_dup_line_stats(_boiler_docs(spark), hashed=True).collect()
    }
    b = {
        r["url"]: (r["n_lines"], r["n_shared"])
        for r in cross_doc_dup_line_stats(_boiler_docs(spark), hashed=False).collect()
    }
    assert a == b
    assert a["b3"] == (2, 2) and a["b4"] == (1, 0)


def test_exact_jaccard_unblocked_requires_opt_in(spark):
    import pytest

    with pytest.raises(ValueError, match="block_col"):
        jaccard_pairs_exact(_docs(spark), "url", "text")


def test_connected_components_driver_and_df_agree(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a string, b string"
    )
    drv = connected_components_driver(edges)
    assert drv == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    dfc = {r["k"]: r["dup_cluster_id"] for r in connected_components_df(edges).collect()}
    assert dfc == drv


def test_synth_dup_clusters_detected(spark, pages):
    # the synthesizer plants exact-dup class 6 docs; group-by-text must find them
    from exome_qc_library_spark.operators.dedup import flag_exact_duplicates

    out = flag_exact_duplicates(pages)
    n_dup = out.filter(F.array_contains("low_pass_failing_qc", "exact_duplicate")).count()
    expected = (
        pages.filter("text is not null")
        .groupBy("text")
        .count()
        .filter("count > 1")
        .agg(F.sum(F.col("count") - 1))
        .collect()[0][0]
    )
    assert n_dup == (expected or 0)


def _strip_docs(spark):
    footer = "shared navigation footer with many chars"
    short = "ok"  # shared but under the eligibility floor — never stripped
    rows = [
        ("d1", f"unique alpha line one\n{footer}\n{short}\nunique alpha two"),
        ("d2", f"{footer}\nunique beta line here\n{short}"),
        ("d3", f"unique gamma line here\n{short}\n{footer}"),
        ("d4", "a doc with no boilerplate at all\nsecond unique line"),
        ("d5", None),
        ("d6", footer),  # every eligible line stripped → empty string
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_strip_boilerplate_removes_shared_keeps_order_and_bytes(spark):
    from exome_qc_library_spark.operators.dedup import strip_boilerplate_lines

    docs = _strip_docs(spark)
    out = {
        r["url"]: r["text_clean"]
        for r in strip_boilerplate_lines(docs, min_docs=3).collect()
    }
    assert out["d1"] == "unique alpha line one\nok\nunique alpha two"
    assert out["d2"] == "unique beta line here\nok"
    assert out["d3"] == "unique gamma line here\nok"
    # nothing to strip → byte-identical round-trip
    assert out["d4"] == "a doc with no boilerplate at all\nsecond unique line"
    assert out["d5"] is None
    assert out["d6"] == ""  # fully-boilerplate doc → empty, not NULL
    # annotate-don't-drop: row count and key set preserved
    assert len(out) == 6


def test_strip_boilerplate_hashed_matches_string_join(spark):
    from exome_qc_library_spark.operators.dedup import strip_boilerplate_lines

    docs = _strip_docs(spark)
    a = {
        (r["url"], r["text_clean"])
        for r in strip_boilerplate_lines(docs, min_docs=3, hashed=True).collect()
    }
    b = {
        (r["url"], r["text_clean"])
        for r in strip_boilerplate_lines(docs, min_docs=3, hashed=False).collect()
    }
    assert a == b


def test_strip_boilerplate_min_docs_threshold(spark):
    from exome_qc_library_spark.operators.dedup import strip_boilerplate_lines

    docs = _strip_docs(spark)
    # at min_docs=4 the footer appears in only 4 docs (d1,d2,d3,d6) —
    # still stripped; at 5 it survives everywhere
    out4 = {
        r["url"]: r["text_clean"]
        for r in strip_boilerplate_lines(docs, min_docs=4).collect()
    }
    assert "footer" not in out4["d1"]
    out5 = {
        r["url"]: r["text_clean"]
        for r in strip_boilerplate_lines(docs, min_docs=5).collect()
    }
    assert "shared navigation footer" in out5["d1"]
    assert out5["d4"] == "a doc with no boilerplate at all\nsecond unique line"


def test_strip_boilerplate_null_key_passes_through_unstripped(spark):
    """A NULL key can never rejoin its rebuilt lines — such rows must keep
    their text untouched, never collapse to '' (review finding)."""
    from exome_qc_library_spark.operators.dedup import strip_boilerplate_lines

    footer = "shared navigation footer with many chars"
    rows = [
        ("k1", f"alpha\n{footer}"),
        ("k2", f"beta\n{footer}"),
        ("k3", f"gamma\n{footer}"),
        (None, f"delta content here\n{footer}"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    out = {r["url"]: r["text_clean"] for r in strip_boilerplate_lines(docs, min_docs=3).collect()}
    assert out["k1"] == "alpha"
    assert out[None] == f"delta content here\n{footer}"  # unstripped, not ""


def test_near_dup_algo_knob_agreement(spark):
    """round-5 VERDICT #2: the simhash engine behind flag_near_duplicates
    must agree with the minhash engine on star clusters at matched
    thresholds — exact copies and single-word edits flagged by BOTH, the
    unrelated doc and NULL text flagged by NEITHER, and the shared
    downstream (representative election, cluster ids, row preservation)
    identical. Fixture sized so the one-word edit lands inside the
    default Hamming ball (≤3 — also the 4-quarter pigeonhole guarantee);
    deterministic because both sketches are seeded expressions."""
    words = [f"w{i}" for i in range(400)]
    base = " ".join(words)
    edit = " ".join(words[:200] + ["CHANGED"] + words[201:])  # hamming 3
    rows = [
        ("u1", _ts(1), base),
        ("u2", _ts(2), base),  # exact dup of u1
        ("u3", _ts(0), edit),  # near dup, EARLIEST crawl
        ("u4", _ts(3), "completely different content about spark engines " * 10),
        ("u5", _ts(4), None),
    ]
    docs = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    out_mh = flag_near_duplicates(docs, threshold=0.5, algo="minhash")
    out_sh = flag_near_duplicates(docs, threshold=0.5, algo="simhash", max_hamming=3)
    for out in (out_mh, out_sh):
        flags = {r["url"]: r["final_failing_qc"] for r in out.collect()}
        assert flags["u1"] == ["near_duplicate"]  # later than u3's crawl
        assert flags["u2"] == ["near_duplicate"]
        assert flags["u3"] == []  # earliest crawl = representative
        assert flags["u4"] == [] and flags["u5"] == []
        assert out.count() == 5
    # identical cluster structure on this corpus
    cl = lambda out: {
        r["url"]: r["dup_cluster_id"] for r in out.collect()
    }  # noqa: E731
    assert cl(out_mh) == cl(out_sh)
    # no simhash sketch column leaks into the output
    assert [c for c in out_sh.columns if c.startswith("__sh")] == []


def test_near_dup_unknown_algo_raises(spark):
    try:
        flag_near_duplicates(_docs(spark), algo="phash")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "phash" in str(e)


def test_near_dup_simhash_documented_recall_trade(spark):
    """Scattered word edits: every 10th word changed keeps shingle overlap
    high enough for MinHash at a loose threshold but pushes the SimHash
    Hamming distance past the ball — the documented recall trade, pinned
    so a silent behavior change in either engine surfaces here."""
    words = [f"w{i}" for i in range(120)]
    a = " ".join(words)
    scattered = " ".join(
        (w if i % 10 else f"x{i}") for i, w in enumerate(words)
    )
    rows = [("a", _ts(1), a), ("b", _ts(2), scattered)]
    docs = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    mh = flag_near_duplicates(docs, threshold=0.5, algo="minhash")
    sh = flag_near_duplicates(docs, threshold=0.5, algo="simhash", max_hamming=3)
    mh_flagged = {
        r["url"]
        for r in mh.filter(F.array_contains("final_failing_qc", "near_duplicate")).collect()
    }
    sh_flagged = {
        r["url"]
        for r in sh.filter(F.array_contains("final_failing_qc", "near_duplicate")).collect()
    }
    assert mh_flagged == {"b"}
    assert sh_flagged == set()


def test_simhash_np_kernel_equals_expression(spark):
    """The vectorized (Arrow/numpy bit-vote) SimHash sketch must be
    BIT-IDENTICAL to the pure-expression simhash64 — same distinct
    shingles, same vote>0 rule, incl. NULL/blank rows, short docs
    (single whole-text shingle), unicode, and the sign bit (bit 63)."""
    texts = [
        ("a", "the quick brown fox jumps over the lazy dog " * 8),
        ("b", "one two"),
        ("c", "single"),
        ("d", None),
        ("e", "   "),
        ("f", "naïve café über emoji 🎉 mixed UNICODE text répété " * 3),
    ] + [(f"r{i}", f"w{i} " + " ".join(f"t{(i * 7 + k) % 97}" for k in range(60))) for i in range(50)]
    df = spark.createDataFrame(texts, "url string, text string")
    has_text = F.col("text").isNotNull() & (F.trim("text") != "")
    expr = df.withColumn("s", F.when(has_text, simhash64(F.col("text"))))
    ex = {r["url"]: r["s"] for r in expr.collect()}
    np_ = {r["url"]: r["s"] for r in with_simhash(df, out_col="s").collect()}
    assert ex == np_
    assert ex["d"] is None and ex["e"] is None
    assert any(v < 0 for v in ex.values() if v is not None)  # bit 63 exercised


def test_simhash_votes_batch_empty_rows():
    """Round-6 review: an empty shingle-hash array must yield the
    all-zero-vote sketch (0 — same as simhash64 over array()), not crash
    np.add.reduceat on a trailing empty row, and a mid-batch empty row
    must not silently borrow the next row's first element (reduceat's
    equal-indices rule)."""
    import pandas as pd

    from exome_qc_library_spark.operators.dedup import _simhash_votes_batch

    col = pd.Series([[-1], [], [3, 5, 3], None, []])
    out = _simhash_votes_batch(col)
    assert out.iloc[1] == 0 and out.iloc[4] == 0  # trailing empty incl.
    assert pd.isna(out.iloc[3])  # NULL stays NULL
    # neighbors of empties are unperturbed: match single-row references
    assert out.iloc[0] == _simhash_votes_batch(pd.Series([[-1]])).iloc[0]
    assert out.iloc[2] == _simhash_votes_batch(pd.Series([[3, 5, 3]])).iloc[0]


def test_exact_dedup_null_order_col_never_wins(spark):
    """Round-6 review: struct ordering sorts NULL first, so a
    timestamp-less copy used to beat every genuinely-dated crawl in the
    min(struct) winner election. Non-NULL order values must win."""
    import datetime

    t1 = datetime.datetime(2024, 1, 1)
    t2 = datetime.datetime(2024, 1, 2)
    rows = [
        ("u1", "same body text here", None),
        ("u2", "same body text here", t2),
        ("u3", "same body text here", t1),  # true earliest crawl
    ]
    df = spark.createDataFrame(rows, "url string, text string, warc_ts timestamp")
    out = flag_exact_duplicates(df, flag_col="ff")
    dup = {r["url"]: "exact_duplicate" in r["ff"] for r in out.collect()}
    assert dup == {"u1": True, "u2": True, "u3": False}


def test_near_dup_null_prefer_value_never_wins(spark):
    """Same NULLS-LAST rule for the cluster-representative election."""
    import datetime

    body = "the quick brown fox jumps over the lazy dog " * 6
    rows = [
        ("u1", body, None),
        ("u2", body + "extra tail words", datetime.datetime(2024, 1, 5)),
    ]
    df = spark.createDataFrame(rows, "url string, text string, warc_ts timestamp")
    out = flag_near_duplicates(df, threshold=0.3, flag_col="ff")
    dup = {r["url"]: "near_duplicate" in r["ff"] for r in out.collect()}
    assert dup == {"u1": True, "u2": False}  # dated copy is the rep


def test_near_dup_reserved_column_guard(spark):
    """Round-6 review: re-running on an already-annotated table must fail
    fast with a clear error, not AMBIGUOUS_REFERENCE mid-plan."""
    import pytest

    df = spark.createDataFrame(
        [("u1", "text", "c0")], "url string, text string, dup_cluster_id string"
    )
    with pytest.raises(ValueError, match="dup_cluster_id"):
        flag_near_duplicates(df)


def test_pair_generator_parameter_guards(spark):
    """num_perm must divide into bands; max_hamming > 3 breaks the
    quarter-blocking recall guarantee — both must raise."""
    import pytest

    from exome_qc_library_spark.operators.dedup import (
        minhash_candidate_pairs,
        simhash_pairs,
    )

    df = spark.createDataFrame([("u1", "some text")], "url string, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_candidate_pairs(df, num_perm=64, bands=10)
    sk = spark.createDataFrame([("u1", 7)], "url string, simhash long")
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(sk, max_hamming=4)


def test_lsh_band_keys_drops_underfilled_bands(spark):
    """Round-6 review: a band slicing past the signature end produced an
    empty join key shared by EVERY doc (one corpus-wide bucket → O(n²)
    candidates). Underfilled bands must be dropped, covered bands kept."""
    from exome_qc_library_spark.functions.hashing import lsh_band_keys

    df = spark.createDataFrame(
        [(1, [10, 20, 30, 40]), (2, [50, 60, 70, 80])], "k long, sig array<long>"
    )
    # 3 bands × 2 rows over a 4-slot signature: band 2 runs past the end
    out = df.select(
        F.explode(lsh_band_keys(F.col("sig"), 3, 2)).alias("bk")
    ).select("bk.band", "bk.bucket")
    bands = sorted(r["band"] for r in out.select("band").distinct().collect())
    assert bands == [0, 1]  # band 2 dropped, not emitted as a shared ""
    assert out.count() == 4  # 2 docs × 2 covered bands
    # the two docs share no covered-band bucket (different signatures)
    assert out.groupBy("band", "bucket").count().filter("count > 1").count() == 0
