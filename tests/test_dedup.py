"""Dedup family: exact, MinHash-LSH, components; exact n-gram Jaccard
is the LSH reference and lives here.

Near-dup analog of the reference's relatedness stage
(shared/samples_qc.py:737-872); representative choice mirrors its
independent-set preference (earliest wins)."""

import datetime

import pyspark.sql.functions as F
import pytest

from exome_qc_library_spark.functions.flags import flag_vocab
from exome_qc_library_spark.functions.hashing import word_shingles
from exome_qc_library_spark.operators.dedup import (
    NEAR_DUP_THRESHOLD,
    connected_components_df,
    connected_components_driver,
    flag_exact_duplicates,
    flag_near_duplicates,
    minhash_candidate_pairs,
    minhash_sketch,
    sketch_pairs,
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


def jaccard_pairs_exact(
    df,
    key_col,
    text_col,
    shingle_n=3,
    threshold=0.5,
    block_col=None,
    allow_unblocked=False,
):
    """Exact n-gram Jaccard similarity join: the O(n²) reference MinHash-LSH
    recall is checked against. Unblocked only on explicit opt-in."""
    if block_col is None and not allow_unblocked:
        raise ValueError(
            "jaccard_pairs_exact without block_col is O(n²) over the whole "
            "table; pass block_col (host / LSH bucket) or allow_unblocked=True "
            "for a small-data baseline"
        )
    sh = df.select(
        F.col(key_col).alias("k"),
        (F.col(block_col) if block_col else F.lit(1)).alias("blk"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    ).filter(F.size("sh") > 0)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.k") < F.col("b.k")))
        .select(
            F.col("a.k").alias("a"),
            F.col("b.k").alias("b"),
            (inter / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


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


def test_minhash_degenerate_bucket_capped(spark):
    # round-2 VERDICT #2: m identical docs share every band bucket and must
    # NOT emit O(m²) pairs — each bucket keeps its max_bucket smallest keys
    m, cap = 40, 5
    df = spark.createDataFrame(
        [(f"u{i:03d}", "the same page body repeated verbatim") for i in range(m)],
        "url string, text string",
    )
    pairs = sketch_pairs(minhash_sketch(df).localCheckpoint(), max_bucket=cap).collect()
    assert len(pairs) == cap * (cap - 1) // 2  # C(cap,2), not C(m,2)
    kept = {r["a"] for r in pairs} | {r["b"] for r in pairs}
    assert kept == {f"u{i:03d}" for i in range(cap)}  # deterministic (sorted) subset


def test_arithmetic_minhash_agrees_with_production(spark):
    # the registry's oracle-checked polynomial sketch goes through the same
    # pair builder as the xxhash64+numpy production sketch — both must
    # surface the planted exact pair with jaccard_est 1.0 and agree on the
    # near pair
    from exome_qc_library_spark.entry_queries import _poly_minhash_sketch

    prod = {
        (r["a"], r["b"]): r["jaccard_est"]
        for r in minhash_candidate_pairs(_docs(spark)).collect()
    }
    arith = {
        (r["a"], r["b"]): r["jaccard_est"]
        for r in sketch_pairs(_poly_minhash_sketch(_docs(spark), "url", 64)).collect()
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
    out = flag_near_duplicates(_docs(spark))
    flags = {r["url"]: r["final_failing_qc"] for r in out.collect()}
    # u3 has the earliest warc_ts in the cluster → representative
    assert flags["u3"] == []
    assert flags["u1"] == ["near_duplicate"] and flags["u2"] == ["near_duplicate"]
    assert flags["u4"] == [] and flags["u5"] == []
    assert out.count() == 5
    assert out.columns[0] == "dup_cluster_id"


@pytest.mark.parametrize("n_docs", [2, 0])
def test_near_dup_output_shape_without_pairs(spark, n_docs):
    """A table with no near-dup pair, or no row at all, has the shape of
    one with pairs: ``dup_cluster_id`` first and NULL, no
    ``near_duplicate`` tag, and ``near_duplicate`` in the flag vocabulary."""
    rows = [
        ("u1", _ts(1), "the quick brown fox jumps over the lazy dog"),
        ("u2", _ts(2), "completely different content about spark query engines"),
    ][:n_docs]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    out = flag_near_duplicates(df)
    assert out.columns == ["dup_cluster_id", "url", "warc_ts", "text", "final_failing_qc"]
    assert [(r["dup_cluster_id"], r["final_failing_qc"]) for r in out.collect()] == [
        (None, [])
    ] * n_docs
    assert "near_duplicate" in flag_vocab(out, "final_failing_qc")


def test_kept_set_is_edgeless(spark):
    # the reference asserts its independent set induces no edges
    # (shared/samples_qc.py:656-664): no above-threshold pair may have
    # BOTH endpoints kept
    out = flag_near_duplicates(_docs(spark))
    kept = {
        r["url"]
        for r in out.filter(~F.array_contains("final_failing_qc", "near_duplicate")).collect()
    }
    pairs = (
        minhash_candidate_pairs(_docs(spark))
        .filter(F.col("jaccard_est") >= NEAR_DUP_THRESHOLD)
        .collect()
    )
    assert pairs, "planted near-dups must produce pairs"
    for p in pairs:
        assert not (p["a"] in kept and p["b"] in kept)


def test_connected_components_df_raises_when_unconverged(spark):
    # a 5-hop chain cannot converge in 2 min-label rounds
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(5)], "a string, b string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_df(chain, max_iter=2)


def test_distributed_cc_path_matches_driver_path(spark):
    # max_driver_pairs=0 forces the does-not-fit-on-driver scale path (no
    # forced broadcast); it must produce identical flags and cluster ids
    a = {
        r["url"]: (r["final_failing_qc"], r["dup_cluster_id"])
        for r in flag_near_duplicates(_docs(spark)).collect()
    }
    b = {
        r["url"]: (r["final_failing_qc"], r["dup_cluster_id"])
        for r in flag_near_duplicates(_docs(spark), max_driver_pairs=0).collect()
    }
    assert a == b
    # the cluster id is the cluster's smallest url
    assert {u: c for u, (_f, c) in a.items()} == {
        "u1": "u1", "u2": "u1", "u3": "u1", "u4": None, "u5": None
    }


def test_near_dup_size_gate_auto_selects_path(spark, monkeypatch):
    # round-4 VERDICT #1: the operator must COUNT the thresholded pair set
    # and pick the path itself — driver union-find under the bound,
    # distributed min-label propagation above it. The gate is proven by
    # making the wrong path raise.
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
        for r in dd.flag_near_duplicates(_docs(spark), max_driver_pairs=1).collect()
    }
    monkeypatch.undo()

    # under the (default) bound the cheap driver path is selected
    monkeypatch.setattr(
        dd, "connected_components_df", lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("distributed CC path taken below max_driver_pairs")
        )
    )
    default = {
        r["url"]: (r["final_failing_qc"], r["dup_cluster_id"] is not None)
        for r in dd.flag_near_duplicates(_docs(spark)).collect()
    }
    assert gated == default  # both paths agree on flags + membership


def test_exact_jaccard_agrees(spark):
    pairs = {
        (r["a"], r["b"])
        for r in jaccard_pairs_exact(
            _docs(spark), "url", "text", threshold=0.6, allow_unblocked=True
        ).collect()
    }
    assert ("u1", "u2") in pairs


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
    from exome_qc_library_spark.operators.dedup import cross_doc_dup_line_stats

    stats = {
        r["url"]: (r["n_lines"], r["n_shared"])
        for r in cross_doc_dup_line_stats(_boiler_docs(spark)).collect()
    }
    # (eligible distinct lines, lines some other doc also carries): b1/b2
    # share footer + nav; b3 is pure boilerplate; b5 (NULL text) and b6
    # (every line below min_line_chars) have no eligible line
    assert stats == {"b1": (3, 2), "b2": (3, 2), "b3": (2, 2), "b4": (1, 0)}


def test_exact_jaccard_unblocked_requires_opt_in(spark):
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
    """MinHash near-dup flagging on a star cluster: the exact copy and a
    one-word edit are flagged, the earliest crawl is the representative,
    the unrelated doc and NULL text are not flagged, and every row is
    kept."""
    words = [f"w{i}" for i in range(400)]
    base = " ".join(words)
    edit = " ".join(words[:200] + ["CHANGED"] + words[201:])
    rows = [
        ("u1", _ts(1), base),
        ("u2", _ts(2), base),  # exact dup of u1
        ("u3", _ts(0), edit),  # near dup, EARLIEST crawl
        ("u4", _ts(3), "completely different content about spark engines " * 10),
        ("u5", _ts(4), None),
    ]
    docs = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    out = flag_near_duplicates(docs)
    flags = {r["url"]: r["final_failing_qc"] for r in out.collect()}
    assert flags["u1"] == ["near_duplicate"]  # later than u3's crawl
    assert flags["u2"] == ["near_duplicate"]
    assert flags["u3"] == []  # earliest crawl = representative
    assert flags["u4"] == [] and flags["u5"] == []
    assert out.count() == 5


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
    out = flag_exact_duplicates(df)
    dup = {r["url"]: "exact_duplicate" in r["low_pass_failing_qc"] for r in out.collect()}
    assert dup == {"u1": True, "u2": True, "u3": False}


def test_near_dup_null_prefer_value_never_wins(spark):
    """Same NULLS-LAST rule for the cluster-representative election; a
    cluster whose ``warc_ts`` are all NULL, or tied, elects its smallest
    url."""
    import datetime

    def body(w):
        return " ".join(f"{w}{i}" for i in range(60)) + " "

    t = datetime.datetime(2024, 1, 5)
    rows = [
        ("u1", body("word"), None),
        ("u2", body("word") + "extra tail words", t),  # dated copy u2 is the rep
        ("v2", body("alpha"), None),  # all NULL: smallest url v1 is the rep
        ("v1", body("alpha") + "extra tail words", None),
        ("w2", body("beta"), t),  # tied: smallest url w1 is the rep
        ("w1", body("beta") + "extra tail words", t),
    ]
    df = spark.createDataFrame(rows, "url string, text string, warc_ts timestamp")
    out = flag_near_duplicates(df)
    dup = {r["url"]: "near_duplicate" in r["final_failing_qc"] for r in out.collect()}
    assert dup == {
        "u1": True, "u2": False, "v1": False, "v2": True, "w1": False, "w2": True
    }


def test_near_dup_reserved_column_guard(spark):
    """Round-6 review: re-running on an already-annotated table must fail
    fast with a clear error, not AMBIGUOUS_REFERENCE mid-plan."""
    df = spark.createDataFrame(
        [("u1", "text", "c0")], "url string, text string, dup_cluster_id string"
    )
    with pytest.raises(ValueError, match="dup_cluster_id"):
        flag_near_duplicates(df)


def test_pair_generator_parameter_guards(spark):
    """num_perm must divide into bands — a remainder would compute
    permutations no band ever uses, so it must raise."""
    sk = spark.createDataFrame([("u1", [1] * 64)], "k string, sig array<long>")
    with pytest.raises(ValueError, match="divisible"):
        sketch_pairs(sk, num_perm=64, bands=10)


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
