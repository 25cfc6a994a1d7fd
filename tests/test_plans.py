"""Physical-plan audits: the scale properties the engine claims must be
visible in the executed plan, not just asserted in prose (SURVEY.md §4).

Each test pins one property: predicate pushdown reaching the parquet
scan, column pruning (ReadSchema), broadcast joins for small dims,
window-free host QC, shuffle-free IVF assignment (in test_similarity),
and absence of cartesian products in the LSH pair generation. The
registry leg pins live here too: they run the same ``QUERIES`` entries.
"""

import os
import re

import pyspark.sql.functions as F
import pytest

from exome_qc_library_spark.entry_queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SF = "/root/testdata/sf0.001"


def q(name, spark, sf_dir=SF):
    fn, _sql = QUERIES[name]
    return fn(spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark):
    # tpch_pricing filters l_shipdate <= date: must appear as PushedFilters
    plan = _plan(q("tpch_pricing", spark))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning_token_counts(spark):
    # token_counts reads only doc_id + text: the scan schema must not
    # include lang/source/n_chars
    plan = _plan(q("token_counts", spark))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_join_agg_uses_broadcast_joins(spark):
    # small dims (customer, nation) broadcast — no sort-merge shuffle join
    plan = _plan(q("join_agg_revenue", spark))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_host_outliers_plan_is_window_free(spark):
    # A13 via grouped agg + broadcast, never a WindowExec (VERDICT r1 #3)
    plan = _plan(q("host_outliers", spark))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_lsh_pairs_no_cartesian(spark):
    # candidate generation must never be a cartesian/nested-loop product;
    # it is a capped groupBy-explode on the band key (round-2 VERDICT #2),
    # never a blockwise self-join that can go O(m²) on a hot bucket
    df = q("minhash_pairs", spark)
    opt = _optimized(df)
    assert "Join Cross" not in opt and "CartesianProduct" not in opt
    plan = _plan(df)
    assert "HashAggregate" in plan or "SortAggregate" in plan  # bucket cap agg


def test_minhash_sketch_has_one_arrow_eval(spark):
    # the shingle-less filter runs on the text BEFORE the signature UDF; a
    # filter on the UDF's output is inlined by the optimizer, and the plan
    # then runs the whole shingle + Arrow + kernel pass twice
    from exome_qc_library_spark.functions.hashing import shingle_hashes, word_shingles
    from exome_qc_library_spark.operators.dedup import _minhash_sig_udf, minhash_sketch

    texts = [None, "", "   ", "\t\n \r", "\u3000", "\u3000 \u3000", "a", " x ",
             "the quick brown fox", "the quick brown fox", "one two\u3000three four"]
    df = spark.createDataFrame(list(enumerate(texts)), "url long, text string")
    sk = minhash_sketch(df)
    got = sorted(tuple(r) for r in sk.collect())
    assert _plan(sk).count("ArrowEvalPython") == 1
    # the previous form: a length filter before the UDF, a NULL-signature
    # filter after it
    old = (
        df.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            F.col("url").alias("k"),
            _minhash_sig_udf(64)(shingle_hashes(word_shingles(F.col("text"), 3))).alias(
                "sig"
            ),
        )
        .filter(F.col("sig")[0].isNotNull())
    )
    assert got == sorted(tuple(r) for r in old.collect())
    assert [k for k, _ in got] == [4, 5, 6, 7, 8, 9, 10]


def test_near_dup_write_plan_scans_its_input_once(spark, pages, tmp_path):
    # s5's sketch carries warc_ts, so the representatives are elected from
    # the cluster table and the sketch; only the one left join reads s0. A
    # representatives branch over the input table would scan s0 again
    from exome_qc_library_spark.operators.dedup import flag_near_duplicates
    from exome_qc_library_spark.plans.quality_pipeline import quality_stages
    from exome_qc_library_spark.sources.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path))
    s0 = quality_stages()[0]
    store.write(s0.fn(pages), s0.name)
    out = flag_near_duplicates(store.read(s0.name))
    assert _plan(out).count("FileScan parquet") == 1
    assert out.filter(F.col("dup_cluster_id").isNotNull()).count() > 0  # pairs were found


def test_exact_dedup_pipeline_form_is_aggregate_not_window(spark):
    # the PIPELINE exact-dedup (sha2 groupBy min-struct) — scale shape
    from exome_qc_library_spark.operators.dedup import flag_exact_duplicates

    df = spark.createDataFrame(
        [("u1", 1, "x"), ("u2", 2, "x")], "url string, warc_ts long, text string"
    )
    plan = _plan(flag_exact_duplicates(df))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_whole_stage_codegen_on_scan_agg(spark):
    # simple-expression scan+agg queries must sit inside WholeStageCodegen
    # (HOF-lambda projections like text_metrics are interpreted by design —
    # Spark excludes higher-order functions from codegen — so the codegen
    # check pins the arithmetic/aggregate shapes instead)
    import re

    for name in ("histogram_chars", "tpch_pricing"):
        df = q(name, spark)
        df.collect()  # finalize the AQE plan — codegen markers appear only then
        plan = _plan(df)
        # AQE's final-plan rendering marks codegen stages as `*(n) Operator`
        assert re.search(r"\*\(\d+\) (Hash|Sort)Aggregate", plan), (name, plan[:400])


def test_segment_zscore_plan_is_window_free(spark):
    """Round 7: the per-source z-score must never shuffle the doc table
    into #sources window partitions (low-cardinality key skew) — the
    stats side is a partial-agg groupBy broadcast back; only the tiny
    per-source aggregate crosses an exchange."""
    plan = _plan(q("segment_zscore", spark))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    # the doc (probe) side reaches the join straight from the scan — the
    # only Sort in an agg+broadcast plan would be a stray window artifact
    assert "Sort" not in plan


def test_window_topk_single_exchange_with_group_limit(spark):
    """Round 7: the spread repartition keys on the WINDOW key, so the
    window reuses it (guide §2.4) — exactly one exchange, hash-partitioned
    on ``o_custkey``, and Spark 4's WindowGroupLimit top-k pruning must
    survive the rewrite. Checked on the plan before execution: after a
    collect AQE prints both its final and initial plans."""
    plan = _plan(q("window_topk", spark))
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(o_custkey" in plan


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_embedding_topk_registry_legs(spark, sf):
    """VERDICT r6 #8: the registry's ``embedding_topk`` row is the union of
    a ``brute`` and an ``ivf`` leg; each must hold top-3 for all 5 queries,
    so a dropped leg cannot hide behind a green oracle row."""
    df = q("embedding_topk", spark, os.path.join(os.path.dirname(SF), sf))
    legs = {
        r["algo"]: (r["n"], r["nq"])
        for r in df.groupBy("algo")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("query_id").alias("nq"))
        .collect()
    }
    assert legs == {"brute": (15, 5), "ivf": (15, 5)}


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_union_ops_registry_legs(spark, sf):
    """The registry's ``union_ops`` row stacks an ``en`` and an ``fr``
    slice of the ``union_cols`` recombination. Both legs must have rows,
    no other language may leak in, and the overlapping column's ``_r``
    copy must equal the original on every row."""
    df = q("union_ops", spark, os.path.join(os.path.dirname(SF), sf))
    legs = {
        r["lang"]: (r["n"], r["n_diff"])
        for r in df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(~F.col("n_chars").eqNullSafe(F.col("n_chars_r"))).alias("n_diff"),
        )
        .collect()
    }
    assert set(legs) == {"en", "fr"}
    assert all(n > 0 and n_diff == 0 for n, n_diff in legs.values()), legs


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_media_dims_registry_legs(spark, sf):
    """The registry's ``media_dims`` row is a union of 7
    payload kinds, each parsed by its own leg. Every kind must have rows,
    and each of its rows non-NULL values in the fields its parser fills,
    so a dropped leg cannot hide behind a green oracle row."""
    own = {
        "png": ("width", "height"),
        "jpeg": ("width", "height"),
        "gif": ("width", "height"),
        "webp_vp8": ("width", "height"),
        "webp_vp8l": ("width", "height"),
        "wav": ("sample_rate", "channels"),
        "mp4": ("timescale", "duration_ms"),
    }
    fields = sorted({f for fs in own.values() for f in fs})
    df = q("media_dims", spark, os.path.join(os.path.dirname(SF), sf))
    legs = {
        r["kind"]: r
        for r in df.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), *[F.count(f).alias(f) for f in fields])
        .collect()
    }
    assert set(legs) == set(own)
    for kind, kind_fields in own.items():
        assert legs[kind]["n"] > 0, kind
        for f in kind_fields:
            assert legs[kind][f] == legs[kind]["n"], (kind, f)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize(
    "name, scans, exchanges, broadcasts",
    [
        ("decontaminate", 3, 2, 2),
        ("cross_doc_lines", 3, 4, 2),
        ("strip_boilerplate", 3, 3, 2),
        ("host_cap", 2, 2, 1),
        ("compact_roundtrip", 1, 0, 0),
        # customers with no orders: the orders key side is broadcast, and
        # nothing shuffles
        ("anti_join", 2, 0, 1),
        # the filtered customer side is broadcast; one exchange for the
        # per-status count
        ("semi_join", 2, 1, 1),
        # one documents scan against the broadcast in-memory bands table;
        # one exchange for the per-band count
        ("interval_join", 1, 1, 1),
        # the sketch is a local checkpoint, so no parquet scan; one
        # exchange for the bucket groupBy and one for the pairs' dedup; the
        # pairs and one signature side are broadcast
        ("minhash_pairs", 0, 2, 2),
        # a self-join of the shingle table on the source block: one side
        # is broadcast, and nothing shuffles
        ("jaccard_pairs", 2, 0, 1),
    ],
)
def test_line_and_gram_registry_plan_legs(spark, sf, name, scans, exchanges, broadcasts):
    """The registry queries that join on a gram, a line, a key or an
    interval, and ``compact_roundtrip``, which goes through
    ``CheckpointStore``'s write, compact, vacuum and read: parquet scans,
    shuffle exchanges and broadcast exchanges of the planned query. A new
    shuffle or a lost broadcast moves a count."""
    plan = _plan(q(name, spark, os.path.join(os.path.dirname(SF), sf)))
    got = (
        plan.count("FileScan parquet"),
        len(re.findall(r"(?<!Broadcast)Exchange ", plan)),
        plan.count("BroadcastExchange "),
    )
    assert got == (scans, exchanges, broadcasts), plan
