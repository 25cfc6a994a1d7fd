"""End-to-end pipeline invariants (FIXTURES.md §7):
1. stages preserve row count + url key set;
2. keep == conjunction of empty flag arrays;
3. resume from checkpoints reproduces the cold run exactly;
4. per-flag accounting is consistent.
"""

import functools
import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from exome_qc_library_spark.plans.quality_pipeline import (
    build_quality_pipeline,
    quality_stages,
    summarize_verdicts,
)
from exome_qc_library_spark.sources.checkpoint import CheckpointStore, _data_files


def _recorded_counts(store, stage, col):
    """The ``{tag | "__none__": n}`` counts of ``col`` that ``stage``'s
    manifest records."""
    return store.manifest(stage)["metrics"]["flag_counts"][col]


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` with every job it submits tagged ``group``; return the
    number of jobs so tagged."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def pipeline_out(spark, pages):
    root = tempfile.mkdtemp(prefix="ckpt_")
    store = CheckpointStore(spark, root)
    pipe = build_quality_pipeline(store)
    runs = []  # the cold run, under a job group of the test's own
    group_jobs = _jobs_in_group(spark, "cold", lambda: runs.append(pipe.run(pages)))
    out = runs[0]
    out.cache().count()
    yield {
        "out": out,
        "root": root,
        "pipe": pipe,
        "pages": pages,
        "spark": spark,
        "group_jobs": group_jobs,
        "cold_results": list(pipe.results),
    }
    shutil.rmtree(root, ignore_errors=True)


def test_rows_and_urls_preserved(pipeline_out):
    out, pages = pipeline_out["out"], pipeline_out["pages"]
    assert out.count() == pages.count()
    assert (
        out.select("url").exceptAll(pages.select("url")).count() == 0
        and pages.select("url").exceptAll(out.select("url")).count() == 0
    )


def test_keep_is_flag_conjunction(pipeline_out):
    out = pipeline_out["out"]
    bad = out.filter(
        F.col("keep")
        != ((F.size("low_pass_failing_qc") == 0) & (F.size("final_failing_qc") == 0))
    ).count()
    assert bad == 0


VERDICT_COLS = ["url", "keep", "low_pass_failing_qc", "final_failing_qc", "scrubbed_text"]


def _same_rows(a, b, cols):
    a, b = a.select(cols), b.select(cols)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resume_reproduces_cold_run(pipeline_out, tmp_path):
    """A run resumes from the last completed checkpoint (PAPER.md §0). Over
    an empty input, a complete store and the same store with its s0
    snapshot gone both resume by reading s11 alone, run no Spark job and
    reproduce the cold run; s0 stays absent. Recomputing the missing s0
    from that input would commit a 0-row s0 checkpoint, and a later rerun
    from s5 would then return no rows. A rerun from s9 reads s5, the last
    checkpoint before it, and reproduces the cold run's verdicts."""
    spark, pages, cold = pipeline_out["spark"], pipeline_out["pages"], pipeline_out["out"]
    root = str(tmp_path / "ckpt")
    shutil.copytree(pipeline_out["root"], root)
    store = CheckpointStore(spark, root)
    reads = []
    read = store.read
    store.read = lambda stage: reads.append(stage) or read(stage)

    for drop_s0 in (False, True):
        if drop_s0:
            shutil.rmtree(store.path("s0_ingest"))
        reads.clear()
        pipe = build_quality_pipeline(store)
        out = pipe.run(pages.limit(0))
        assert reads == ["s11_verdict"]
        assert all(r.resumed for r in pipe.results)
        assert [r.telemetry["jobs"] for r in pipe.results] == [0] * len(pipe.stages)
        assert _same_rows(out, cold, VERDICT_COLS)
    assert not os.path.exists(store.path("s0_ingest"))

    reads.clear()
    pipe = build_quality_pipeline(store)
    out = pipe.run(pages.limit(0), from_stage="s9_scoring")
    assert reads == ["s5_near_dedup"]
    assert [r.name for r in pipe.results if r.resumed] == ["s0_ingest", "s5_near_dedup"]
    assert _same_rows(out, cold, VERDICT_COLS)
    assert not os.path.exists(store.path("s0_ingest"))


def test_stage_telemetry_attributes_every_job(pipeline_out):
    """A stage's telemetry folds the jobs submitted from its start to its
    end, so the stages' job counts add up to every job of the cold run.
    The fixture ran it under its own job group: the runner leaves callers'
    groups alone and drops no job. Every computed materialized stage
    commits its telemetry with its data."""
    from exome_qc_library_spark.telemetry import FIELDS

    results = pipeline_out["cold_results"]
    assert pipeline_out["group_jobs"] > 0
    assert sum(r.telemetry["jobs"] for r in results) == pipeline_out["group_jobs"]
    assert all(set(r.telemetry) == set(FIELDS) for r in results)
    pipe = pipeline_out["pipe"]
    for st in pipe.stages:
        if st.materialize:
            tel = pipe.store.manifest(st.name)["metrics"]["telemetry"]
            assert set(tel) == set(FIELDS), st.name
            assert tel["jobs"] >= 1 and tel["cpu_s"] > 0, st.name


def test_cold_run_job_budget(pipeline_out):
    """Every Spark job of a cold default run has a stated reason; a change
    that adds or removes one changes this pin and says why. Jobs per stage
    of the fixture's cold run (300 docs):

    - s0 (1): the snapshot write. Reads carry a known schema, so no
      footer-inference job follows a write. The fixture is an in-memory
      table, not a file scan, so the runner's core-width rule leaves it as
      is; a one-file input adds the spread's query stage (2).
    - s5 (≤ 16): the sketch and pairs barriers (a ``localCheckpoint`` each,
      plus their AQE query stages), the gate ``count``, ``toPandas`` of
      the pairs (1) and the write's AQE query stages, among them the
      representatives' join of the cluster table to the sketch. An upper
      bound: AQE plans a join as broadcast or shuffle from runtime sizes,
      so the number of query stages moves with the input and its layout
      (14 at ``local[4]``, 15–16 at ``local[8]``).
    - s9 (≤ 5): the write, whose AQE query stages include the exchanges of
      the lazy s3 and s4 stages fused into it; an upper bound for the same
      reason (5 at ``local[4]``, 3 at ``local[8]``).
    - s6 (7): the narrow ``localCheckpoint`` (1), then three rounds of 2
      jobs, each the ``collect`` of a round's stats (``outliers.py``).
    - s11 (10): one write of 10 AQE query stages; s10's and s8's stats are
      query stages of it, not jobs of their own.
    - s3, s4, s10, s8 (0): lazy; they fuse into the next write.
    """
    jobs = {r.name: r.telemetry["jobs"] for r in pipeline_out["cold_results"]}
    exact = {
        "s0_ingest": 1,
        "s3_hard_filters": 0,
        "s4_exact_dedup": 0,
        "s6_iterative_outliers": 7,
        "s10_segment_qc": 0,
        "s8_host_qc": 0,
        "s11_verdict": 10,
    }
    assert {k: jobs[k] for k in exact} == exact
    assert 1 <= jobs["s5_near_dedup"] <= 16
    assert 1 <= jobs["s9_scoring"] <= 5


def test_manifest_schema_is_the_footer_schema(pipeline_out):
    """Every read uses the manifest's schema, which the write took from the
    DataFrame it wrote; it must equal what footer inference gives for the
    snapshot, nullability and ``flag_vocab`` metadata included."""
    spark, store = pipeline_out["spark"], pipeline_out["pipe"].store
    for st in pipeline_out["pipe"].stages:
        if st.materialize:
            footer = spark.read.parquet(store.path(st.name)).schema.jsonValue()
            assert store.manifest(st.name)["schema"] == footer, st.name


def _stage_digests(store, stages):
    """Row count and an order-free, overflow-safe hash sum of every column,
    per stage snapshot (a plain ``sum(xxhash64)`` overflows under ANSI)."""
    digests = {}
    for stage in stages:
        df = store.read(stage)
        row_hash = F.xxhash64(*df.columns).cast("decimal(38,0)")
        r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")).first()
        digests[stage] = (r["n"], r["h"])
    return digests


def test_output_is_identical_at_any_parallelism(spark, pages, tmp_path):
    """The pipeline's checkpoints do not depend on the layout it runs at:
    input at 1 vs 7 partitions with ``spark.sql.shuffle.partitions`` at 3
    vs 16 give identical s0, s5, s9 and s11 snapshots."""
    stages = ("s0_ingest", "s5_near_dedup", "s9_scoring", "s11_verdict")
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    digests = []
    try:
        for in_parts, shuffle_parts in ((1, 3), (7, 16)):
            spark.conf.set(key, str(shuffle_parts))
            store = CheckpointStore(spark, str(tmp_path / f"p{in_parts}"))
            build_quality_pipeline(store).run(pages.repartition(in_parts))
            digests.append(_stage_digests(store, stages))
    finally:
        spark.conf.set(key, saved)
    assert digests[0] == digests[1]
    assert digests[0]["s11_verdict"][0] == pages.count()


@pytest.fixture(scope="module")
def single_file_cold(spark, tmp_path_factory):
    """A cold run over a one-file input, as perfbench feeds it; the status
    store facts of its s5 window are read right after the run, before later
    jobs can evict them."""
    from exome_qc_library_spark import telemetry
    from exome_qc_library_spark.synth import synthesize_pages

    tmp = tmp_path_factory.mktemp("single_file")
    synthesize_pages(spark, n_docs=500, seed=7).coalesce(1).write.parquet(str(tmp / "pages"))
    store = CheckpointStore(spark, str(tmp / "ckpt"))
    pipe = build_quality_pipeline(store)
    mark = telemetry.mark(spark)
    pipe.run(spark.read.parquet(str(tmp / "pages")))
    # the stages' job windows are consecutive ranges of job ids
    first = mark + 1
    for r in pipe.results:
        if r.name == "s5_near_dedup":
            s5_jobs = set(range(first, first + r.telemetry["jobs"]))
            break
        first += r.telemetry["jobs"]
    # the signature UDF's rows, per ArrowEvalPython node of s5's SQL executions
    sql = spark._jsparkSession.sharedState().statusStore()
    udf_rows = []
    execs = sql.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        if not any(ex.jobs().contains(j) for j in s5_jobs):
            continue
        values = sql.executionMetrics(ex.executionId())
        nodes = sql.planGraph(ex.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if node.name() == "ArrowEvalPython":
                ms = node.metrics()
                for q in range(ms.size()):
                    if ms.apply(q).name() == "number of output rows":
                        v = values.get(ms.apply(q).accumulatorId())
                        udf_rows.append(int(v.get()) if v.isDefined() else None)
    s0 = store.read("s0_ingest")
    return {
        "s0_files": len(_data_files(store.path("s0_ingest"))),
        "non_blank_rows": s0.filter(F.col("text").rlike(r"\S")).count(),
        "udf_rows": udf_rows,
        "s0_parts": s0.rdd.getNumPartitions(),
        "s5_parts": store.read("s5_near_dedup").rdd.getNumPartitions(),
        "s5_files": len(_data_files(store.path("s5_near_dedup"))),
    }


def test_s5_computes_sketch_once(single_file_cold):
    """s5's sketch runs in one eager barrier job whose plan holds the
    signature UDF once: s5's SQL executions hold exactly one
    ArrowEvalPython, and it returns one row per doc with non-blank text.
    A lazy barrier ran the sketch inside its consumers' jobs, and a filter
    on the UDF's output put a second ArrowEvalPython in the plan."""
    run = single_file_cold
    assert run["udf_rows"] == [run["non_blank_rows"]]


def test_checkpoint_reads_are_core_wide(spark, single_file_cold):
    """Every stage input is core-wide: the caller's one-file input reaches
    s0 spread over the cores, so s0's extraction runs in that many tasks
    and is written as that many files; the store reads every snapshot back
    at core width, so the stages fused into a scan of it run on every
    core, and s5 is written as that many files."""
    run = single_file_cold
    n = spark.sparkContext.defaultParallelism
    assert run["s0_files"] == n
    assert run["s0_parts"] == n
    assert run["s5_parts"] == n
    assert run["s5_files"] == n


def test_keep_rate_sane(pipeline_out):
    out = pipeline_out["out"]
    rate = out.filter("keep").count() / out.count()
    assert 0.3 < rate < 0.9


def test_summary_report(pipeline_out):
    rep = summarize_verdicts(pipeline_out["out"])
    rows = rep.collect()
    assert any(r["flag"] is None and r["n_keep"] > 0 for r in rows)
    flags = {r["flag"] for r in rows}
    assert {"word_count", "stopword_density"} & flags


def test_scrubbed_keepers_have_no_pii(pipeline_out):
    out = pipeline_out["out"]
    hits = out.filter(F.col("keep") & F.col("scrubbed_text").rlike(r"[\w.+-]+@[\w-]+\.[A-Za-z]{2,}")).count()
    assert hits == 0


def test_s6_s10_stages_wired(pipeline_out):
    # round-2 VERDICT #1: the SURVEY §7.1 map is complete — S6 iterative
    # outliers and S10 segment QC run on every pipeline invocation
    names = [s.name for s in pipeline_out["pipe"].stages]
    i9 = names.index("s9_scoring")
    assert names[i9 + 1 : i9 + 3] == ["s6_iterative_outliers", "s10_segment_qc"]


def test_s6_s10_flags_reach_final_accounting(spark, pages, monkeypatch):
    # aggressive thresholds so both stages actually fire on the synth
    # fixture; their tags must land in final_failing_qc AND in the terminal
    # checkpoint manifest's flag counts
    from exome_qc_library_spark.operators import segment_qc
    from exome_qc_library_spark.plans import quality_pipeline

    monkeypatch.setattr(
        quality_pipeline,
        "flag_iterative_outliers",
        functools.partial(
            quality_pipeline.flag_iterative_outliers, k_sigma=1.0, max_iter=2
        ),
    )
    monkeypatch.setattr(segment_qc, "SEGMENT_K_SIGMA", 1.0)
    monkeypatch.setattr(segment_qc, "MIN_SEGMENT_N", 5)
    root = tempfile.mkdtemp(prefix="ckpt_s6s10_")
    try:
        store = CheckpointStore(spark, root)
        out = build_quality_pipeline(store).run(pages)
        fired = {
            r["flag"]
            for r in out.select(F.explode("final_failing_qc").alias("flag"))
            .distinct()
            .collect()
        }
        assert "metric_outlier" in fired
        assert "segment_outlier" in fired
        acct_flags = set(_recorded_counts(store, "s11_verdict", "final_failing_qc"))
        assert {"metric_outlier", "segment_outlier"} <= acct_flags
        # annotate-don't-drop still holds through the new stages
        assert out.count() == pages.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stateless_stages_are_the_per_row_ones(spark, tmp_path):
    """The streaming chain runs the stages marked ``stateless``: a
    cross-record stage marked so would fail under ``readStream`` or judge
    each micro-batch alone (dedupe per batch). Builds the lists only."""
    per_row = ["s0_ingest", "s3_hard_filters", "s9_scoring", "s11_verdict"]
    table = spark.range(0)  # a DataFrame argument; never read
    optional = {
        "host_metadata": table,
        "blocklist": table,
        "url_substrings": ("casino",),
    }
    every = quality_stages(**optional)
    assert {"s1_enrich", "s2_blocklist"} <= {s.name for s in every}
    for stages in (quality_stages(), every):
        assert [s.name for s in stages if s.stateless] == per_row
    # build_quality_pipeline runs this same list
    pipe = build_quality_pipeline(CheckpointStore(spark, str(tmp_path)), **optional)
    assert [s.name for s in pipe.stages] == [s.name for s in every]


def test_from_stage_forces_recompute(pipeline_out):
    # round-1 ADVICE: from_stage was dead code; now stages before it resume
    # from checkpoints, stages at/after it are recomputed as stale
    root, spark, pages = (
        pipeline_out["root"],
        pipeline_out["spark"],
        pipeline_out["pages"],
    )
    pipe = build_quality_pipeline(CheckpointStore(spark, root))
    out = pipe.run(pages, from_stage="s9_scoring")
    results = {r.name: r for r in pipe.results}
    assert results["s0_ingest"].resumed
    assert not results["s9_scoring"].resumed
    assert not results["s11_verdict"].resumed
    cols = ["url", "keep", "scrubbed_text"]
    assert (
        pipeline_out["out"].select(cols).exceptAll(out.select(cols)).count() == 0
    )  # recompute reproduces the same verdicts

    import pytest

    with pytest.raises(ValueError, match="unknown stage"):
        pipe.run(pages, from_stage="nope")


class _StandInGateway:
    """Another py4j gateway object for the same JVM: a stage expression
    cache keyed on the gateway treats it as a restarted JVM."""

    def __init__(self, gateway):
        self.gateway = gateway

    def __getattr__(self, name):
        return getattr(self.gateway, name)


def test_stage_build_budget(pipeline_out, monkeypatch):
    """Constant stage expressions are built once per JVM
    (``functions.memo.per_jvm``). Building s3, s9 and s11 over one s5
    read, each materialized stage with its accounting observation, makes
    at most a quarter of the py4j round trips the second time. The first
    build runs under a stand-in gateway, so it rebuilds every entry
    whatever earlier tests cached. A changed ``max_perplexity`` or
    ``QualityThresholds`` gets its own entry, and a new gateway rebuilds
    an entry."""
    import dataclasses

    import py4j.java_gateway as jg
    from pyspark import SparkContext

    from exome_qc_library_spark.operators import hard_filters, perplexity
    from exome_qc_library_spark.plans.pipeline import _attach_accounting_observation

    pipe = pipeline_out["pipe"]
    stages = {st.name: st for st in pipe.stages}
    s5 = pipe.store.read("s5_near_dedup")
    calls = [0]
    call = jg.JavaMember.__call__

    def counted(self, *args):
        calls[0] += 1
        return call(self, *args)

    def build() -> int:
        before = calls[0]
        s9 = stages["s9_scoring"].fn(stages["s3_hard_filters"].fn(s5))
        _attach_accounting_observation(s9, stages["s9_scoring"].account_flags)
        s11 = stages["s11_verdict"].fn(s9)
        _attach_accounting_observation(s11, stages["s11_verdict"].account_flags)
        return calls[0] - before

    real = SparkContext._gateway
    monkeypatch.setattr(SparkContext, "_gateway", _StandInGateway(real))
    monkeypatch.setattr(jg.JavaMember, "__call__", counted)
    cold = build()
    warm = build()
    assert warm <= 0.25 * cold, (cold, warm)

    flags = perplexity._perplexity_flags
    assert flags(5000.0, "final_failing_qc") is flags(5000.0, "final_failing_qc")
    loose, strict = flags(5000.0, "final_failing_qc"), flags(1500.0, "final_failing_qc")
    assert str(loose[0]) != str(strict[0])
    rules = hard_filters._quality_flags
    final = hard_filters.FINAL
    stricter = dataclasses.replace(final, min_word_count=final.min_word_count + 1)
    assert rules("final_failing_qc", final) is rules("final_failing_qc", final)
    assert str(rules("final_failing_qc", stricter)[0]) != str(rules("final_failing_qc", final)[0])

    monkeypatch.setattr(SparkContext, "_gateway", _StandInGateway(real))
    assert flags(5000.0, "final_failing_qc") is not loose


def test_lazy_stages_name_the_stage_they_fuse_into(pipeline_out):
    """A lazy stage's result and report entry name the next materialized
    stage, whose telemetry window holds its Spark work."""
    want = {
        "s3_hard_filters": "s9_scoring",
        "s4_exact_dedup": "s9_scoring",
        "s6_iterative_outliers": "s11_verdict",
        "s10_segment_qc": "s11_verdict",
        "s8_host_qc": "s11_verdict",
    }
    got = {r.name: r.fused_into for r in pipeline_out["cold_results"]}
    assert got == {st.name: want.get(st.name) for st in pipeline_out["pipe"].stages}
    stages = pipeline_out["pipe"].report()["stages"]
    assert {s["name"]: s["fused_into"] for s in stages} == got


def test_observation_accounting_matches_scan_and_falls_back(spark, pages):
    # round-5: per-stage flag accounting rides the checkpoint-write job as
    # observed metrics when the column carries a flag_vocab (no second
    # scan); an out-of-vocabulary tag breaks reconciliation and the runner
    # falls back to the explode+groupBy scan — both paths must record in
    # the stage manifest the exact flag_count_df multiset, including the
    # NULL ("__none__") row for flagless docs
    from exome_qc_library_spark.functions.flags import add_flags, flag_count_df
    from exome_qc_library_spark.plans.pipeline import Pipeline, Stage

    def _counts(df):
        return sorted(
            ((r["flag"], r["n"]) for r in df.collect()),
            key=lambda t: (t[0] is None, t[0]),
        )

    def _recorded(store):
        return sorted(
            (
                (None if f == "__none__" else f, n)
                for f, n in _recorded_counts(store, "obs", "fl").items()
            ),
            key=lambda t: (t[0] is None, t[0]),
        )

    def _flag_stage(df):
        return add_flags(
            df.select("url", "text"),
            "fl",
            {
                "short": F.length("text") < 40,
                # fires twice per matching doc is impossible via add_flags;
                # occurrence semantics are covered by the rogue stage below
                "has_digit": F.col("text").rlike("[0-9]"),
            },
        )

    root = tempfile.mkdtemp(prefix="ckpt_obs_acct_")
    try:
        store = CheckpointStore(spark, root)
        pipe = Pipeline([Stage("obs", _flag_stage, account_flags="fl")], store)
        out = pipe.run(pages)
        assert _recorded(store) == _counts(flag_count_df(out, "fl"))

        # rogue append bypasses add_flags → vocab incomplete → reconcile
        # fails → scan fallback still records the rogue tag (twice per doc,
        # pinning occurrence — not membership — semantics)
        def _rogue(df):
            df = _flag_stage(df)
            return df.withColumn(
                "fl",
                F.when(
                    F.col("url").endswith("0"),
                    F.concat(F.col("fl"), F.array(F.lit("rogue"), F.lit("rogue"))),
                ).otherwise(F.col("fl")),
            )

        store2 = CheckpointStore(spark, root + "_rogue")
        out2 = Pipeline([Stage("obs", _rogue, account_flags="fl")], store2).run(pages)
        expect2 = _counts(flag_count_df(out2, "fl"))
        assert _recorded(store2) == expect2
        assert ("rogue", next(n for f, n in expect2 if f == "rogue")) in _recorded(
            store2
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_rogue", ignore_errors=True)


def test_run_report_artifact(pipeline_out):
    """round-5 VERDICT #5: one consolidated QC-report artifact per run —
    stage manifests + ONE bounded cube agg; golden-pinned on the
    deterministic fixture corpus."""
    import json

    pipe, out = pipeline_out["pipe"], pipeline_out["out"]
    rep = pipe.report()
    # totals agree with the terminal DataFrame (the golden facts)
    n, k = out.count(), out.filter("keep").count()
    assert rep["totals"] == {"rows": n, "kept": k, "keep_rate": round(k / n, 4)}
    assert rep["terminal_stage"] == "s11_verdict"
    # per-stage section covers every stage in order; terminal carries rows
    assert [s["name"] for s in rep["stages"]] == [s.name for s in pipe.stages]
    # and every stage ran, so every one carries its telemetry
    from exome_qc_library_spark.telemetry import FIELDS

    assert all(set(s["telemetry"]) == set(FIELDS) for s in rep["stages"])
    assert rep["stages"][-1]["rows"] == n
    # every materialized stage's manifest records its own row count
    for s in rep["stages"]:
        if s["materialized"]:
            assert s["rows"] == pipe.store.read(s["name"]).count(), s["name"]
    # keep-rate breakdown by language: every lang_id present incl. the
    # genuinely-NULL group (empty docs), disambiguated from cube margins
    langs = {
        str(r["lang_id"]) if r["lang_id"] is not None else "__null__"
        for r in out.select("lang_id").distinct().collect()
    }
    assert set(rep["by"]["lang_id"]) == langs
    assert sum(b["rows"] for b in rep["by"]["lang_id"].values()) == n
    # flag histograms come from the stage manifests, not a rescan:
    # verdict stage accounts BOTH arrays
    v = rep["flag_counts"]["s11_verdict"]
    assert set(v) == {"low_pass_failing_qc", "final_failing_qc"}
    assert "word_count" in v["low_pass_failing_qc"]
    assert "near_duplicate" in rep["flag_counts"]["s5_near_dedup"]["final_failing_qc"]
    # metric quantiles are monotone and present for in-table metrics
    for col in ("perplexity", "word_count", "stopword_density"):
        q = rep["metrics"][col]
        vals = [q[p] for p in ("p05", "p25", "p50", "p75", "p95")]
        assert vals == sorted(vals) and vals[0] is not None
    # artifact persisted next to the stage dirs and JSON-round-trips
    path = os.path.join(pipe.store.root, "report.json")
    with open(path) as fh:
        saved = json.load(fh)
    assert saved["totals"]["rows"] == n
    assert [s["telemetry"] for s in saved["stages"]] == [s["telemetry"] for s in rep["stages"]]


def test_report_flag_counts_attribution_with_absent_declared_column(spark, pages):
    """Round-6 review: a declared account_flags column may be absent from
    the stage output. Only the columns present are counted, and the
    manifest keys each histogram by its column, so report() must never
    attribute one column's counts to another by tuple position."""
    from exome_qc_library_spark.functions.flags import add_flags
    from exome_qc_library_spark.plans.pipeline import Pipeline, Stage

    def _stage(df):
        # declares ("ghost", "fl") but only emits "fl"
        return add_flags(
            df.select("url", "text"),
            "fl",
            {"short": F.length("text") < 40},
        )

    root = tempfile.mkdtemp(prefix="ckpt_attr_")
    try:
        store = CheckpointStore(spark, root)
        pipe = Pipeline(
            [Stage("obs", _stage, account_flags=("ghost", "fl"))], store
        )
        out = pipe.run(pages)
        rep = pipe.report()
        fc = rep["flag_counts"]["obs"]
        assert set(fc) == {"fl"}  # never misattributed to "ghost"
        n_short = out.filter(F.array_contains("fl", "short")).count()
        assert fc["fl"]["short"] == n_short
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_report_counts_follow_forced_rerun(spark, pages):
    """A forced rerun of a stage replaces its recorded flag counts: run 1
    emits columns a and b, the rerun only b with another threshold, and
    report() must show exactly the rerun's b counts. The counts live in
    the stage's own manifest, so no earlier run's counts outlive the data
    they describe."""
    from exome_qc_library_spark.functions.flags import add_flags, flag_count_df
    from exome_qc_library_spark.plans.pipeline import Pipeline, Stage

    def _both(df):
        df = add_flags(df.select("url", "text"), "a", {"short": F.length("text") < 40})
        return add_flags(df, "b", {"long": F.length("text") > 2000})

    def _only_b(df):
        return add_flags(
            df.select("url", "text"), "b", {"long": F.length("text") > 1000}
        )

    root = tempfile.mkdtemp(prefix="ckpt_rerun_")
    try:
        store = CheckpointStore(spark, root)
        Pipeline([Stage("obs", _both, account_flags=("a", "b"))], store).run(pages)
        pipe = Pipeline([Stage("obs", _only_b, account_flags=("a", "b"))], store)
        out = pipe.run(pages, from_stage="obs")
        expect = {
            (r["flag"] if r["flag"] is not None else "__none__"): r["n"]
            for r in flag_count_df(out, "b").collect()
        }
        assert pipe.report()["flag_counts"]["obs"] == {"b": expect}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_accounting_and_row_counts_add_no_jobs(spark, pages):
    """Flag accounting and the manifest row count are observed by the
    checkpoint's write job: a stage with accounted flags runs as many
    Spark jobs as the same stage without, and ``store.write`` as many as a
    plain parquet write: its read-back carries the written schema, so no
    footer-inference job runs. The runner's stage telemetry
    is read from the status store: a one-stage ``Pipeline.run`` runs as
    many jobs as ``store.write`` of the stage's output."""
    from exome_qc_library_spark.functions.flags import add_flags
    from exome_qc_library_spark.plans.pipeline import Pipeline, Stage

    n_jobs = functools.partial(_jobs_in_group, spark)

    def _stage(df):
        return add_flags(df.select("url", "text"), "fl", {"short": F.length("text") < 40})

    root = tempfile.mkdtemp(prefix="ckpt_jobs_")
    try:

        def run(acct):
            store = CheckpointStore(spark, os.path.join(root, f"acct_{len(acct)}"))
            Pipeline([Stage("obs", _stage, account_flags=acct)], store).run(pages)

        assert n_jobs("acct_jobs_on", lambda: run(("fl",))) == n_jobs(
            "acct_jobs_off", lambda: run(())
        )

        df = pages.select("url", "text")
        store = CheckpointStore(spark, os.path.join(root, "store"))
        plain = os.path.join(root, "plain")

        assert n_jobs("store_write", lambda: store.write(df, "x")) == n_jobs(
            "plain_write", lambda: df.write.parquet(plain)
        )

        def one_stage_run():
            run_store = CheckpointStore(spark, os.path.join(root, "run"))
            Pipeline([Stage("y", _stage)], run_store).run(pages)

        assert n_jobs("one_stage_run", one_stage_run) == n_jobs(
            "direct_write", lambda: store.write(_stage(pages), "y")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_report_on_empty_terminal_checkpoint(spark, pages):
    """Round-6 ADVICE: cube() over ZERO rows emits no grouping-set rows,
    so report() on an all-filtered (empty) terminal table used to crash
    with StopIteration looking for the grand-total row. It must instead
    return a rows=0 totals block and NULL metrics."""
    from exome_qc_library_spark.plans.pipeline import Pipeline, Stage

    root = tempfile.mkdtemp(prefix="ckpt_empty_")
    try:
        store = CheckpointStore(spark, root)
        pipe = Pipeline(
            [Stage("empty", lambda df: df.filter(F.lit(False)))], store
        )
        out = pipe.run(pages)
        assert out.count() == 0
        rep = pipe.report()
        assert rep["totals"] == {"rows": 0}
        assert all(v is None for v in rep["metrics"].values())
        assert all(block == {} for block in rep["by"].values())
    finally:
        shutil.rmtree(root, ignore_errors=True)
