"""Benchmark harness — prints ONE JSON line with headline timings.

Headline workloads:
* ``pipeline`` — the full staged QC pipeline (ingest → hard filters →
  exact+near dedup → langid UDF → final filters+perplexity → host QC →
  verdict+scrub) over a deterministically synthesized pages table
  (BENCH_DOCS docs, seed 42), including checkpoint materialization —
  the end-to-end docs/sec number the north rule asks for.
* a set of operator queries from the driver contract run at
  ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).

Executor CPU (``pipeline_cpu_sec``) and the per-stage Spark work
(``pipeline_stage_telemetry``: each stage's ``StageResult.telemetry``)
are read from Spark's in-process status store through
``exome_qc_library_spark.telemetry``, so the Spark UI stays off.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (cores, default: the
host's, as ``session.default_parallelism``), SPARK_GRAFT_BENCH_DOCS
(default 50000). The 50k-doc and sf0.1 defaults target round 7's 32-core
host (BENCH.md); ``perfbench/`` (``BENCHMARK.json``) is the measured
reference on a 4-core host.

For the N-vs-4N scaling study (BASELINE.md protocol) run
``tools/bench_scaling.py`` which invokes this at two parallelism levels.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "50000"))
# host kernel-storm classifier threshold (sys-cores over the pipeline
# window); tools/bench_scaling.py reads the emitted ``storm`` field
STORM_SYS_CORES = 4.0

BENCH_QUERIES = [
    "flagship_flag_counts",
    "text_metrics",
    "text_scores",  # production scorer (NB trigram + perplexity, fused UDF);
    # the oracle-mirrorable expression scorer `langid_expr` stays in the
    # correctness contract but out of the headline (VERDICT r1 #7 — it was
    # 19.5s of the 84.3s headline while the UDF path is the deployed one)
    "scrub_pii",
    "token_counts",
    "exact_dedup",
    "join_agg_revenue",
    "window_topk",
    "sessionize",
    "segment_zscore",
]


def _text_scores_workload(spark, sf_dir):
    """Production text-scoring path: fused language-ID + perplexity
    iterator pandas UDF (one Arrow shipment of text)."""
    import os as _os

    from exome_qc_library_spark.operators.perplexity import with_text_scores
    from exome_qc_library_spark.sources.readers import spread_scan

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    docs = spread_scan(docs, "doc_id")
    return with_text_scores(docs).select("doc_id", "lang_id", "lang_conf", "perplexity")


EXTRA_WORKLOADS = {"text_scores": _text_scores_workload}


def _host_cpu_jiffies() -> dict[str, int] | None:
    """Aggregate host CPU jiffies by kind from ``/proc/stat``. Deltas around
    the pipeline classify each run in place: a healthy run is user-dominated;
    the bimodal kernel-storm mode this box exhibits (round-5 BENCH.md) shows
    ``system`` at 20-30 cores. Emitting the split with every number means no
    bench result needs a separate probe to be trusted or discarded."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        keys = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
        return dict(zip(keys, (int(x) for x in parts[1:9])))
    except Exception:  # noqa: BLE001 — bench must not die on a missing procfs
        return None


def main() -> None:
    from exome_qc_library_spark import telemetry
    from exome_qc_library_spark.entry_queries import QUERIES
    from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
    from exome_qc_library_spark.session import build_session, default_parallelism
    from exome_qc_library_spark.sources.checkpoint import CheckpointStore
    from exome_qc_library_spark.synth import synthesize_pages

    cores = default_parallelism()
    spark = build_session(app_name="bench", parallelism=cores)
    timings: dict[str, float] = {}

    if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
        # one tiny pipeline pass swallows JVM codegen + Python UDF worker
        # startup so the timed run measures steady-state throughput
        wck = tempfile.mkdtemp(prefix="bench_warm_")
        try:
            build_quality_pipeline(CheckpointStore(spark, wck)).run(
                synthesize_pages(spark, n_docs=500, seed=7, with_edge_cases=False)
            ).count()
        finally:
            shutil.rmtree(wck, ignore_errors=True)

    # -- operator queries at SF_DIR
    skip_queries = os.environ.get("SPARK_GRAFT_SKIP_QUERIES") == "1"
    for name in [] if skip_queries else BENCH_QUERIES:
        fn = EXTRA_WORKLOADS.get(name) or QUERIES[name][0]
        t0 = time.monotonic()
        # noop sink, NOT count(): count() lets Catalyst prune every unused
        # projection column, so projection-shaped workloads (metrics, scrub,
        # UDF scoring) would be timed as near-empty scans; the noop write
        # forces full evaluation of all output columns with no driver
        # materialization
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.monotonic() - t0, 3)

    # -- end-to-end pipeline on synthesized pages
    # SPARK_GRAFT_PAGES_DIR points at a pre-synthesized pages parquet so
    # repeated scaling runs skip the synth+write (~1-2 min of untimed wall
    # clock per run — matters because quiet co-tenant valleys on this box
    # close within ~2 min and the whole pair must fit inside one)
    pages_pre = os.environ.get("SPARK_GRAFT_PAGES_DIR")
    pages_dir = tempfile.mkdtemp(prefix="bench_pages_")
    try:
        if pages_pre:
            pages = spark.read.parquet(pages_pre)
        else:
            synthesize_pages(
                spark, n_docs=BENCH_DOCS, seed=42, with_edge_cases=False
            ).write.mode("overwrite").parquet(os.path.join(pages_dir, "pages"))
            pages = spark.read.parquet(os.path.join(pages_dir, "pages"))

        def run_pipeline() -> dict:
            ckpt_dir = tempfile.mkdtemp(prefix="bench_ckpt_")  # fresh: no resume
            try:
                # executor CPU seconds of the window's jobs (round-4
                # VERDICT #2): a task waiting for a stolen core burns
                # wall-clock, not CPU, so co-tenant noise cannot fake it
                window = telemetry.mark(spark)
                host0 = _host_cpu_jiffies()
                t0 = time.monotonic()
                pipe = build_quality_pipeline(CheckpointStore(spark, ckpt_dir))
                out = pipe.run(pages)
                n_docs = out.count()
                pipeline_sec = time.monotonic() - t0
                host1 = _host_cpu_jiffies()
                r = {
                    "pipeline_sec": pipeline_sec,
                    "n_docs": n_docs,
                    "pipeline_cpu": telemetry.since(spark, window)["cpu_s"],
                    "host_cpu": None,
                    "storm": None,
                    # stage-level breakdown (round-3 VERDICT #6): lazy stages
                    # register ~0s — their work lands in the next materializing
                    # stage's number, which is exactly the granularity the
                    # checkpoints run at. Makes the next noise-vs-regression
                    # call per STAGE, not per run.
                    "stage_secs": {
                        s.name: round(s.seconds, 3) for s in pipe.results
                    },
                    "stage_telemetry": {s.name: s.telemetry for s in pipe.results},
                }
                if host0 is not None and host1 is not None:
                    tick = os.sysconf("SC_CLK_TCK") or 100
                    r["host_cpu"] = {
                        k: round((host1[k] - host0[k]) / tick, 1) for k in host0
                    }
                    # the box's bimodal kernel-storm mode shows >4 sys-cores
                    # over the run window; such a run measures the storm, not the
                    # engine (round-5 VERDICT #7 — BENCH_r05's own headline
                    # was storm-classified but had no retry)
                    r["storm"] = (
                        r["host_cpu"]["system"] / pipeline_sec > STORM_SYS_CORES
                    )
                return r
            finally:
                shutil.rmtree(ckpt_dir, ignore_errors=True)

        res = run_pipeline()
        storm_retried = False
        if res["storm"] and os.environ.get("SPARK_GRAFT_STORM_RETRY", "1") == "1":
            # one retry in the next quiet window: storms are time-clustered
            # host-side pressure (BENCH.md r5) — wait for loadavg to drop,
            # bounded so an unattended bench still terminates
            deadline = time.monotonic() + float(
                os.environ.get("SPARK_GRAFT_STORM_WAIT", "300")
            )
            while time.monotonic() < deadline and os.getloadavg()[0] > 3.0:
                time.sleep(10)
            storm_retried = True
            retry = run_pipeline()
            # keep the better-classified attempt: a verified-CLEAN retry
            # (storm is False, not None — an unclassifiable probe failure
            # must not displace a measured classification, round-6 review)
            # beats a storm; two storms keep the faster one — both are
            # upper bounds
            if retry["storm"] is False or retry["pipeline_sec"] < res["pipeline_sec"]:
                res = retry
        timings["pipeline_e2e"] = round(res["pipeline_sec"], 3)
    finally:
        shutil.rmtree(pages_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "pipeline_stages": res["stage_secs"],
                "pipeline_stage_telemetry": res["stage_telemetry"],
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "pipeline_docs": res["n_docs"],
                "pipeline_docs_per_sec": round(res["n_docs"] / res["pipeline_sec"], 1),
                "pipeline_cpu_sec": res["pipeline_cpu"],
                "host_cpu_sec": res["host_cpu"],
                "storm": res["storm"],
                "storm_retried": storm_retried,
                "parallelism": cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
