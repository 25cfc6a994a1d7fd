"""The benchmark's workloads and the output checks that gate them.

Every workload is a closed loop with one client: the next unit of work
starts when the previous one has finished. A workload object is built
around one Spark session and offers

* ``prepare()`` — generate the inputs and any untimed state;
* ``prime()`` — the warm-up, timed as part of ``setup_s``: a cold
  pipeline run (over a small shard for ``crawl_cold``; the cold run the
  reruns resume from for ``rescore_resume``), so the Python workers, the
  scorer models, code generation and the JIT are warm before the first
  measured unit;
* ``unit(i, traced)`` — one timed unit of work plus its output checks;
  a traced unit also returns its per-layer numbers.

Units are tagged with a Spark job group (``<unit>|<layer>``) so the
status store can attribute executor CPU, shuffle and spill to each unit
and, in a traced unit, to each pipeline stage.

A traced run also runs the workload's probe: ``stream`` (one drain of
the streaming chain) or ``registry`` (one pass over every ``QUERIES``
entry), layers no pipeline unit reaches.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
from exome_qc_library_spark.sources import readers
from exome_qc_library_spark.sources.checkpoint import CheckpointStore

from perfbench import gen
from perfbench.probes import GroupTotals, StatusStore, Tracer, fold

STAGES = (
    "s0_ingest",
    "s5_near_dedup",
    "s3_hard_filters",
    "s4_exact_dedup",
    "s9_scoring",
    "s6_iterative_outliers",
    "s10_segment_qc",
    "s8_host_qc",
    "s11_verdict",
)
MATERIALIZED = ("s0_ingest", "s5_near_dedup", "s9_scoring", "s11_verdict")
# the output columns a unit's digest covers
VERDICT_COLS = ("url", "keep", "low_pass_failing_qc", "final_failing_qc", "scrubbed_text")


@dataclass
class Unit:
    wall_s: float
    totals: GroupTotals
    failures: list[str] = field(default_factory=list)
    traced: bool = False
    layers: dict[str, float] = field(default_factory=dict)


@contextmanager
def job_group(spark: SparkSession, group: str):
    """Tag every job the calling thread submits inside the block."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _digest(df: DataFrame, cols: tuple[str, ...]) -> tuple[int, int]:
    """Order-free content digest: (rows, xor of per-row xxhash64)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])), F.lit(0)).alias("x"),
    ).first()
    return int(r["n"]), int(r["x"])


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class PipelineWorkload:
    """Shared by ``crawl_cold`` and ``rescore_resume``: a pages shard, the
    quality pipeline, and the checks on its terminal table."""

    profile: gen.Profile
    n_docs: int
    probe: str  # the per-layer probe of a traced run (a key of PROBES)

    def __init__(self, spark: SparkSession, workdir: str, seed: int, status: StatusStore):
        self.spark, self.workdir, self.seed, self.status = spark, workdir, seed, status
        self.tracer: Tracer | None = None  # the last traced unit's spans

    def prepare(self) -> dict[str, float]:
        self.table = table = gen.make_pages(self.n_docs, self.seed, self.profile)
        cores = self.spark.sparkContext.defaultParallelism
        self.shard = gen.write_shard(table, os.path.join(self.workdir, "pages"), 2 * cores)
        self.input_urls = None  # taken by the first check, on a warm session
        return gen.measured_shares(table)

    def pages(self) -> DataFrame:
        return self.spark.read.parquet(self.shard)

    def sample_texts(self, n: int):
        """The first ``n`` texts of the shard (every doc reaches s9)."""
        return self.table.column("text").slice(0, n).to_pandas()

    def pipeline(self, store: CheckpointStore, unit: str, traced: bool, **kw):
        """Build the pipeline; in a traced unit, wrap each stage function and
        the store's write/read so every call records a span and runs under
        its stage's job group."""
        pipe = build_quality_pipeline(store, **kw)
        if not traced:
            return pipe
        self.tracer = tr = Tracer()
        spark = self.spark

        def in_group(group: str, fn):
            def call(*a, **k):
                with job_group(spark, group):
                    return fn(*a, **k)

            return call

        for st in pipe.stages:
            st.fn = tr.wrap(f"stage.{st.name}.build", in_group(f"{unit}|{st.name}", st.fn))
        write = store.write

        def layer(stage: str) -> str:  # all flag-count tables form one layer
            return "flag_counts" if "__flag_counts" in stage else stage

        def grouped_write(df, stage, *a, **k):
            with job_group(spark, f"{unit}|{layer(stage)}"):
                return write(df, stage, *a, **k)

        store.write = tr.wrap(
            "checkpoint.write",
            grouped_write,
            label=lambda df, stage, *a, **k: f"checkpoint.{layer(stage)}.write",
        )
        store.read = tr.wrap("checkpoint.read", store.read)
        pipe.run = tr.wrap("pipeline.run", pipe.run)
        return pipe

    def timed_run(self, pipe, unit: str, pages: DataFrame, **kw) -> tuple[float, GroupTotals]:
        since = self.status.mark()
        with job_group(self.spark, f"{unit}|run"):
            t0 = time.monotonic()
            out = pipe.run(pages, **kw)
            wall = time.monotonic() - t0
        self.out = out
        groups = self.status.groups(since)
        self.groups = groups
        return wall, fold(groups, lambda g: g.startswith(f"{unit}|"))

    def check_output(self, out: DataFrame, failures: list[str]) -> tuple[int, int]:
        """Row count and url set preserved, keep-rate within 0.3-0.9;
        returns the digest of (url, keep, flags, scrubbed_text)."""
        if self.input_urls is None:
            self.input_urls = _digest(self.pages(), ("url",))
        if _digest(out, ("url",)) != self.input_urls:
            failures.append("row count or url set changed")
        r = out.agg(F.avg(F.col("keep").cast("double")).alias("k")).first()
        if not (r["k"] is not None and 0.3 <= r["k"] <= 0.9):
            failures.append(f"keep-rate {r['k']} outside 0.3-0.9")
        return _digest(out, VERDICT_COLS)

    def stage_layers(self, pipe, unit: str) -> dict[str, float]:
        """Per-stage and checkpoint numbers of one traced unit."""
        tr, out = self.tracer, {}
        walls = {r.name: r.seconds for r in pipe.results}
        for name in STAGES:
            out[f"stage.{name}.wall_s"] = walls.get(name, 0.0)
            out[f"stage.{name}.build_s"] = tr.total(f"stage.{name}.build")
        for name in MATERIALIZED:
            g = self.groups.get(f"{unit}|{name}", GroupTotals())
            out[f"stage.{name}.cpu_s"] = g.cpu_s
            out[f"stage.{name}.shuffle_bytes"] = g.shuffle_bytes
            out[f"stage.{name}.spill_bytes"] = g.spill_bytes
            out[f"checkpoint.{name}.write_s"] = tr.total(f"checkpoint.{name}.write")
            resumed = any(r.resumed for r in pipe.results if r.name == name)
            out[f"checkpoint.{name}.bytes"] = (
                0 if resumed else _dir_bytes(pipe.store.path(name))
            )
        out["checkpoint.flag_counts.write_s"] = tr.total("checkpoint.flag_counts.write")
        out["checkpoint.read_s"] = tr.total("checkpoint.read")
        return out


class CrawlCold(PipelineWorkload):
    """A full cold pipeline run over a fresh shard with a fresh checkpoint
    directory per unit. The shard is sized so that a run stays near one
    minute on a 4-core host (sizing in the README)."""

    profile = gen.CRAWL
    n_docs = 6000
    prime_docs = 500
    probe = "stream"

    def prime(self) -> None:
        # a cold run over a small shard of the same mix: compiles every
        # stage's code once without paying for a full unit. The shard is
        # the same in every run, so set-up time does not vary with --seed.
        table = gen.make_pages(self.prime_docs, 1_000_000, self.profile)
        shard = gen.write_shard(table, os.path.join(self.workdir, "prime-pages"), 4)
        root = os.path.join(self.workdir, "ckpt-prime")
        build_quality_pipeline(CheckpointStore(self.spark, root)).run(self.spark.read.parquet(shard))
        shutil.rmtree(root, ignore_errors=True)

    def _cold(self, unit: str, traced: bool):
        root = os.path.join(self.workdir, f"ckpt-{unit}")
        store = CheckpointStore(self.spark, root)
        pipe = self.pipeline(store, unit, traced)
        wall, totals = self.timed_run(pipe, unit, self.pages())
        return root, pipe, wall, totals

    def unit(self, i: int, traced: bool) -> Unit:
        name = f"u{i}"
        root, pipe, wall, totals = self._cold(name, traced)
        u = Unit(wall, totals, traced=traced)
        digest = self.check_output(self.out, u.failures)
        # a resumed run over the same store must reproduce the cold verdicts
        t0 = time.monotonic()
        resumed = build_quality_pipeline(CheckpointStore(self.spark, root)).run(
            self.pages().limit(0)
        )
        u.layers["resume.noop_s"] = time.monotonic() - t0
        if _digest(resumed, ("url", "keep")) != _digest(self.out, ("url", "keep")):
            u.failures.append("resume differs from cold on (url, keep)")
        u.layers["digest"] = digest[1]
        if traced:
            u.layers.update(self.stage_layers(pipe, name))
            u.layers.update(dedup_layers(self.spark, root))
            u.layers.update(scrub_layers(self.out))
            u.layers.update(s9_layers(self.spark, self.status, self.groups, f"{name}|s9_scoring"))
        shutil.rmtree(root, ignore_errors=True)
        return u


# the thresholds a "tune, then rerun from s9" loop alternates between
RESCORE_THRESHOLDS = (5000.0, 1500.0)


class RescoreResume(PipelineWorkload):
    """The prime cold-runs a digit-rich shard at the first threshold; each
    unit then reruns it from s9, so s0 and s5 are read back from their
    checkpoints. Units go in pairs at one threshold (5000, 5000, 1500,
    1500, ...), so a traced run compares a traced and an untraced unit at
    the same setting. The shard is sized so that a run stays near one
    minute on a 4-core host."""

    profile = gen.DIGIT_RICH
    n_docs = 2000
    probe = "registry"

    def prime(self) -> None:
        self.root = os.path.join(self.workdir, "ckpt")
        loose = RESCORE_THRESHOLDS[0]
        out = build_quality_pipeline(
            CheckpointStore(self.spark, self.root), max_perplexity=loose
        ).run(self.pages())
        self.want = {loose: _digest(out, VERDICT_COLS)}
        self.loose_keep = set(out.filter("keep").select("url").toPandas()["url"])

    def unit(self, i: int, traced: bool) -> Unit:
        name = f"u{i}"
        thr = RESCORE_THRESHOLDS[(i // 2) % 2]
        store = CheckpointStore(self.spark, self.root)
        pipe = self.pipeline(store, name, traced, max_perplexity=thr)
        wall, totals = self.timed_run(pipe, name, self.pages(), from_stage="s9_scoring")
        u = Unit(wall, totals, traced=traced)
        digest = self.check_output(self.out, u.failures)
        # a rerun at the cold run's threshold must reproduce the cold run,
        # and every rerun at one threshold the same table
        want = self.want.setdefault(thr, digest)
        if digest != want:
            u.failures.append(f"rerun at max_perplexity={thr} differs from an earlier run")
        if thr != RESCORE_THRESHOLDS[0]:
            # the stricter threshold may only remove keepers
            kept = set(self.out.filter("keep").select("url").toPandas()["url"])
            if not kept <= self.loose_keep:
                u.failures.append("the stricter threshold kept a doc the looser one dropped")
        u.layers["digest"] = digest[1]
        if traced:
            u.layers.update(self.stage_layers(pipe, name))
            u.layers.update(scrub_layers(self.out))
            u.layers.update(s9_layers(self.spark, self.status, self.groups, f"{name}|s9_scoring"))
        return u


def dedup_layers(spark: SparkSession, root: str) -> dict[str, float]:
    """s5 work counts, recomputed from the s0 checkpoint with the stage's
    default sketch settings, plus the cluster count from its output."""
    from exome_qc_library_spark.operators.dedup import minhash_candidate_pairs

    store = CheckpointStore(spark, root)
    pairs = minhash_candidate_pairs(store.read("s0_ingest")).cache()
    cand = pairs.count()
    verified = pairs.filter(F.col("jaccard_est") >= 0.8).count()
    pairs.unpersist()
    clusters = store.read("s5_near_dedup").agg(F.countDistinct("dup_cluster_id")).first()[0]
    return {
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": verified,
        "dedup.lsh_precision": verified / cand if cand else 0.0,
        "dedup.clusters": clusters,
    }


def scrub_layers(out: DataFrame) -> dict[str, float]:
    """s11 gate and hit shares over all docs (``pii_hits`` is computed for
    every doc; the scrub itself rewrites keepers only)."""
    from exome_qc_library_spark.operators.scrub import DEFAULT_RULES

    gate = "|".join(dict.fromkeys(r.gate for r in DEFAULT_RULES))
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("text").rlike(gate)).alias("gate"),
        F.count_if(F.col("pii_hits") > 0).alias("hit"),
    ).first()
    n, g, h = r["n"], r["gate"], r["hit"]
    return {
        "scrub.gate_pass_frac": g / n,
        "scrub.hit_frac": h / n,
        "scrub.hits_per_gate_pass": h / g if g else 0.0,
    }


def s9_layers(spark, status: StatusStore, groups, group: str) -> dict[str, float]:
    """Arrow batches the s9 scorer received: per task of the s9 write
    stage, ceil(rows in / maxRecordsPerBatch)."""
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    g = groups.get(group, GroupTotals())
    return {
        "s9.udf_batches": status.udf_batches(g.stage_ids, per_batch),
        "s9.task_s": g.task_run_s,
    }


@contextmanager
def counting_checkpoint_writes():
    """Count ``CheckpointStore.write`` calls inside the block (a probe
    must write no pipeline checkpoint)."""
    calls = [0]
    write = CheckpointStore.write

    def counted(self, *a, **k):
        calls[0] += 1
        return write(self, *a, **k)

    CheckpointStore.write = counted
    try:
        yield calls
    finally:
        CheckpointStore.write = write


STREAM_FILES = 8
STREAM_DOCS = 800


def stream_layers(spark: SparkSession, workdir: str, seed: int) -> tuple[dict[str, float], list[str]]:
    """One drain of a time-ordered file stream (some rows late) through
    ``stream_pages(maxFilesPerTrigger=1)`` -> ``streaming_quality_flags``
    -> ``windowed_flag_counts`` with ``availableNow``; numbers come from
    the query's ``recentProgress``. The window counts must equal a batch
    recount over the same files."""
    from exome_qc_library_spark.streaming.stream import (
        stream_pages,
        streaming_quality_flags,
        windowed_flag_counts,
    )
    from exome_qc_library_spark.synth import PAGES_SCHEMA

    root = os.path.join(workdir, "stream")
    src = gen.write_stream_files(
        gen.make_pages(STREAM_DOCS, seed, ts_span_s=12 * 3600),
        os.path.join(root, "src"),
        STREAM_FILES,
        late_frac=0.05,
        seed=seed,
    )
    name = f"perfbench_stream_{seed}"
    with counting_checkpoint_writes() as writes:
        q = (
            windowed_flag_counts(streaming_quality_flags(stream_pages(spark, src, 1)))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    failures = []
    streamed = spark.sql(f"SELECT window, flag, n FROM {name}")
    # the same chain over a batch read (the watermark is a no-op in batch)
    batch = windowed_flag_counts(
        streaming_quality_flags(spark.read.schema(PAGES_SCHEMA).parquet(src))
    )
    if streamed.exceptAll(batch).count() or batch.exceptAll(streamed).count():
        failures.append("stream window counts differ from a batch recount")
    if len(progress) != STREAM_FILES:
        failures.append(f"{len(progress)} micro-batches for {STREAM_FILES} files")

    def total(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

    rows = sum(p["numInputRows"] for p in progress)
    trigger_s = total("triggerExecution")
    state = progress[-1]["stateOperators"] if progress else []
    return {
        "stream.add_batch_s": total("addBatch"),
        "stream.planning_s": total("queryPlanning"),
        "stream.wal_s": total("walCommit"),
        "stream.input_rows_per_s": rows / trigger_s if trigger_s else 0.0,
        "stream.state_rows": state[0]["numRowsTotal"] if state else 0,
        "stream.batch_p50_s": statistics.median(
            p["durationMs"]["triggerExecution"] / 1e3 for p in progress
        )
        if progress
        else 0.0,
        "stream.checkpoint_writes": writes[0],
    }, failures


def registry_layers(
    spark: SparkSession, workdir: str, seed: int
) -> tuple[dict[str, float], list[str]]:
    """One pass over every ``QUERIES`` entry, in registry order, each query
    written to a ``noop`` sink under its own job group and timed
    (``query.<name>.s``; each query's first execution, after the
    pipeline units have warmed the session). Row counts, observed on the
    write, are printed. ``readers.spread_scan_fired`` counts the table
    scans that ``spread_scan`` repartitioned (every generated table is one
    row group, fewer than the cores)."""
    from pyspark.sql import Observation

    from exome_qc_library_spark.entry_queries import QUERIES

    sf_dir = gen.write_registry(os.path.join(workdir, "registry"), seed)
    fired = [0]
    spread = readers.spread_scan

    def counted(df, *a, **k):
        out = spread(df, *a, **k)
        fired[0] += out is not df
        return out

    numbers, rows, failures = {}, {}, []
    readers.spread_scan = counted
    try:
        with counting_checkpoint_writes() as writes:
            for name, (fn, _) in QUERIES.items():
                obs = Observation(f"rows_{name}")
                with job_group(spark, f"registry|{name}"):
                    t0 = time.monotonic()
                    try:
                        df = fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("n"))
                        df.write.format("noop").mode("overwrite").save()
                        rows[name] = obs.get["n"]
                    except Exception as e:  # noqa: BLE001 — counted as a failure
                        failures.append(f"query {name}: {type(e).__name__}")
                    numbers[f"query.{name}.s"] = time.monotonic() - t0
    finally:
        readers.spread_scan = spread
    print("# registry rows: " + ", ".join(f"{k}={v}" for k, v in rows.items()))
    numbers["registry.pass_s"] = sum(numbers.values())
    # CheckpointStore.write calls made by the queries themselves
    numbers["registry.checkpoint_writes"] = writes[0]
    numbers["readers.spread_scan_fired"] = fired[0]
    return numbers, failures


WORKLOADS = {"crawl_cold": CrawlCold, "rescore_resume": RescoreResume}
PROBES = {"stream": stream_layers, "registry": registry_layers}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A layer
    a workload does not exercise reports 0 (e.g. s5 on rescore_resume)."""
    names = {"session.build_s": "s", "session.warmup_s": "s"}
    for st in STAGES:
        names[f"stage.{st}.wall_s"] = "s"
        names[f"stage.{st}.build_s"] = "s"
    for st in MATERIALIZED:
        names[f"stage.{st}.cpu_s"] = "s"
        names[f"stage.{st}.shuffle_bytes"] = "bytes"
        names[f"stage.{st}.spill_bytes"] = "bytes"
        names[f"checkpoint.{st}.write_s"] = "s"
        names[f"checkpoint.{st}.bytes"] = "bytes"
    names.update(
        {
            "checkpoint.flag_counts.write_s": "s",
            "checkpoint.read_s": "s",
            "resume.noop_s": "s",
            "dedup.candidate_pairs": "count",
            "dedup.verified_pairs": "count",
            "dedup.lsh_precision": "ratio",
            "dedup.clusters": "count",
            "kernel.minhash_sig_ns_per_doc": "ns",
            "kernel.langid_ns_per_doc": "ns",
            "kernel.ppl_ns_per_doc": "ns",
            "kernel.scrub_ns_per_doc": "ns",
            "s9.udf_batches": "count",
            "s9.task_s": "s",
            "s9.arrow_share": "ratio",
            "scrub.gate_pass_frac": "ratio",
            "scrub.hit_frac": "ratio",
            "scrub.hits_per_gate_pass": "ratio",
            "spark.failed_tasks": "count",
            "stream.add_batch_s": "s",
            "stream.planning_s": "s",
            "stream.wal_s": "s",
            "stream.input_rows_per_s": "1/s",
            "stream.state_rows": "count",
            "stream.batch_p50_s": "s",
            "stream.checkpoint_writes": "count",
            "registry.pass_s": "s",
            "registry.checkpoint_writes": "count",
            "readers.spread_scan_fired": "count",
            "host.steal_s": "s",
            "host.system_s": "s",
            "trace.overhead_s": "s",
        }
    )
    from exome_qc_library_spark.entry_queries import QUERIES

    names.update({f"query.{name}.s": "s" for name in QUERIES})
    return names
