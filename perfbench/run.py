"""QC-engine benchmark: one workload, one process, ``local[4]``.

    python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets up the Spark session once, cold (``setup_s``: JVM launch,
session build and the workload's prime, a cold pipeline run), then runs
units back to back until ``--seconds`` have passed and checks every
unit's output. The last line of stdout is one JSON object: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (traced and untraced units alternate, so the run
also reports its own tracing overhead, and the workload's probe runs
after the units). Lines above it, starting with ``#``, record the
measured input shares, host steal and system CPU, output digests and
registry row counts.

Everything the run writes goes under ``.bench_work/`` (removed at exit)
and, for traced runs, ``.bench_traces/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 170  # a hung run aborts before three minutes
DRIVER_MEM = "2g"  # the session default (48g) does not fit a 15 GB host
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "executor_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _deploy_env(work: str) -> None:
    """Deployment settings the session reads at JVM launch: heap size,
    scratch dirs inside the checkout (no hsperfdata files in the system
    temp dir either), and PYTHONPATH so the Python workers can import the
    engine."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_CPUS": str(CORES),
            # the caller's own launch-time flags (e.g. heap pre-touch) stay
            "SPARK_GRAFT_JAVA_OPTS": " ".join(
                o for o in (os.environ.get("SPARK_GRAFT_JAVA_OPTS"), java_opts) if o
            ),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def _setup(work: str, wl_cls, seed: int):
    """Launch the JVM and build the session, then generate the workload's
    inputs (untimed) and warm the session with the workload's prime: a
    cold pipeline run, which starts the Python workers, trains the scorer
    models they load at import and compiles every stage's code. Done once
    per run: a cold set-up is ~25-45 s on a 4-core host, so ``setup_s`` is
    this one cold sample and its steadiness comes from the median over
    runs. Returns the session, the workload, its measured input shares and
    the set-up times."""
    from exome_qc_library_spark.session import build_session

    from perfbench.probes import StatusStore

    t0 = time.monotonic()
    spark = build_session(
        app_name="perfbench",
        parallelism=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    build_s = time.monotonic() - t0
    wl = wl_cls(spark, work, seed, StatusStore(spark))
    shares = wl.prepare()
    t1 = time.monotonic()
    wl.prime()
    warmup_s = time.monotonic() - t1
    print(f"# setup: build {build_s:.2f}s + warm-up (prime) {warmup_s:.2f}s")
    setup = {"setup_s": build_s + warmup_s, "session.build_s": build_s, "session.warmup_s": warmup_s}
    return spark, wl, shares, setup


def _end_to_end(units, setup: dict, peak_mb: float, wl) -> dict[str, float]:
    plain = [u for u in units if not u.traced]
    wall = statistics.median(u.wall_s for u in plain)
    return {
        "setup_s": setup["setup_s"],
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "executor_cpu_s": statistics.median(u.totals.cpu_s for u in plain),
        "peak_rss_mb": peak_mb,
    }


def _per_layer(units, setup: dict, host: dict, wl, spark, work: str, args) -> tuple[dict, list]:
    """Per-layer numbers: medians over the traced units, the workload's
    probe (streaming or registry), the kernels on the workload's own docs,
    and the tracing overhead (traced minus untraced unit wall time, both at
    the same settings). Returns the metrics and the probe's check
    failures."""
    from perfbench import kernels
    from perfbench.workloads import PROBES

    traced = [u for u in units if u.traced]
    plain = [u for u in units if not u.traced]
    layers = {k: statistics.median(u.layers[k] for u in traced) for k in traced[0].layers}
    numbers, failures = PROBES[wl.probe](spark, work, args.seed)
    print(f"# {wl.probe} probe: failures={failures}")
    layers.update(numbers)
    texts = wl.sample_texts(kernels.BATCH_DOCS)
    layers.update(kernels.numpy_kernels(texts))
    layers["kernel.scrub_ns_per_doc"] = kernels.scrub_kernel(wl.pages())
    # s9 task time not spent in the two scorer kernels: Arrow transfer,
    # per-batch setup and the JVM side of the stage. Task time, not stage
    # CPU: the status store's CPU time is the JVM's and leaves out the
    # Python workers, where the kernels run.
    task_s = layers["s9.task_s"]
    kernel_s = (
        (layers["kernel.langid_ns_per_doc"] + layers["kernel.ppl_ns_per_doc"])
        * wl.n_docs
        / 1e9
    )
    layers["s9.arrow_share"] = (task_s - kernel_s) / task_s if task_s else 0.0
    layers.update(setup)
    layers["spark.failed_tasks"] = sum(u.totals.failed_tasks for u in units)
    layers["host.steal_s"] = host["steal"]
    layers["host.system_s"] = host["system"]
    layers["trace.overhead_s"] = statistics.median(u.wall_s for u in traced) - statistics.median(
        u.wall_s for u in plain
    )
    traces = os.path.join(ROOT, ".bench_traces")
    os.makedirs(traces, exist_ok=True)
    wl.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    return layers, failures


def run(args, work: str) -> dict:
    from perfbench.probes import RssSampler, host_cpu, host_cpu_delta
    from perfbench.workloads import WORKLOADS, per_layer_names

    # Spark is stopped by the caller, on every path out (_stop_spark)
    with RssSampler() as rss:
        spark, wl, shares, setup = _setup(work, WORKLOADS[args.workload], args.seed)
        print("# input shares: " + ", ".join(f"{k}={v:.4f}" for k, v in shares.items()))

        rss.reset()
        cpu0 = host_cpu()
        units, start = [], time.monotonic()
        while True:
            # a traced run alternates traced and untraced units, so it
            # measures its own tracing overhead
            units.append(wl.unit(len(units), traced=bool(args.trace) and len(units) % 2 == 0))
            elapsed = time.monotonic() - start
            if elapsed >= args.seconds and (not args.trace or len(units) >= 2):
                break
        host = host_cpu_delta(cpu0)
        peak_mb = rss.peak_bytes / 2**20
        print(
            f"# host cpu over {elapsed:.1f}s: steal_s={host['steal']:.2f} "
            f"system_s={host['system']:.2f} user_s={host['user']:.2f}"
        )
        for i, u in enumerate(units):
            print(
                f"# unit {i}: wall_s={u.wall_s:.3f} traced={u.traced} "
                f"digest={u.layers.get('digest')} failures={u.failures}"
            )
        failed = sum(bool(u.failures) for u in units)
        attempted = len(units)
        if args.trace:
            layers, probe_failures = _per_layer(units, setup, host, wl, spark, work, args)
            failed += bool(probe_failures)
            attempted += 1
            units_of = per_layer_names()
            # a layer the workload does not exercise reports 0
            metrics = {k: layers.get(k, 0.0) for k in units_of}
        else:
            units_of = END_TO_END
            metrics = _end_to_end(units, setup, peak_mb, wl)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
        }


def _stop_spark() -> None:
    """Stop Spark and every process this run started, and wait for each to
    end. ``spark.stop()`` keeps the gateway JVM alive until this process
    exits, and the JVM and the Python workers it forked would then end
    on their own, after it; so end them here, on every path out."""
    from perfbench.probes import descendants, stop_processes

    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc = pyspark.SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):
                sc.stop()
        gateway = pyspark.SparkContext._gateway
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()  # the JVM ends when its stdin closes
            pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None
    left = stop_processes(descendants())
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")

    def _terminated(*_):
        raise SystemExit(128 + signal.SIGTERM)  # so the cleanup below runs

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(RUN_LIMIT_S)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    _deploy_env(work)
    from perfbench.probes import become_subreaper  # needs ROOT on sys.path

    become_subreaper()
    try:
        try:
            import exome_qc_library_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        result = run(args, work)
    finally:
        signal.alarm(0)
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
