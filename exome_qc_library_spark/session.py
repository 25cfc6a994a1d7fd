"""SparkSession factory tuned for this engine.

Mirrors the reference's single ``hl.init()`` entry point
(``/root/reference/exome_qc/exome_qc.py:24``) but with Spark-native
tuning: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow transport on for the pandas-UDF stages, shuffle
partitions sized to cores for local mode, UTC session timezone so
results are comparable against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _jvm_not_launched() -> bool:
    """True iff the py4j gateway JVM does not exist yet. getActiveSession()
    is the WRONG probe for launch-time-only JVM options: after
    spark.stop() the session is gone but the gateway JVM survives, so a
    second build_session would set extraJavaOptions that silently never
    apply (round-6 review) — the A/B they configure would be attributed
    to a flag that never took effect."""
    from pyspark import SparkContext

    return SparkContext._gateway is None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of ``MemTotal`` capped at 48g.
    In local mode the driver heap IS the executor heap (an 8g heap at
    local[32] GC-thrashed on a 128 GiB host); the other half is left to the
    Python workers (a fixed 48g heap on a 15 GiB host was OOM-killed)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kib // 2 // 1024, 48 * 1024)}m"


def build_session(
    app_name: str = "exome_qc_library_spark",
    parallelism: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession for local[N] with scale-aware defaults.

    On a real cluster the same confs apply; only ``master`` changes
    (``spark-submit --master ... --py-files dist.zip``).
    """
    n = parallelism or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # shuffle partitions ~ cores in local mode; a 1000-executor run
        # would set this to ~2-3x total cores instead.
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large text values → keep Arrow batches bounded (SURVEY.md §4.3)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", default_driver_memory())
        # checkpoint/export parquet codec. Text-heavy tables are where the
        # bytes are; on a bandwidth-bound host a denser codec trades cheap
        # CPU for the scarce resource (measured A/B in BENCH.md round 5).
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"),
        )
        .config("spark.ui.enabled", "false")
    )
    # extra JVM flags for the driver (= the executor JVM in local mode),
    # applied only when this process is about to LAUNCH the JVM — they are
    # launch-time-only options and cannot affect an already-running gateway.
    # Primary use: -XX:+AlwaysPreTouch (pre-fault the heap at startup so
    # steady-state execution stops taking page faults under mmap_lock — the
    # round-5 kernel-storm diagnosis, BENCH.md).
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts and _jvm_not_launched():
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
