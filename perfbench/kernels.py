"""The three numpy kernels, timed in this process on one in-memory batch
of the workload's own texts (no Spark, no Arrow), plus the s11 scrub
expressions over a cached text column of the workload's shard."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH_DOCS = 2048  # = spark.sql.execution.arrow.maxRecordsPerBatch
REPEATS = 3


def _ns_per_doc(fn, n: int) -> float:
    fn()  # first call trains or loads the model
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - t0)
    return statistics.median(times) / n


def numpy_kernels(texts: pd.Series) -> dict[str, float]:
    from exome_qc_library_spark.functions.hashing import _mh_params
    from exome_qc_library_spark.operators.dedup import _minhash_sig_batch
    from exome_qc_library_spark.operators.langid import _score_batch
    from exome_qc_library_spark.operators.perplexity import _ppl_batch

    n = len(texts)
    # base shingle hashes: one value in [0, 2^31) per 3-word shingle
    rng = np.random.default_rng(0)
    vals = [
        rng.integers(0, 2**31 - 1, max(0, len(t.split()) - 2), dtype=np.int64) for t in texts
    ]
    params = _mh_params(64, 42)
    a = np.array([p[0] for p in params], dtype=np.int64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.int64)[:, None]
    chunk = max(1, 2_097_152 // 64)
    return {
        "kernel.minhash_sig_ns_per_doc": _ns_per_doc(
            lambda: _minhash_sig_batch(vals, a, b, chunk), n
        ),
        "kernel.langid_ns_per_doc": _ns_per_doc(lambda: _score_batch(texts), n),
        "kernel.ppl_ns_per_doc": _ns_per_doc(lambda: _ppl_batch(texts), n),
    }


def scrub_kernel(pages: DataFrame) -> float:
    """ns per doc of ``scrub_expr`` + ``pii_hits_expr`` over a cached text
    column, written to a noop sink."""
    from exome_qc_library_spark.operators.scrub import pii_hits_expr, scrub_expr

    text = pages.select("text").cache()
    n = text.count()
    query = text.select(scrub_expr(F.col("text")).alias("s"), pii_hits_expr(F.col("text")).alias("h"))

    def run():
        query.write.format("noop").mode("overwrite").save()

    try:
        return _ns_per_doc(run, n)
    finally:
        text.unpersist()
