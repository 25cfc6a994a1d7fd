"""spark-submit entry point for the full QC pipeline.

Cluster usage (the north rule's deployment shape):

    spark-submit --master <cluster> \
        --py-files dist/exome_qc_library_spark.zip \
        tools/submit_pipeline.py \
        --input /path/pages_parquet --checkpoints /path/ckpt \
        --output /path/final [--synthesize N]

In this sandbox ``--master local[N]`` stands in for the cluster; the
job code is identical either way (SparkSession comes from the submit
context, not from session.py).

Prints one JSON line: the final table's rows, the wall seconds and the
per-stage block of ``Pipeline.report()``, whose full report is written
as ``report.json`` in the checkpoint directory.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="pages parquet dir")
    ap.add_argument("--synthesize", type=int, default=0, help="generate N pages instead of --input")
    ap.add_argument("--checkpoints", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pages_qc_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from exome_qc_library_spark.plans.quality_pipeline import (
        build_quality_pipeline,
        summarize_verdicts,
    )
    from exome_qc_library_spark.sources.checkpoint import CheckpointStore
    from exome_qc_library_spark.sources.sinks import write_final_table
    from exome_qc_library_spark.synth import synthesize_pages

    if args.synthesize:
        pages = synthesize_pages(spark, n_docs=args.synthesize, seed=args.seed)
    else:
        pages = spark.read.parquet(args.input)

    t0 = time.monotonic()
    pipe = build_quality_pipeline(CheckpointStore(spark, args.checkpoints))
    out = pipe.run(pages)
    write_final_table(out, args.output, partition_by=("lang_id",))
    n = spark.read.parquet(args.output).count()
    seconds = round(time.monotonic() - t0, 2)
    # per-stage rows, resume state, timing and telemetry; also written as
    # report.json next to the checkpoints
    report = pipe.report()
    print(json.dumps({"rows": n, "seconds": seconds, "stages": report["stages"]}))
    summarize_verdicts(out).show(20, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
