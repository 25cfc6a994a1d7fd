"""Freeze golden fixtures from a pinned pipeline run (FIXTURES.md §5).

Writes tests/goldens/{verdicts,scrubbed,flag_counts}.parquet from the
deterministic synth pages table (seed 42, 300 docs — same fixture the
test suite uses). tests/test_goldens.py asserts keep/drop F1 >= 0.99,
byte-identical scrubbed text per url and the s11_verdict manifest's
low_pass_failing_qc flag counts against these.

Regenerate ONLY on an intentional semantic change:
    PYTHONPATH=/root/repo python tools/freeze_goldens.py
then review the diff in the committed goldens.
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from exome_qc_library_spark.session import build_session
from exome_qc_library_spark.synth import synthesize_pages
from exome_qc_library_spark.sources.checkpoint import CheckpointStore
from exome_qc_library_spark.plans.quality_pipeline import build_quality_pipeline
from exome_qc_library_spark.functions.flags import flag_count_df
import pyspark.sql.functions as F

GOLD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "goldens")


def main() -> None:
    spark = build_session(app_name="freeze_goldens", parallelism=8)
    pages = synthesize_pages(spark, n_docs=300, seed=42)
    ck = tempfile.mkdtemp()
    out = build_quality_pipeline(CheckpointStore(spark, ck)).run(pages)
    os.makedirs(GOLD, exist_ok=True)
    out.select(
        "url",
        "keep",
        F.array_sort("low_pass_failing_qc").alias("low_pass_failing_qc"),
        F.array_sort("final_failing_qc").alias("final_failing_qc"),
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(GOLD, "verdicts.parquet"))
    out.select("url", "scrubbed_text").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(GOLD, "scrubbed.parquet")
    )
    flag_count_df(out, "low_pass_failing_qc").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(GOLD, "flag_counts.parquet")
    )
    n = out.count()
    shutil.rmtree(ck)  # only after the last action on `out`
    print(f"goldens frozen: {n} rows -> {GOLD}")
    spark.stop()


if __name__ == "__main__":
    main()
