"""S11 — final keep/drop verdict as an auditable conjunction of flags.

Mirrors the reference's terminal semantics: a record passes iff every
fail-flag accumulator is empty (``hl.len(mt.failing)==0`` filters,
``/root/reference/shared/samples_qc.py:76-81``), and the decision is a
*column*, not a drop — the full annotated table is the product
(README.md:51-53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.flags import keep_expr

FLAG_COLS: tuple[str, ...] = ("low_pass_failing_qc", "final_failing_qc")


def with_verdict(df: DataFrame) -> DataFrame:
    present = [c for c in FLAG_COLS if c in df.columns]
    return df.withColumn("keep", keep_expr(*present))
