"""S10 — per-segment (language/source) threshold QC.

Analog of the reference's phenotype-stratified variant QC: thresholds
evaluated inside each subgroup, with per-subgroup aggregates as the
inputs (``/root/reference/shared/variant_qc.py:902-981``; filtered
aggregation A7, ``shared/variant_qc.py:263-307``).

Implementation: one groupBy over the segment key for the segment stats
(map-side partial agg), broadcast back, pure-expression flags — two jobs
total regardless of segment count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.flags import apply_flags, flag_update
from ..functions.memo import per_jvm

SEGMENT_K_SIGMA = 4.0
MIN_SEGMENT_N = 20


def flag_segment_outliers(df: DataFrame) -> DataFrame:
    """Flag ``segment_outlier`` in ``final_failing_qc`` for docs whose
    ``stopword_density`` lies more than ``SEGMENT_K_SIGMA`` segment σ from
    their ``lang_id`` segment's mean, in segments of at least
    ``MIN_SEGMENT_N`` docs."""
    seg_aggs, update = _segment_exprs(SEGMENT_K_SIGMA, MIN_SEGMENT_N)
    seg = df.groupBy("lang_id").agg(*seg_aggs).filter(F.col("lang_id").isNotNull())
    out = df.join(F.broadcast(seg), "lang_id", "left")
    out = apply_flags(out, "final_failing_qc", update)
    return out.drop("__seg_mu", "__seg_sd", "__seg_n")


@per_jvm
def _segment_exprs(k_sigma: float, min_segment_n: int):
    """The segment aggregates and the ``segment_outlier`` flag update."""
    seg_aggs = (
        F.avg("stopword_density").alias("__seg_mu"),
        F.stddev_samp("stopword_density").alias("__seg_sd"),
        F.count("stopword_density").alias("__seg_n"),
    )
    pred = (
        (F.col("__seg_n") >= min_segment_n)
        & (F.col("__seg_sd") > 0)
        & (
            F.abs(F.col("stopword_density") - F.col("__seg_mu"))
            > k_sigma * F.col("__seg_sd")
        )
    )
    # missing_inputs: a NULL measure or NULL segment must yield the
    # missing_<tag> tag, not a silent pass (round-6 review — the same
    # invariant hard_filters honors for this very metric); join-derived
    # NULL stats (segment below min_segment_n) are NOT missing inputs and
    # still pass
    update = flag_update(
        "final_failing_qc",
        {"segment_outlier": pred},
        {"segment_outlier": [F.col("stopword_density"), F.col("lang_id")]},
    )
    return seg_aggs, update
