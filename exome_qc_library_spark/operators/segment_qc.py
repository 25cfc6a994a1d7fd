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

from ..functions.flags import add_flags

SEGMENT_K_SIGMA = 4.0
MIN_SEGMENT_N = 20


def flag_segment_outliers(df: DataFrame) -> DataFrame:
    """Flag ``segment_outlier`` in ``final_failing_qc`` for docs whose
    ``stopword_density`` lies more than ``SEGMENT_K_SIGMA`` segment σ from
    their ``lang_id`` segment's mean, in segments of at least
    ``MIN_SEGMENT_N`` docs."""
    seg = (
        df.groupBy("lang_id")
        .agg(
            F.avg("stopword_density").alias("__seg_mu"),
            F.stddev_samp("stopword_density").alias("__seg_sd"),
            F.count("stopword_density").alias("__seg_n"),
        )
        .filter(F.col("lang_id").isNotNull())
    )
    out = df.join(F.broadcast(seg), "lang_id", "left")
    pred = (
        (F.col("__seg_n") >= MIN_SEGMENT_N)
        & (F.col("__seg_sd") > 0)
        & (
            F.abs(F.col("stopword_density") - F.col("__seg_mu"))
            > SEGMENT_K_SIGMA * F.col("__seg_sd")
        )
    )
    # missing_inputs: a NULL measure or NULL segment must yield the
    # missing_<tag> tag, not a silent pass (round-6 review — the same
    # invariant hard_filters honors for this very metric); join-derived
    # NULL stats (segment below min_segment_n) are NOT missing inputs and
    # still pass
    out = add_flags(
        out,
        "final_failing_qc",
        {"segment_outlier": pred},
        {"segment_outlier": [F.col("stopword_density"), F.col("lang_id")]},
    )
    return out.drop("__seg_mu", "__seg_sd", "__seg_n")
