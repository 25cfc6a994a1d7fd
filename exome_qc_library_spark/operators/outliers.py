"""S6 — iterative global z-score outlier trimming (PCA-outlier analog).

Mirrors the reference's iterative PCA outlier loop: compute stats on the
current survivor set, trim mean±k·σ, repeat until no change or max_iter
(``/root/reference/shared/samples_qc.py:131-257``; max_iter guard
``:176-180``; stats cutoffs ``:218-224``, W3 in SURVEY.md §2.5).

Each round is ONE aggregation job over all measures (the reference runs
one per measure). The loop is driver-side control flow over lazily-built
plans; survivor state is a boolean column, never a shrinking table, so
the final output keeps every row (annotate-don't-drop).

Scale shape (round-2 VERDICT #3 rewrite): the loop aggregates over a
NARROW (measures-only) projection checkpointed ONCE — the full table
(including text payloads) is never materialized per round. Because each
round's cutoffs are driver-side literals, the final survivor predicate is
a pure expression (the conjunction of every round's ``¬outlier`` test),
so the flag applies to the original table with no join-back and no extra
shuffle: per-round cost is one tiny aggregation over the narrow table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.flags import add_flags

OUTLIER_MEASURES: tuple[str, ...] = ("word_count", "mean_word_len", "stopword_density")
OUTLIER_K_SIGMA = 4.0
OUTLIER_MAX_ITER = 3


def flag_iterative_outliers(
    df: DataFrame,
    measures: tuple[str, ...] = OUTLIER_MEASURES,
    k_sigma: float = OUTLIER_K_SIGMA,
    max_iter: int = OUTLIER_MAX_ITER,
    flag_col: str = "final_failing_qc",
    tag: str = "metric_outlier",
) -> DataFrame:
    # measures-only projection: the only thing the loop ever materializes
    narrow = df.select(*measures).localCheckpoint(eager=True)
    live: Column = F.lit(True)
    prev_n: int | None = None
    for _ in range(max_iter):
        # ONE conditional aggregation per round: survivor stats AND the
        # convergence probe (n_live) in the same job — an unchanged survivor
        # count means the previous cutoffs flagged nothing, so this round's
        # stats (hence cutoffs) would repeat verbatim: stop without another
        # pass. Halves the serial driver round-trips per iteration.
        stats = narrow.agg(
            F.count_if(live).alias("n_live"),
            *[F.avg(F.when(live, F.col(m))).alias(f"mu_{m}") for m in measures],
            *[F.stddev_samp(F.when(live, F.col(m))).alias(f"sd_{m}") for m in measures],
        ).collect()[0]
        if prev_n is not None and stats["n_live"] == prev_n:
            break
        prev_n = stats["n_live"]
        cond = F.lit(False)
        for m in measures:
            mu, sd = stats[f"mu_{m}"], stats[f"sd_{m}"]
            # noise-floor guard, not just sd == 0: a near-constant measure
            # has σ at float-rounding scale, and ANY ulp-level difference
            # from the mean would mass-flag (same eps rule as
            # host_qc.host_outlier_stats' degenerate-σ guard)
            if mu is None or sd is None or sd <= 1e-9 * max(abs(mu), 1.0):
                continue
            cond = cond | (F.abs(F.col(m) - F.lit(mu)) > F.lit(k_sigma * sd))
        live = live & ~F.coalesce(cond, F.lit(False))
    # cutoffs are literals → the survivor predicate transfers verbatim to
    # the full table: annotate in one pass, zero joins
    return add_flags(df, flag_col, {tag: ~live})
