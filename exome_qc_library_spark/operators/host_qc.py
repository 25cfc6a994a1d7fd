"""S8 — per-host metrics + batch-stratified outlier flags (single pass).

Analog of the reference's sample QC: per-sample composite metrics
(``hl.sample_qc``, ``/root/reference/shared/samples_qc.py:277``) then
**batch-stratified mean±k·σ outlier flagging** — the reference loops
Python over measures × batches, each iteration a separate filtered
aggregation job (``shared/samples_qc.py:432-486``, A13 in SURVEY.md);
here the same statistics come from ONE grouped aggregation keyed by the
batch column, so the whole stage is O(1) Spark jobs regardless of the
number of batches and measures (SURVEY.md §2.4 A13 rewrite).

Scale notes (round-2 rewrite, VERDICT.md finding #3):
* per-host aggregation uses a two-level (salted partial → final)
  aggregate so one domain-heavy host cannot straggle a reducer;
* the per-batch μ/σ over host means was previously an analytic window —
  with ``batch_col=None`` that collapsed the whole host table into ONE
  partition (``W.partitionBy(F.lit(1))`` is constant-folded to an
  unpartitioned WindowExec). At 100 TB the host table is 10⁷–10⁸ rows,
  so it is now a plain ``groupBy(batch).agg()`` producing a tiny
  (#batches × measures) stats table that is **broadcast** back onto the
  host metrics — no window, no single-partition sort, two shuffles of
  the small host table only, never the doc table;
* the outlier-host set is a k·σ tail, so it is always hinted for
  broadcast back onto the docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.flags import apply_flags, flag_update
from ..functions.memo import per_jvm
from ..functions.urltools import host_expr, salt_expr

HOST_MEASURES: tuple[str, ...] = ("word_count", "symbol_ratio", "stopword_density")


def host_metrics(
    df: DataFrame,
    url_col: str = "url",
    batch_col: str | None = None,
    measures: tuple[str, ...] = HOST_MEASURES,
) -> DataFrame:
    """Per-host metric table via salted two-level aggregation.

    Partial agg on (host, salt of 16) — map-side combine bounds the skewed key —
    then a tiny final agg on host recombines counts/sums exactly. When
    ``batch_col`` is given it is carried as a grouping key (hosts are
    batch-homogeneous in the crawl metadata model; a host appearing in two
    batches yields one metrics row per (host, batch), matching the
    reference's per-batch sample strata, ``shared/samples_qc.py:408-430``).

    Emits per measure: mean, sample stddev, min, max (round-4 VERDICT #7
    — the reference's per-sample QC struct carries dispersion and
    extreme-value fields consumed downstream,
    ``shared/samples_qc.py:218-224,277``). The stddev recombines exactly
    from sum-of-squares partials — ``(Σx² − (Σx)²/n)/(n−1)`` over the
    salted partials — so the stage stays O(1) jobs; single-observation
    hosts yield NULL (sample variance undefined), and the numerator is
    clamped at 0 against float cancellation on near-constant measures.
    """
    keys = ["host"] + ([batch_col] if batch_col else [])
    salted, partial_aggs, final_aggs = _host_metric_exprs(url_col, tuple(measures))
    partial = df.withColumns(salted).groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


@per_jvm
def _host_metric_exprs(url_col: str, measures: tuple[str, ...]):
    """:func:`host_metrics`' constant Columns: the ``host`` and ``__salt``
    keys, the partial aggregates per (host, salt) and the final ones per
    host."""
    salted = {"host": host_expr(F.col(url_col)), "__salt": salt_expr(F.col(url_col), 16)}
    partial = (
        F.count(F.lit(1)).alias("n"),
        *[F.sum(m).alias(f"sum_{m}") for m in measures],
        *[F.sum(F.col(m).cast("double") * F.col(m)).alias(f"ssq_{m}") for m in measures],
        *[F.count(m).alias(f"cnt_{m}") for m in measures],
        *[F.min(m).alias(f"pmin_{m}") for m in measures],
        *[F.max(m).alias(f"pmax_{m}") for m in measures],
    )

    def _sd(m: str):
        n = F.sum(f"cnt_{m}")
        s = F.sum(f"sum_{m}").cast("double")
        q = F.sum(f"ssq_{m}")
        return F.when(
            n > 1, F.sqrt(F.greatest(q - s * s / n, F.lit(0.0)) / (n - 1))
        )

    final = (
        F.sum("n").alias("n_docs"),
        *[
            (F.sum(f"sum_{m}") / F.sum(f"cnt_{m}")).alias(f"mean_{m}")
            for m in measures
        ],
        *[_sd(m).alias(f"sd_{m}") for m in measures],
        *[F.min(f"pmin_{m}").alias(f"min_{m}") for m in measures],
        *[F.max(f"pmax_{m}").alias(f"max_{m}") for m in measures],
    )
    return salted, partial, final


def host_outlier_stats(
    hm: DataFrame,
    batch_col: str | None = None,
    measures: tuple[str, ...] = HOST_MEASURES,
) -> DataFrame:
    """μ/σ of each host-mean measure, per batch (or globally): one grouped
    aggregation producing a #batches-row table — the broadcast side."""
    aggs = _host_stat_aggs(tuple(measures))
    if batch_col:
        return hm.groupBy(batch_col).agg(*aggs)
    return hm.agg(*aggs)


@per_jvm
def _host_stat_aggs(measures: tuple[str, ...]):
    # across-host σ is aliased sigma_ (not sd_): host_metrics now carries a
    # WITHIN-host sd_{m} column, and the broadcast join back onto it must
    # not collide
    return tuple(F.avg(f"mean_{m}").alias(f"mu_{m}") for m in measures) + tuple(
        F.stddev_samp(f"mean_{m}").alias(f"sigma_{m}") for m in measures
    )


def flag_host_outliers(
    df: DataFrame,
    url_col: str = "url",
    batch_col: str | None = None,
    measures: tuple[str, ...] = HOST_MEASURES,
    k_sigma: float = 4.0,
    flag_col: str = "final_failing_qc",
) -> DataFrame:
    """Flag docs on hosts whose mean measure is > k·σ from the batch mean.

    Plan shape: groupBy host (salted) → groupBy batch (tiny) → broadcast
    stats join onto host metrics → broadcast outlier-host set join onto
    the docs. The doc table is never shuffled and no WindowExec appears.

    The outlier-host set is a k·σ TAIL of the host-mean distribution —
    ~1e-4 of hosts at the default k=4 under anything unimodal — so the
    set is always hinted for broadcast, unlike the decontamination hit
    set (which can be a majority).

    When ``batch_col`` is set, flagging is WITHIN-STRATUM: the outlier set
    keys on (host, batch) and docs join back on both, so a host that is an
    outlier in one batch does not flag its docs in other batches — the
    reference gates on ``cols[batch_col] == batch``
    (``shared/samples_qc.py:466-472``; round-2 VERDICT #4 / ADVICE).
    """
    hm = host_metrics(df, url_col=url_col, batch_col=batch_col, measures=measures)
    stats = host_outlier_stats(hm, batch_col=batch_col, measures=measures)
    if batch_col:
        # NULL-SAFE batch equality (round-6 review): plain equi-joins drop
        # NULL batch keys on the floor (NULL != NULL), so hosts with
        # missing batch metadata — a LEFT-joined enrich leaves exactly
        # those — silently never matched their stats row and could never
        # be flagged, however extreme. The NULL batch is its own stratum.
        scored = hm.join(
            F.broadcast(stats.withColumnRenamed(batch_col, "__stats_batch")),
            F.col(batch_col).eqNullSafe(F.col("__stats_batch")),
            "left",
        ).drop("__stats_batch")
    else:
        scored = hm.crossJoin(F.broadcast(stats))
    outlier_cond, qc_host, join_cond, update = _host_outlier_exprs(
        url_col, batch_col, tuple(measures), k_sigma, flag_col
    )
    bad_keys = ["host"] + ([batch_col] if batch_col else [])
    bad_hosts = (
        scored.withColumn("__bad", outlier_cond)
        .filter(F.col("__bad"))
        .select(*bad_keys)
        .distinct()
    )
    bad = F.broadcast(bad_hosts.withColumn("__host_outlier", F.lit(True)))
    # join back on an INTERNAL derived-host column (round-6 review): the
    # outlier keys use host_expr normalization, so a caller-supplied
    # `host` column (possibly normalized differently) must be neither
    # consulted nor clobbered, and the stage output schema must not
    # silently gain a derived column
    withq = df.withColumn("__qc_host", qc_host)
    bad2 = bad.withColumnRenamed("host", "__bad_host")
    if batch_col:
        bad2 = bad2.withColumnRenamed(batch_col, "__bad_batch")
    out = withq.join(bad2, join_cond, "left")
    out = apply_flags(out, flag_col, update)
    return out.drop("__host_outlier", "__qc_host", "__bad_host", "__bad_batch")


@per_jvm
def _host_outlier_exprs(
    url_col: str, batch_col: str | None, measures: tuple[str, ...], k_sigma: float, flag_col: str
):
    """:func:`flag_host_outliers`' constant Columns: the outlier test of a
    scored host row, the docs' derived host, the join condition onto the
    outlier keys and the flag update."""
    outlier_cond = None
    for m in measures:
        mu, sd = F.col(f"mu_{m}"), F.col(f"sigma_{m}")
        # degenerate-σ guard: a measure that is (near-)constant across hosts
        # has σ at float-noise scale, and ANY ulp-level difference between
        # host means would flag — require σ meaningfully above the noise
        # floor of the mean before the k·σ test applies
        eps = F.lit(1e-9) * F.greatest(F.abs(mu), F.lit(1.0))
        cond = F.coalesce(
            (sd > eps) & (F.abs(F.col(f"mean_{m}") - mu) > k_sigma * sd),
            F.lit(False),
        )
        outlier_cond = cond if outlier_cond is None else (outlier_cond | cond)
    join_cond = F.col("__qc_host") == F.col("__bad_host")
    if batch_col:
        # NULL-safe on the batch key, same rationale as the stats join
        join_cond = join_cond & F.col(batch_col).eqNullSafe(F.col("__bad_batch"))
    update = flag_update(
        flag_col, {"host_outlier": F.coalesce(F.col("__host_outlier"), F.lit(False))}
    )
    return outlier_cond, host_expr(F.col(url_col)), join_cond, update
