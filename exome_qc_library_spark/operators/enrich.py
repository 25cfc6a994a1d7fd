"""S1 enrich — host/domain metadata join + metadata-driven flags.

Analog of the reference's sample-annotation stage:
``mt.annotate_cols(**ht[mt.s])`` joining TSV metadata keyed by sample id
(``/root/reference/shared/samples_annotation.py:10-27``, J1), with the
batch label used downstream for stratified QC
(``exome_qc/parse_arguments.py:137-139``).

The metadata table (host, source, spam_score, crawl_batch — FIXTURES.md
§2) is small relative to the corpus → always-hinted broadcast left join,
keyed by a host that must be unique in the metadata; missing metadata
is tolerated (NULL columns), and a ``spam_score`` threshold
flags whole hosts the way chimeras/contamination % flags samples
(``README.md:190-193``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.flags import add_flags
from ..functions.urltools import host_expr


def enrich_with_host_metadata(df: DataFrame, host_metadata: DataFrame) -> DataFrame:
    """Left join of per-host metadata onto the pages table on the ``host``
    of each ``url``, with the metadata hinted for broadcast (curated
    crawl-metadata tables are dimension-sized).

    Row count is preserved: each non-NULL host may appear at most once in
    ``host_metadata``, checked by one small job on that table before the
    join. A repeated host would otherwise repeat every doc on it."""
    # fail fast on metadata columns already present in df (round-6 review:
    # a double enrich — stage re-run, resume — would otherwise produce
    # duplicate column names that die later as AMBIGUOUS_REFERENCE or
    # silently resolve to the stale copy); union_cols below enforces the
    # same rule for the generic column-union
    clash = (set(df.columns) & set(host_metadata.columns)) - {"host"}
    if clash:
        raise ValueError(
            f"enrich_with_host_metadata: metadata columns {sorted(clash)} "
            "already exist in the input; drop or rename them first"
        )
    # a NULL host never matches the equi-join, so only non-NULL repeats
    # multiply rows; the table is broadcast anyway, so its repeats fit
    # on the driver
    repeated = sorted(
        r[0]
        for r in host_metadata.filter(F.col("host").isNotNull())
        .groupBy("host")
        .count()
        .filter(F.col("count") > 1)
        .select("host")
        .collect()
    )
    if repeated:
        raise ValueError(
            f"enrich_with_host_metadata: host_metadata repeats hosts {repeated}; "
            "each host must appear once, or the join repeats every doc on it"
        )
    out = df.withColumn("host", host_expr(F.col("url")))
    return out.join(F.broadcast(host_metadata), "host", "left")


def union_cols(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """J8 ``union_cols`` analog: combine two tables' column sets keyed by
    the row key (Hail's column-wise MatrixTable union). Pure inner
    equi-join; overlapping non-key columns from ``b`` get ``_r``. Broadcast is
    left to AQE/statistics — either side may be the big one.

    Reference: ``mt.union_cols`` usage in the merged-callset flow
    (SURVEY.md §2.3 J8).
    """
    overlap = (set(a.columns) & set(b.columns)) - {key}
    renamed = b
    for c in overlap:
        target = f"{c}_r"
        # the rename must not silently shadow an existing column — duplicate
        # names make every later by-name select ambiguous at a distance
        if target in a.columns or target in b.columns:
            raise ValueError(
                f"union_cols: renaming overlapping column {c!r} to {target!r} "
                "collides with an existing column; rename it first"
            )
        renamed = renamed.withColumnRenamed(c, target)
    return a.join(renamed, key)


# the host-metadata spam_score above which a host's docs are flagged
MAX_SPAM_SCORE = 0.8


def flag_spam_hosts(df: DataFrame) -> DataFrame:
    """Flag docs on hosts whose metadata spam_score exceeds
    ``MAX_SPAM_SCORE`` as ``spam_host`` in ``low_pass_failing_qc``.
    NULL score (host absent from metadata / 'NA' token) is NOT flagged —
    matching the reference's defined-guard joins, not the missing-metric
    rule (absence of optional metadata is normal)."""
    return add_flags(
        df, "low_pass_failing_qc", {"spam_host": F.col("spam_score") > MAX_SPAM_SCORE}
    )
