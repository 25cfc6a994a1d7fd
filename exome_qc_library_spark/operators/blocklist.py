"""S2 — blocklist flags: anti-join + substring rules.

Mirrors the reference's sample-removal stage:
* anti-join against a removal list (``mt.anti_join_cols(rm_list)``,
  ``/root/reference/exome_qc/exome_qc.py:134-138``, J2) — here as a FLAG,
  not a drop, to preserve the annotate-don't-drop invariant;
* substring removal (``--sample_removal_strings``,
  ``exome_qc/exome_qc.py:143-148``, P2) via a broadcast literal list,
  like ``hl.literal(list).contains(mt.s)`` (J3, ``:271,323``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.flags import add_flags
from ..functions.urltools import host_expr


def flag_blocklisted(df: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Flag rows whose ``url`` OR its host appears in the (broadcast)
    blocklist's ``url_or_host`` column, as ``blocklisted`` in
    ``low_pass_failing_qc``.

    Two broadcast EQUI left joins against the DISTINCT list (≤1 match per
    row per join, so no row multiplication) instead of an OR-condition
    join + dropDuplicates — the old shape silently collapsed legitimate
    duplicate url keys (crawl re-fetches), breaking the rows-preserved
    invariant (round-1 ADVICE); an OR predicate also forces a nested-loop
    join, while equi-joins stay hash joins.
    """
    keys = blocklist.select(F.col("url_or_host").alias("__blocked")).distinct()
    # the second broadcast reuses the first's exchange (canonicalized
    # plans match despite the aliases; ReusedExchange verified in tests)
    by_url = F.broadcast(keys.withColumnRenamed("__blocked", "__bu"))
    by_host = F.broadcast(keys.withColumnRenamed("__blocked", "__bh"))
    hit = (
        df.withColumn("__host", host_expr(F.col("url")))
        .join(by_url, F.col("url") == F.col("__bu"), "left")
        .join(by_host, F.col("__host") == F.col("__bh"), "left")
        .withColumn("__is_blocked", F.col("__bu").isNotNull() | F.col("__bh").isNotNull())
        .drop("__bu", "__bh", "__host")
    )
    return add_flags(
        hit, "low_pass_failing_qc", {"blocklisted": F.col("__is_blocked")}
    ).drop("__is_blocked")


def flag_substring_matches(df: DataFrame, substrings: Sequence[str]) -> DataFrame:
    """``--sample_removal_strings`` analog: flag urls containing any of the
    given substrings as ``url_substring`` in ``low_pass_failing_qc``
    (driver-literal broadcast, pure expressions)."""
    cond = F.lit(False)
    for s in substrings:
        cond = cond | F.col("url").contains(s)
    return add_flags(df, "low_pass_failing_qc", {"url_substring": cond})

