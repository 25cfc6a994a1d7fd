"""Host and salt expressions.

Analog of the batch/stratification keys used for per-batch sample QC
(``shared/samples_qc.py:408-430``).

Skew handling (BASELINE.json: "skew from domain-heavy hosts is handled
with salted repartitioning and AQE"): ``salt_expr`` is a bounded salt
derived from the full url; ``host_qc`` aggregates on (host, salt) first,
so one hot host fans out over K groups, and host-level aggregates stay
exact after a second (tiny) reduce over the salted partials.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def host_expr(url: Column) -> Column:
    """Registrable host from a url string (pure expressions, no UDF)."""
    return F.lower(
        F.regexp_extract(url, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1)
    )


def salt_expr(url: Column, buckets: int) -> Column:
    """Stable salt in [0, buckets) from the record key (NOT random — results
    must be identical at local[8] and local[32], FIXTURES.md §7.5)."""
    return F.pmod(F.xxhash64(url), F.lit(buckets)).cast("int")
