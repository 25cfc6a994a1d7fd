"""External-resource readers: delimited files, removal lists, interval tables.

Parity targets (SURVEY.md §2.1):

* S4 — ``hl.import_table(file, delimiter=..., impute=True, key=...,
  missing=...)`` (``/root/reference/shared/samples_annotation.py:21``;
  no-header variant ``exome_qc/exome_qc.py:135``) →
  :func:`import_delimited`.
* S1/S12 — pages-table scans with projection/filter pushdown →
  :func:`read_pages` / :func:`read_testdata_table`.
* S5 — locus-interval import + point-in-interval annotation
  (``find_denovo_variants.py:280-283``) → :func:`read_intervals` +
  :func:`interval_join` (broadcast range join — interval sets are small,
  so Spark executes a broadcast-nested-loop, which is the right plan).
"""

from __future__ import annotations

import hashlib
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def import_delimited(
    spark: SparkSession,
    path: str,
    delimiter: str = "\t",
    header: bool = True,
    impute: bool = True,
    missing: str = "NA",
    key: str | None = None,
    schema: str | None = None,
) -> DataFrame:
    """``hl.import_table`` analog: delimiter/missing-token/impute options.

    ``impute=True`` maps to ``inferSchema`` (acceptable for small resource
    tables only; big tables should pass ``schema``). ``key`` is advisory —
    Spark has no keyed tables; joins choose the key (SURVEY.md §1.1).
    """
    reader = (
        spark.read.option("sep", delimiter)
        .option("header", header)
        .option("nullValue", missing)
    )
    if schema:
        reader = reader.schema(schema)
    elif impute:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    if not header and not schema:
        # headerless + no explicit schema → Spark's _c0.._cN; rename to the
        # reference's f0..fN convention. An explicit schema already names
        # the columns — renaming would clobber it (round-6 review)
        df = df.toDF(*[f"f{i}" for i in range(len(df.columns))])
    return df


def read_removal_list(spark: SparkSession, path: str) -> DataFrame:
    """One url-or-host per line, no header — ``--sample_removal_list`` analog
    (``exome_qc/exome_qc.py:134-138``)."""
    return import_delimited(spark, path, header=False, impute=False).toDF("url_or_host")


def read_testdata_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# (file-list digest, cores) → row-group count, counted only up to the
# cores it must cover; footer reads are driver-side metadata, cached per
# file set under a fixed-size key
_SCAN_UNITS_CACHE: dict[tuple[str, int], int] = {}
# footers read per scan at most: a table with more files than this is
# production-shaped, and probing every footer would cost a driver-side
# round-trip per file
_MAX_PROBED_FILES = 256


def _parquet_scan_units(files: tuple[str, ...], cap: int) -> int:
    """Count parquet row groups across ``files``, stopping at ``cap``.

    A row group is the minimum scan-split unit: Spark hands out byte-range
    splits, but only the split containing a row-group start produces rows,
    so a table written as one file with one row group is read by ONE task
    regardless of ``maxPartitionBytes``. Only the file footers can reveal
    this — partition counts cannot (the empty byte-range splits still
    exist).

    ``files`` are the URIs ``inputFiles()`` returns, percent-encoded
    (``file:///data/sp%20ace/part-0.parquet``); they are decoded before
    the footer read. A list with any non-local URI, or with more than
    ``_MAX_PROBED_FILES`` files, counts as adequately split (``cap``)
    without reading a footer: a remote round-trip per file is not worth
    it, and real deployments write many files and row groups."""
    import pyarrow.parquet as pq

    if len(files) > _MAX_PROBED_FILES:
        return cap
    uris = [urlparse(f) for f in files]
    if any(u.scheme not in ("", "file") or u.netloc for u in uris):
        return cap
    total = 0
    for u in uris:
        total += pq.ParquetFile(unquote(u.path)).metadata.num_row_groups
        if total >= cap:
            break
    return total


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a scan whose parquet layout under-parallelizes it.

    Scale-adaptive (guide §2.5 "input skew — one huge unsplittable file"):
    the decision derives from the input's actual layout, not a constant.
    When the scan already yields at least as many row groups as the
    session's ``defaultParallelism`` — i.e. any production-scale table —
    this is a NO-OP and no exchange is added. Only when the layout would
    idle the cluster (fewer row groups than cores, e.g. a
    single-row-group export) does it insert one hash repartition on
    ``key_cols`` so every downstream projection fused into the scan stage
    runs wide instead of on one core. Hash-on-a-key (vs round-robin)
    avoids the sort-before-repartition local sort AND is deterministic
    under task retry; pass a high-cardinality key.

    Use ONLY where heavy per-row work would otherwise fuse into the scan
    stage. A query whose first operation is already an exchange (groupBy,
    window) gains nothing — its post-shuffle work is already wide — and
    would just pay an extra shuffle.
    """
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if n <= 1:
        return df
    try:
        files = tuple(sorted(df.inputFiles()))
        if not files:
            return df
        key = (hashlib.sha256("\n".join(files).encode()).hexdigest(), n)
        units = _SCAN_UNITS_CACHE.get(key)
        if units is None:
            units = _parquet_scan_units(files, n)
            if len(_SCAN_UNITS_CACHE) > 4096:
                _SCAN_UNITS_CACHE.clear()
            _SCAN_UNITS_CACHE[key] = units
    except Exception:  # noqa: BLE001 — layout probing must never break a read
        return df
    if units >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols]) if key_cols else df.repartition(n)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan of the pages table (url, warc_ts, html, text, lang) — parquet
    path or catalog table name.

    Anything path-shaped (contains a separator or a URI scheme, or exists
    locally) is read as parquet; only bare identifiers go to the catalog.
    ``os.path.isdir`` alone would misroute every REMOTE dataset URI
    (``s3a://…/pages``) into ``spark.read.table`` (round-6 review)."""
    looks_like_path = (
        "/" in path or "\\" in path or "://" in path
        or path.endswith(".parquet") or os.path.isdir(path)
    )
    if looks_like_path:
        return spark.read.parquet(path)
    return spark.read.table(path)


def read_intervals(spark: SparkSession, path: str, delimiter: str = "\t") -> DataFrame:
    """Interval file ``key, lo, hi`` (e.g. host, size band) → typed table."""
    return import_delimited(spark, path, delimiter=delimiter, header=True)


def interval_join(
    df: DataFrame,
    intervals: DataFrame,
    point: Column,
    lo: str = "lo",
    hi: str = "hi",
    how: str = "left",
) -> DataFrame:
    """Point-in-interval annotation: broadcast non-equi join — small interval
    sets make broadcast-nested-loop the correct physical plan (J5)."""
    cond = (point >= intervals[lo]) & (point < intervals[hi])
    return df.join(F.broadcast(intervals), cond, how)
