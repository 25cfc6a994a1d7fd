"""External-resource readers: delimited files, scan spreading, interval joins.

Parity targets (SURVEY.md §2.1):

* S4 — ``hl.import_table(file, delimiter=..., impute=True, key=...,
  missing=...)`` (``/root/reference/shared/samples_annotation.py:21``;
  no-header variant ``exome_qc/exome_qc.py:135``) →
  :func:`import_delimited`.
* S1/S12 — the pages table is the caller's own scan
  (``spark.read.parquet`` / ``spark.read.table``) handed to
  ``Pipeline.run``; :func:`spread_scan` spreads a scan to core width.
* S5 — locus-interval import + point-in-interval annotation
  (``find_denovo_variants.py:280-283``) → :func:`import_delimited` +
  :func:`interval_join` (broadcast range join — interval sets are small,
  so Spark executes a broadcast-nested-loop, which is the right plan).
"""

from __future__ import annotations

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


# footers read per scan at most: a table with more files than this is
# production-shaped, and probing every footer would cost a driver-side
# round-trip per file
_MAX_PROBED_FILES = 256


def _parquet_scan_units(files: tuple[str, ...], cap: int) -> int:
    """Count parquet row groups across ``files``, stopping at ``cap``.

    A row group is the minimum scan-split unit: Spark hands out byte-range
    splits, but only the split containing a row group's midpoint produces
    rows, so a file written with one row group is read by ONE task
    however many splits Spark plans for it. Only the file footers can
    reveal this — partition counts cannot (the empty byte-range splits
    still exist).

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
    """Repartition a scan that fewer tasks than cores would read.

    Scale-adaptive (guide §2.5 "input skew — one huge unsplittable file"):
    the decision derives from the input's actual layout, not a constant.
    A scan is read by no more tasks than its row groups
    (:func:`_parquet_scan_units`) nor than the splits Spark plans (it
    packs a file under ``openCostInBytes`` into one split whatever its row
    groups; ``getNumPartitions`` plans them without a job). When both reach
    ``defaultParallelism`` — any production-scale table — this is a
    NO-OP. Otherwise it inserts one hash repartition on ``key_cols`` so
    the work fused into the scan stage runs wide instead of on one core.
    Hash-on-a-key (vs round-robin) avoids the sort-before-repartition
    local sort AND is deterministic under task retry; pass a
    high-cardinality key.

    Use ONLY on a plain scan whose heavy per-row work would otherwise fuse
    into the scan stage. A query whose first operation is already an
    exchange (groupBy, window) gains nothing and would just pay an extra
    shuffle.
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
        # footers first: a local probe is ~0.1 ms a file, planning the scan 30-60 ms
        if _parquet_scan_units(files, n) >= n and df.rdd.getNumPartitions() >= n:
            return df
    except Exception:  # noqa: BLE001 — layout probing must never break a read
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols]) if key_cols else df.repartition(n)


def interval_join(df: DataFrame, intervals: DataFrame, point: Column) -> DataFrame:
    """Point-in-interval annotation, ``lo <= point < hi``: broadcast non-equi
    left join — small interval sets make broadcast-nested-loop the correct
    physical plan (J5)."""
    cond = (point >= intervals["lo"]) & (point < intervals["hi"])
    return df.join(F.broadcast(intervals), cond, "left")
