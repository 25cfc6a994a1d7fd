"""Sinks: compressed TSV export, partitioned final table, struct flattening.

Parity targets (SURVEY.md §2.1):
* S7 — ``ht.export(path)`` bgz TSV export (``/root/reference/exome_qc/
  exome_qc.py:583,588``) → :func:`export_tsv` (gzip csv).
* S8 — per-chromosome split VCF export (``exome_qc/minimal_exome_qc.py:
  577-599``) → :func:`write_final_table` with ``partitionBy`` (the Spark
  idiom for the same layout: one directory per partition key).
* P7 — ``ht.flatten()`` before TSV export (``exome_qc/exome_qc.py:582``)
  → :func:`flatten_structs` (recursive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def flatten_structs(df: DataFrame) -> DataFrame:
    """Recursively flatten struct columns to top-level ``parent_child`` cols
    (arrays/maps left intact — they need explode, not flattening).

    Raises on a flattened-name collision (e.g. struct ``a.b_c`` next to
    struct ``a_b.c``, or a pre-existing top-level ``a_b_c``): a silent
    duplicate column would only surface at the terminal CSV write as an
    ambiguous-reference error, after the whole pipeline ran (round-6
    review)."""
    while True:
        struct_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StructType)]
        if not struct_cols:
            return df
        cols = []
        names: dict[str, str] = {}
        for f in df.schema.fields:
            if isinstance(f.dataType, T.StructType):
                for sub in f.dataType.fields:
                    flat = f"{f.name}_{sub.name}"
                    cols.append(F.col(f"{f.name}.{sub.name}").alias(flat))
                    src = f"{f.name}.{sub.name}"
                    if flat in names:
                        raise ValueError(
                            f"flatten_structs: {src!r} and {names[flat]!r} both "
                            f"flatten to {flat!r}; rename one"
                        )
                    names[flat] = src
            else:
                cols.append(F.col(f.name))
                if f.name in names:
                    raise ValueError(
                        f"flatten_structs: {names[f.name]!r} flattens onto "
                        f"existing column {f.name!r}; rename one"
                    )
                names[f.name] = f.name
        df = df.select(*cols)


def _stringify_complex(df: DataFrame) -> DataFrame:
    """CSV cannot carry arrays/maps — render them canonically (sorted JSON),
    mirroring how the reference flattens before export."""
    cols = {}
    for f in df.schema.fields:
        if isinstance(f.dataType, T.ArrayType):
            cols[f.name] = F.to_json(F.col(f.name))
        elif isinstance(f.dataType, (T.MapType,)):
            cols[f.name] = F.to_json(F.col(f.name))
    return df.withColumns(cols) if cols else df


def export_tsv(df: DataFrame, path: str, compress: bool = True, single_file: bool = False) -> str:
    """S7 analog: flattened, optionally gzipped TSV.

    ``single_file`` coalesces to one partition (driver-friendly small
    exports — per-flag reports); large tables keep their parallelism.
    """
    out = _stringify_complex(flatten_structs(df))
    if single_file:
        out = out.coalesce(1)
    writer = out.write.mode("overwrite").option("sep", "\t").option("header", True)
    if compress:
        writer = writer.option("compression", "gzip")
    writer.csv(path)
    return path


#: default interchange schema for downstream training-data consumers
JSONL_EXPORT_COLUMNS = ("url", "warc_ts", "lang_id", "quality_score", "scrubbed_text")


def export_jsonl(
    df: DataFrame,
    path: str,
    columns: tuple[str, ...] | None = None,
    keep_col: str | None = "keep",
) -> str:
    """S9 analog: interchange export for an EXTERNAL downstream consumer.

    The reference's plink export hands the LD-pruned survivor subset to an
    external tool in that tool's fixed schema
    (``/root/reference/kinship_calculation/find_duplicates.py:256``). The
    webtext equivalent is gzipped JSON-lines shards — the de-facto
    interchange format LLM training pipelines ingest: survivors only
    (``keep_col`` gating, the pruned-subset analog), projected to the
    consumer's column contract (``JSONL_EXPORT_COLUMNS`` by default;
    columns absent from ``df`` are skipped), one shard per partition so
    the write stays fully parallel. Unlike :func:`write_final_table` this
    is a row-subset, fixed-schema, text-format hand-off, not a snapshot.
    """
    cols = [c for c in (columns or JSONL_EXPORT_COLUMNS) if c in df.columns]
    if not cols:
        raise ValueError("export_jsonl: none of the requested columns exist")
    out = df
    if keep_col is not None and keep_col in df.columns:
        out = out.filter(F.col(keep_col))
    out.select(*cols).write.mode("overwrite").option("compression", "gzip").json(path)
    return path


def write_final_table(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ("lang_id",)
) -> str:
    """Final partitioned parquet snapshot (per-chromosome-split analog):
    one directory per partition value, so downstream consumers prune by
    partition (e.g. per-language training corpora). Every row is written;
    the pipeline's tables stay row-count-preserving (annotate-don't-drop).
    """
    (
        df.write.mode("overwrite")
        .partitionBy(*[c for c in partition_by if c in df.columns])
        .parquet(path)
    )
    return path
