"""CheckpointStore — existence-gated, resumable stage materialization.

The core engine feature (SURVEY.md §4 item 1). Mirrors the reference's
pattern of (a) ``mt.checkpoint(path, overwrite=True)`` after every
expensive step to cut lineage (``/root/reference/shared/variant_qc.py:
218,386,517,633``; the reference's Hail-native ``.mt`` directories,
``exome_qc/exome_qc.py:113`` and ~20 more sites, S6 in SURVEY.md §2.1),
and (b) skipping a stage entirely when its output already exists
(``exome_qc/exome_qc.py:73,116-117,124,169`` + ``shared/utils.py:227-247``),
so a killed run resumes from the last completed stage.

A checkpoint is a parquet directory plus a ``_manifest.json`` sidecar
with stage id, parameters, parent stage (lineage), row count, the
schema as written and optional metrics such as the stage's per-flag
counts — the Spark replacement for Hail globals
(``shared/variant_qc.py:775-781``), which DataFrames cannot carry
in-band. All of them are observed by, or computed right after, the data
write and committed with it in one atomic manifest write (tmp file, then
rename), written last: manifest present ⇔ data complete and its facts
recorded, so a stage's recorded facts can never outlive or lag the data
they describe, and a data dir without a manifest is a torn write.

Every read carries a known schema, so none runs a footer-inference job:
the write reads its snapshot back with the written DataFrame's schema and
records it in the manifest, and every later read uses the manifest's.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .readers import spread_scan

MANIFEST_NAME = "_manifest.json"


def core_wide(df: DataFrame) -> DataFrame:
    """Every stage input at core width (the runner's first input and each
    checkpoint read); :meth:`CheckpointStore.read` says how."""
    return spread_scan(df, "url") if "url" in df.columns else df


def _read_manifest(path: str) -> dict[str, Any] | None:
    p = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _commit_manifest(path: str, manifest: dict[str, Any]) -> None:
    """Atomically (re)write the manifest: its presence is the commit marker."""
    tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True, default=str)
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))


def _data_files(path: str) -> list[str]:
    """All parquet data files of a snapshot; drives compaction planning."""
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def exists(self, stage: str) -> bool:
        """Existence probe gating each stage — mirror of the reference's
        ``check_exists`` (``shared/utils.py:227-247``): the manifest is
        present. A torn write counts as absent."""
        return _read_manifest(self.path(stage)) is not None

    def read(self, stage: str) -> DataFrame:
        """The stage's snapshot at core width: the store owns scan width, so
        one written as fewer files than cores is hash-spread on ``url`` (the
        record key every stage keeps; a table without it comes back as read)."""
        return core_wide(self.read_as_written(stage))

    def read_as_written(self, stage: str) -> DataFrame:
        """The stage's committed snapshot in its written layout, for a
        consumer that starts with its own exchange, read with its manifest's
        schema (no Spark job). An absent or torn stage raises ``ValueError``."""
        path = self.path(stage)
        man = _read_manifest(path)
        if man is None:
            raise ValueError(f"stage {stage!r} absent or torn — no committed snapshot")
        return self.spark.read.schema(StructType.fromJson(man["schema"])).parquet(path)

    def manifest(self, stage: str) -> dict[str, Any] | None:
        return _read_manifest(self.path(stage))

    def write(
        self,
        df: DataFrame,
        stage: str,
        params: dict[str, Any] | None = None,
        parent: str | None = None,
        metrics: Callable[[DataFrame], dict[str, Any]] | None = None,
    ) -> DataFrame:
        """Materialize + manifest, then return the re-read DataFrame
        (write-read barrier = lineage cut, exactly ``mt.checkpoint``).

        The row count is a ``count(1)`` observation on the write job itself
        (no extra job). The read-back uses ``df``'s schema, which a file
        source makes all-nullable: the footer schema, without an inference
        job; the manifest records it. ``metrics(written_df)``, when given,
        runs after the data write and before the manifest commit, on the
        read-back; the dict it returns is stored as the manifest's
        ``metrics``. The returned DataFrame is that same read-back, at core
        width as :meth:`read` returns it."""
        path = self.path(stage)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
        out = self.spark.read.schema(df.schema).parquet(path)
        manifest: dict[str, Any] = {
            "stage": stage,
            "params": params or {},
            "parent": parent,
            "schema": out.schema.jsonValue(),
            "rows": obs.get["rows"],
            "format": "parquet+manifest",
            "path": path,
        }
        if metrics is not None:
            manifest["metrics"] = metrics(out)
        _commit_manifest(path, manifest)
        return core_wide(out)

    def compact(
        self, stage: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, Any]:
        """Small-files maintenance: rewrite a stage's snapshot into
        ``ceil(total_bytes / target_file_bytes)`` evenly-sized files.

        At 10^12-doc scale every per-stage snapshot is written by
        thousands of tasks; without periodic compaction the file count
        (and with it scan-planning time and NameNode/manifest pressure)
        grows unboundedly across pipeline runs — the same maintenance an
        Iceberg deployment runs as ``rewrite_data_files``. Content is
        untouched: one balanced round-robin ``repartition`` (even output
        sizes — ``coalesce`` would both skew file sizes and throttle the
        scan's parallelism to the target count).

        Commit protocol: the rewrite lands in a sibling temp dir WITHOUT
        a manifest, the directories swap, and the manifest (enriched with
        a ``compactions`` record, row count carried over) is written
        LAST — so the store-wide invariant "manifest present ⇔ data
        complete" holds in every crash window, and a compaction killed
        mid-swap degrades to the ordinary torn-write recompute path, never
        to a manifest pointing at partial data.

        No-op (``{"compacted": False}``) when the snapshot already meets
        the target. Returns the compaction record either way.

        Caller contract: unlike Iceberg (where an open scan pins its
        snapshot), a plain-parquet rewrite invalidates any LIVE DataFrame
        handle previously read from this stage — re-``read`` after
        compacting. Run it between pipeline runs, not mid-plan.
        """
        path = self.path(stage)
        df = self.read_as_written(stage)  # raises for an absent or torn stage
        manifest = _read_manifest(path)
        files = _data_files(path)
        total = sum(os.path.getsize(f) for f in files)
        target_n = max(1, math.ceil(total / target_file_bytes))
        if len(files) <= target_n:
            return {
                "compacted": False,
                "files": len(files),
                "bytes": total,
                "target_files": target_n,
            }
        tmp = path + ".compact_tmp"
        df.repartition(target_n).write.mode("overwrite").parquet(tmp)
        bak = path + ".pre_compact"
        shutil.rmtree(bak, ignore_errors=True)  # crashed-prior-compact leftover
        os.rename(path, bak)
        os.rename(tmp, path)
        record = {
            "compacted": True,
            "files_before": len(files),
            "files_after": len(_data_files(path)),
            "bytes": total,
            "target_file_bytes": target_file_bytes,
        }
        manifest.setdefault("compactions", []).append(record)
        _commit_manifest(path, manifest)
        shutil.rmtree(bak)
        return record

    def vacuum(self) -> dict[str, list[str]]:
        """Garbage-collect the crash windows: stage dirs with data but no
        manifest (torn writes — the resume gate already treats them as
        absent, this reclaims the bytes) and compaction scratch dirs
        (``*.compact_tmp`` never swapped in, ``*.pre_compact`` whose
        stage committed). A ``*.pre_compact`` backup is deleted ONLY when
        its stage dir holds a valid manifest; if a compaction crashed
        mid-swap the backup is the last committed copy of the stage, so
        vacuum RESTORES it (rename back over the torn/absent stage dir)
        instead of deleting it — preserving the invariant that a dir is
        only removed when the manifest says so (round-5 ADVICE).
        Committed stages are untouched. Safe to run any time no writer is
        active on the store root; the reference's operators likewise
        assume single-writer stage dirs (``overwrite=True``
        checkpoints)."""
        removed: dict[str, list[str]] = {"torn": [], "scratch": [], "restored": []}
        for name in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, name)
            if not os.path.isdir(p):
                continue
            if name.endswith(".compact_tmp"):
                # never swapped in — no manifest by construction, pure scratch
                shutil.rmtree(p)
                removed["scratch"].append(name)
            elif name.endswith(".pre_compact"):
                stage_path = p[: -len(".pre_compact")]
                if _read_manifest(stage_path) is not None:
                    # compaction committed — backup is redundant
                    shutil.rmtree(p)
                    removed["scratch"].append(name)
                elif _read_manifest(p) is not None:
                    # crashed between compact()'s two renames: the backup
                    # is the only committed copy — restore, don't delete
                    if os.path.isdir(stage_path):
                        shutil.rmtree(stage_path)  # torn swapped-in data
                    os.rename(p, stage_path)
                    removed["restored"].append(name)
                else:
                    shutil.rmtree(p)  # backup itself torn — unrecoverable
                    removed["scratch"].append(name)
            elif _read_manifest(p) is None:
                # a torn stage whose .pre_compact backup holds a valid
                # manifest is handled by the restore branch above — don't
                # delete it here (the restore reuses the dir name)
                bak = p + ".pre_compact"
                if not (os.path.isdir(bak) and _read_manifest(bak) is not None):
                    shutil.rmtree(p)
                    removed["torn"].append(name)
        return removed
