"""Pluggable snapshot table format: Parquet+manifest default, Iceberg-ready.

The reference materializes every stage as a Hail-native ``.mt`` directory
(``mt.checkpoint(path)``, ``/root/reference/exome_qc/exome_qc.py:113`` and
~20 more sites — S6 in SURVEY.md §2.1). The target design calls for
Iceberg snapshots (BASELINE.json north_star), but no Iceberg runtime jar
ships in this sandbox — so the engine programs against a thin
``TableFormat`` interface:

* :class:`ParquetManifestFormat` — parquet data + ``_manifest.json``
  sidecar carrying the stage id, parameters, row count, per-flag metrics
  and parent lineage (the "globals" of the reference,
  ``shared/variant_qc.py:775-781``, which Spark DataFrames cannot carry
  in-band).
* :class:`IcebergFormat` — activates only when an Iceberg catalog is
  configured on the session; same interface, snapshot-summary properties
  instead of the sidecar.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST_NAME = "_manifest.json"


class ParquetManifestFormat:
    """Parquet directory + JSON manifest; atomic via write-then-rename of the manifest."""

    def write(
        self,
        df: DataFrame,
        path: str,
        metadata: Callable[[], dict[str, Any]],
    ) -> dict[str, Any]:
        """Write the data, then resolve ``metadata()`` and commit it as the
        manifest. ``metadata`` runs after the data write and before the
        commit, so facts observed by the write job (row count, flag counts)
        land in the manifest's single write: manifest present ⇔ data
        complete and its facts recorded."""
        df.write.mode("overwrite").parquet(path)
        manifest = dict(metadata())
        manifest.setdefault("format", "parquet+manifest")
        manifest["path"] = path
        self.update_manifest(path, manifest)  # manifest presence == commit marker
        return manifest

    def update_manifest(self, path: str, manifest: dict[str, Any]) -> None:
        """Atomically (re)write the manifest. Callers rewriting a committed
        manifest (``CheckpointStore.compact``) pass the dict read back, so
        the format-owned fields (format/path) survive."""
        tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
        final = os.path.join(path, MANIFEST_NAME)
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True, default=str)
        os.replace(tmp, final)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """The snapshot's data. A committed snapshot is read with the schema
        its manifest records, which skips Spark's footer-inference job, so
        resuming a stage runs no Spark job."""
        man = self.read_manifest(path)
        reader = spark.read
        if man and "schema" in man:
            reader = reader.schema(StructType.fromJson(man["schema"]))
        return reader.parquet(path)

    def read_manifest(self, path: str) -> dict[str, Any] | None:
        p = os.path.join(path, MANIFEST_NAME)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def exists(self, spark: SparkSession, path: str) -> bool:
        """Existence probe gating each stage — mirror of ``check_exists``
        (``/root/reference/shared/utils.py:227-247``). A data dir without a
        manifest is a torn write and counts as absent."""
        return self.read_manifest(path) is not None

    def data_files(self, path: str) -> list[str]:
        """All parquet data files of a snapshot. The local-FS analog of what
        an Iceberg manifest lists; drives compaction planning."""
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("part-") and f.endswith(".parquet")
        )


class IcebergFormat:
    """Iceberg backend (same interface); requires iceberg-spark-runtime on
    the classpath + a configured catalog. Import-gated per sandbox rules."""

    def __init__(self, catalog: str = "local") -> None:
        self.catalog = catalog
        # the manifest methods' interface carries no session, but PySpark's
        # active session is thread-scoped — remember the session every
        # session-carrying call hands us so manifest reads/updates issued
        # from another driver thread still reach the right catalog
        self._spark: SparkSession | None = None

    def _session(self) -> SparkSession | None:
        return self._spark or SparkSession.getActiveSession()

    def _table(self, path: str) -> str:
        return path if "." in path else f"{self.catalog}.default.{path}"

    def write(self, df, path, metadata):
        """Two steps: ``createOrReplace`` commits the data, then the
        resolved ``metadata()`` (which may read the new table) lands as
        ``engine.*`` table properties via :meth:`update_manifest`."""
        self._spark = df.sparkSession
        writer = df.writeTo(self._table(path)).using("iceberg")
        writer.createOrReplace()
        manifest = dict(metadata(), format="iceberg", table=self._table(path))
        self.update_manifest(path, manifest)
        return manifest

    def read(self, spark, path):
        self._spark = spark
        return spark.read.format("iceberg").load(self._table(path))

    def update_manifest(self, path, manifest):
        """Manifest fields land as ALTER TABLE SET TBLPROPERTIES (the
        format-owned ``format``/``table`` keys are derived, not stored)."""
        spark = self._session()
        if spark is None:
            return
        sets = ", ".join(
            f"'engine.{k}' = '{self._quote(json.dumps(v, default=str))}'"
            for k, v in manifest.items()
            if k not in ("format", "table")
        )
        if sets:
            spark.sql(f"ALTER TABLE {self._table(path)} SET TBLPROPERTIES ({sets})")

    @staticmethod
    def _quote(s: str) -> str:
        return s.replace("'", "''")

    def read_manifest(self, path: str) -> dict[str, Any] | None:
        """Reconstruct the manifest from the ``engine.*`` table properties
        written by :meth:`write`/:meth:`update_manifest`; None when the
        table does not exist (same absent-⇔-no-commit contract as the
        parquet sidecar)."""
        spark = self._session()
        tbl = self._table(path)
        if spark is None or not spark.catalog.tableExists(tbl):
            return None
        out: dict[str, Any] = {"format": "iceberg", "table": tbl}
        for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect():
            if r["key"].startswith("engine."):
                try:
                    out[r["key"][len("engine.") :]] = json.loads(r["value"])
                except ValueError:
                    out[r["key"][len("engine.") :]] = r["value"]
        return out

    def exists(self, spark, path):
        self._spark = spark
        return spark.catalog.tableExists(self._table(path))


def default_format() -> ParquetManifestFormat:
    return ParquetManifestFormat()
