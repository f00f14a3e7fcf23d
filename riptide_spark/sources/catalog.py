"""Snapshot-table layer: Iceberg-shaped semantics on plain parquet.

The north rule calls for Iceberg tables with snapshot-based resume. The
sandbox image has no Iceberg jars (they need the runtime classpath), so this
module provides the same *semantics* behind a two-line abstraction:

* a table is a directory of parquet files plus ``_manifests/run-*.json``
  checkpoint manifests (run id, row count, files written, completion flag);
* ``append`` = parquet append + a manifest committed **after** the data (the
  manifest is the commit marker, like an Iceberg snapshot). The manifest's
  row count is observed in the write job itself (``DataFrame.observe``), so
  it is committed once, with the true count, and nothing re-scans the data;
* ``read`` = read the parquet dir, optionally with a known schema (no
  schema-inference job) and restricted to a manifest's files (a run-scoped
  read whose cost does not grow with the table);
* resume = anti-join against the table's committed urls (the result cache
  J1/S2 of SURVEY.md — the output table *is* the cache).

On a cluster with Iceberg on the classpath, swap ``TableIO`` for
``spark.read.table`` / ``writeTo(...).append()`` — the pipeline only touches
this interface.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class Manifest:
    run_id: str
    rows: int
    committed: bool
    # Relative paths of the data files this run wrote — the Iceberg-style
    # file ledger (lineage). None = unknown (legacy manifest).
    files: list[str] | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)


class TableIO:
    """Parquet-backed table with manifest-committed appends."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_path = os.path.join(path, "data")
        self.manifest_dir = os.path.join(path, "_manifests")

    # -- metadata ---------------------------------------------------------
    def exists(self) -> bool:
        """True iff the table has any data files — deliberately NOT gated on
        a committed manifest: a crash between the data write and the
        manifest commit must still make the next run's anti-join see the
        orphaned rows (they are valid extractions), otherwise the rerun
        would duplicate them. Manifests are lineage, not the liveness
        signal."""
        self._recover_compaction()
        return any(
            f.endswith(".parquet")
            for _, _, files in os.walk(self.data_path)
            for f in files
        )

    def manifests(self) -> list[Manifest]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as fh:
                    payload = json.load(fh)
                out.append(
                    Manifest(
                        payload["run_id"],
                        payload["rows"],
                        payload["committed"],
                        payload.get("files"),
                    )
                )
        return out

    def data_files(self) -> list[str]:
        """Relative paths of every parquet data file currently on disk."""
        out = []
        for root, _, files in os.walk(self.data_path):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(
                        os.path.relpath(os.path.join(root, f), self.data_path)
                    )
        return sorted(out)

    # -- IO ---------------------------------------------------------------
    def read(
        self,
        schema: StructType | str | None = None,
        files: list[str] | None = None,
    ) -> DataFrame:
        """The table as a DataFrame.

        ``schema`` skips Spark's schema-inference job (one Spark job that
        opens a file footer); partition columns it leaves out are still
        discovered from the directory names, on the driver. ``files``
        restricts the scan to those data files (paths relative to the data
        dir, e.g. one manifest's ledger), keeping their Hive partition
        columns through ``basePath``; an empty list is an empty frame of
        ``schema``, which it then requires."""
        self._recover_compaction()
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if files is None:
            return reader.parquet(self.data_path)
        if not files:
            return self.spark.createDataFrame([], schema)
        return reader.option("basePath", self.data_path).parquet(
            *(os.path.join(self.data_path, f) for f in files)
        )

    def append(
        self,
        df: DataFrame,
        run_id: str | None = None,
        partition_by: list[str] | None = None,
    ) -> Manifest:
        """Write data, then commit the manifest (write-then-commit ordering:
        a crash between the two leaves an uncommitted snapshot that the next
        run's anti-join silently resolves — the urls are present, so they are
        skipped; no duplicates, no loss). The manifest's row count is
        observed in the write job, so the manifest is committed exactly once
        and never holds an unknown count."""
        run_id = run_id or uuid.uuid4().hex[:12]
        before = set(self.data_files()) if os.path.isdir(self.data_path) else set()
        rows = _write_counted(df, self.data_path, "append", partition_by)
        written = [f for f in self.data_files() if f not in before]
        manifest = Manifest(run_id=run_id, rows=rows, committed=True, files=written)
        return self._write_manifest(manifest)

    def compact(
        self,
        target_partitions: int = 1,
        partition_by: list[str] | None = None,
    ) -> Manifest:
        """Rewrite small data files into ``target_partitions`` larger ones
        AND commit a superseding manifest that owns every surviving file,
        so the manifests keep describing the files on disk (lineage). This
        is the Iceberg rewrite-data-files + rewrite-manifests pair the
        catalog layer stands in for. Resume does not read the manifests
        (it anti-joins the table's urls), so no crash window below can
        change what a resumed run extracts or reports.

        Ordering:

        1. write the compacted copy to a scratch dir, counting its rows in
           the same write (the exact total the superseding manifest needs);
        2. swap the data dir (rename old away, rename scratch in, drop old);
        3. commit ONE superseding manifest owning every surviving file;
        4. remove the superseded run manifests.

        A crash before step 2 leaves the table untouched; a crash between
        the two renames of step 2 is rolled back by the next ``exists()`` or
        ``read()`` (see ``_recover_compaction``); between 2 and 4 the data
        is complete and only the manifests lag behind it. On a real
        cluster this whole method is Iceberg's atomic
        ``rewrite_data_files`` + ``rewrite_manifests`` snapshot commit."""
        if not self.exists():
            raise ValueError(f"nothing to compact at {self.data_path}")
        if partition_by is None:
            # Preserve the on-disk layout: derive the Hive partition chain
            # from any data file's directory segments (col=value). Writing
            # a flat copy into a partitioned table would leave a mixed
            # layout later appends cannot coexist with.
            sample = next(iter(self.data_files()), "")
            partition_by = [
                seg.split("=", 1)[0]
                for seg in sample.split(os.sep)[:-1]
                if "=" in seg
            ]
        df = self.read()
        scratch = self.data_path + f".compact-{uuid.uuid4().hex[:8]}"
        if partition_by:
            # One task per partition value → one compacted file per value.
            df = df.repartition(*partition_by)
        else:
            df = df.coalesce(max(target_partitions, 1))
        rows = _write_counted(df, scratch, "overwrite", partition_by)

        old = self.data_path + f".pre-compact-{uuid.uuid4().hex[:8]}"
        os.rename(self.data_path, old)
        os.rename(scratch, self.data_path)
        shutil.rmtree(old)

        superseded = [
            name
            for name in os.listdir(self.manifest_dir)
            if name.endswith(".json")
        ] if os.path.isdir(self.manifest_dir) else []
        manifest = Manifest(
            run_id=f"compact-{uuid.uuid4().hex[:12]}",
            rows=rows,
            committed=True,
            files=self.data_files(),
        )
        self._write_manifest(manifest)
        own = f"run-{manifest.run_id}.json"
        for name in superseded:
            if name != own:
                os.remove(os.path.join(self.manifest_dir, name))
        return manifest

    def _recover_compaction(self) -> None:
        """Roll back a ``compact`` that crashed between its two renames.
        The data dir is then missing and the old copy sits under its
        ``.pre-compact-*`` name; the manifests still describe that copy, so
        renaming it back restores the table and its ledger exactly. The
        compacted scratch copy is dropped."""
        if os.path.isdir(self.data_path):
            return
        stem = glob.escape(self.data_path)
        old = glob.glob(stem + ".pre-compact-*")
        if not old:
            return
        os.rename(old[0], self.data_path)
        for scratch in glob.glob(stem + ".compact-*"):
            shutil.rmtree(scratch)

    def _write_manifest(self, manifest: Manifest) -> Manifest:
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".run-{manifest.run_id}.json.tmp")
        final = os.path.join(self.manifest_dir, f"run-{manifest.run_id}.json")
        with open(tmp, "w") as fh:
            fh.write(manifest.to_json())
        os.replace(tmp, final)  # atomic commit marker
        return manifest


def _write_counted(
    df: DataFrame, path: str, mode: str, partition_by: list[str] | None
) -> int:
    """Write ``df`` as parquet and return its row count, observed by the
    write job itself rather than by a second scan of what it wrote."""
    observation = Observation()
    writer = df.observe(observation, F.count(F.lit(1)).alias("rows")).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return observation.get["rows"]
