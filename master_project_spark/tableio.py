"""Snapshot-committed table IO with manifest-based resume.

The north rule requires every stage to checkpoint per-partition with lineage
so a killed run resumes from the last committed snapshot. The sandbox has no
Iceberg runtime jar, so this is the thin ``TableIO`` fallback from SURVEY.md
§7 ("iceberg | parquet+manifest"): parquet data + a ``_manifest.json``
written LAST (commit point). A stage whose manifest matches the computed
``snapshot_id`` (a fingerprint of stage name + config + input) is skipped on
resume — the Spark-native generalization of the reference's XML-cache probe
(utils.py:38-47, main.py:80-87).

Crash safety: data files may be half-written when a run is killed, but the
manifest is only written after the parquet write action completes, so an
absent/mismatched manifest => recompute (overwrite). Committed == readable.
The previous manifest is DELETED before the data overwrite begins: a re-run
killed mid-overwrite would otherwise leave a stale manifest whose
snapshot_id can still match (same input => same id) while the data under it
is clobbered — the manifest must never outlive the data it describes.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, types as T


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath AND an
    Iceberg catalog is configured. The sandbox ships neither, so the
    parquet+manifest fallback is the tested path; on a real cluster the
    same TableIO surface commits true Iceberg snapshots."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    return any(k.startswith("spark.sql.catalog.")
               for k, _ in spark.sparkContext.getConf().getAll())


class IcebergTableIO:
    """Iceberg backend behind the TableIO surface (north rule: 'every stage
    checkpoints per-partition to Iceberg'). Untestable in this sandbox (no
    runtime jar) — the branch is thin by design: commit() replaces the
    table atomically via writeTo(...).createOrReplace() (Iceberg's own
    snapshot commit), the resume token rides in a table property, and
    per-file lineage comes from the `.files` metadata table instead of
    parquet footers."""

    def __init__(self, spark: SparkSession, namespace: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg backend requested but the Iceberg Spark runtime / "
                "catalog is not configured (set spark.sql.catalog.* and add "
                "the iceberg-spark-runtime jar); use the parquet TableIO "
                "fallback otherwise")
        self.spark, self.namespace = spark, namespace

    def _ident(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def is_committed(self, name: str, snapshot_id: str) -> bool:
        try:
            row = self.spark.sql(
                f"SHOW TBLPROPERTIES {self._ident(name)} ('mps.snapshot')"
            ).collect()
        except Exception:
            return False
        return bool(row) and row[0]["value"] == snapshot_id

    def commit(self, df, name: str, snapshot_id: str,
               partition_by: list[str] | None = None) -> dict:
        w = df.writeTo(self._ident(name)) \
            .tableProperty("mps.snapshot", snapshot_id)
        if partition_by:
            from pyspark.sql import functions as F
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()  # atomic Iceberg snapshot commit
        files = [{"file": r["file_path"], "rows": r["record_count"]}
                 for r in self.spark.sql(
                     f"SELECT file_path, record_count FROM "
                     f"{self._ident(name)}.files").collect()]
        return {"table": name, "snapshot_id": snapshot_id,
                "rows": sum(f["rows"] for f in files),
                "n_files": len(files), "files": files,
                "committed_at": time.time(), "schema": df.schema.jsonValue()}

    def read(self, spark: SparkSession, name: str):
        return spark.read.table(self._ident(name))


def _footer_lineage(path: Path) -> list[dict]:
    """Per-file row counts from parquet footers, read CONCURRENTLY (round-3
    scaling work: the sequential footer scan was pure driver-serial time —
    ~1 ms x cores*4 files x every committed table adds up to seconds of
    Amdahl serial fraction per run; footer reads are IO-bound so a thread
    pool collapses it to ~the slowest single read)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths = sorted(path.rglob("*.parquet"))

    def one(f: Path) -> dict:
        return {"file": str(f.relative_to(path)),
                "rows": pq.ParquetFile(f).metadata.num_rows}

    if len(paths) <= 2:
        return [one(f) for f in paths]
    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
        return list(ex.map(one, paths))


class TableIO:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _data_dir(self, name: str) -> Path:
        return self.root / name

    def _manifest_path(self, name: str) -> Path:
        return self.root / f"{name}._manifest.json"

    def is_committed(self, name: str, snapshot_id: str) -> bool:
        mp = self._manifest_path(name)
        if not mp.exists():
            return False
        try:
            manifest = json.loads(mp.read_text())
        except (json.JSONDecodeError, OSError):
            return False
        return manifest.get("snapshot_id") == snapshot_id

    def commit(self, df: DataFrame, name: str, snapshot_id: str,
               partition_by: list[str] | None = None,
               replace_partitions: list[str] | None = None) -> dict:
        """Write parquet, then the manifest (the commit point) — the only
        writer of a ``_manifest.json``. Returns the manifest, including
        per-file (== per output partition) row counts — the lineage record.

        ``replace_partitions=None`` replaces the whole table. A list selects
        the partition-replacing mode the incremental append uses: only the
        partitions of the single ``partition_by`` column present in ``df``
        are overwritten, and each listed partition absent from ``df`` is
        removed — its content is redefined as empty (a touched partition
        whose rows were all dropped would otherwise keep its stale files).
        The removal runs after the write and before the manifest, so a
        crash in between leaves the table uncommitted, never wrong. ``df``
        must not read the table it replaces unless it is checkpointed (the
        append's rewrite of touched partitions is)."""
        path = self._data_dir(name)
        stale: set = set()
        if replace_partitions:
            (col,) = partition_by
            stale = set(replace_partitions) - {
                r[0] for r in df.select(col).distinct().collect()}
        # invalidate FIRST: once the overwrite starts, the old manifest no
        # longer describes readable data; a kill mid-write must leave the
        # table uncommitted, not committed-but-clobbered
        self._manifest_path(name).unlink(missing_ok=True)
        writer = df.write.mode("overwrite")
        if replace_partitions is not None:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(path))
        for value in stale:
            shutil.rmtree(path / f"{partition_by[0]}={value}",
                          ignore_errors=True)

        # per-file (== per output partition) lineage from parquet footers —
        # a metadata-only operation, no Spark job (on a cluster this is the
        # same footer read the manifest writer would do)
        files = _footer_lineage(path)
        manifest = {
            "table": name,
            "snapshot_id": snapshot_id,
            "rows": sum(f["rows"] for f in files),
            "n_files": len(files),
            "files": files,
            "committed_at": time.time(),
            "schema": df.schema.jsonValue(),
        }
        tmp = self._manifest_path(name).with_suffix(".tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        tmp.replace(self._manifest_path(name))  # atomic commit
        return manifest

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Open a table with the schema its manifest recorded at commit
        time: no footer-inference job runs, and an empty partitioned commit
        (no data files at all, only ``_SUCCESS``) reads as an empty table.
        A table without a recorded schema falls back to inference."""
        m = self.manifest(name)
        reader = spark.read
        if m and m.get("schema"):
            reader = reader.schema(T.StructType.fromJson(m["schema"]))
        return reader.parquet(str(self._data_dir(name)))

    def manifest(self, name: str) -> dict | None:
        mp = self._manifest_path(name)
        return json.loads(mp.read_text()) if mp.exists() else None
