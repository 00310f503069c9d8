"""Stage checkpointing with per-partition lineage manifests.

The reference pipeline is 9 sequential CLI stages, each committing into its
own SQLite file (DbService/index.js:27-54) — re-running a stage is safe
because it drops/recreates its tables in one transaction. Our analog
(north-rule requirement): every stage writes Parquet (Iceberg-shaped layout:
``data/`` + ``_manifest/``), plus a per-partition lineage manifest recording
rows out, cells touched and metric counters. A stage whose manifest is
complete is skipped on re-run (idempotent resume); a partial write (no
manifest) is overwritten atomically by the next run.

A stage is computed exactly once: the write is its only job over the
uncommitted lineage. Per-file lineage is read from the Parquet footers of
the committed files (no Spark job), and the stage's ``metrics_fn`` runs on
the committed table, never on the lineage that produced it.

No Iceberg jars ship in this sandbox; the layout and commit protocol are
Iceberg-compatible (atomic replace of data + manifest marker) so the write
format can be swapped via config on a real cluster.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from collections.abc import Callable

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .sources import bucketed as B

MANIFEST = "_manifest.json"


class CheckpointManager:
    def __init__(self, root: str, verbose: bool = False):
        self.root = root
        self.verbose = verbose
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _data(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "data")

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), MANIFEST)

    def _table_name(self, stage: str) -> str:
        """Catalog table name for a bucketed stage: unique per checkpoint
        root so two pipelines (e.g. the entry fixture and a query cache)
        never collide on the same stage name."""
        import hashlib

        h = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:8]
        return f"ckpt_{h}_{stage}".replace("-", "_").replace(".", "_")

    # -- protocol ------------------------------------------------------------
    def is_complete(self, stage: str) -> bool:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                return json.load(f).get("complete", False)
        except (OSError, json.JSONDecodeError):
            return False

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        """Read a completed stage. Bucketed stages come back through the
        catalog so every read carries the bucketed HashPartitioning
        (shuffle-free downstream joins); the catalog row is re-created from
        the manifest's recorded spec when a fresh session lacks it (the
        in-memory catalog dies with the session; the files don't)."""
        spec = None
        if os.path.exists(self._manifest_path(stage)):
            spec = self.manifest(stage).get("bucketed")
        if not spec:
            return spark.read.parquet(self._data(stage))
        tbl = spec["table"]
        d = self._data(stage)
        if B.table_location(spark, tbl) != d:
            B.register_bucketed(
                spark,
                tbl,
                spec["schema_ddl"],
                spec["bucket_cols"],
                spec["n_buckets"],
                d,
                sort_cols=spec.get("sort_cols"),
            )
        return spark.table(tbl)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def write(
        self,
        df: DataFrame,
        stage: str,
        metrics_fn: Callable[[DataFrame], dict] | None = None,
        cell_col: str | None = None,
        num_files: int | None = None,
        rows_in_from: str | None = None,
        partition_by: list[str] | None = None,
        bucket_by: list[str] | None = None,
        n_buckets: int = 32,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        """Write a stage output + per-partition lineage manifest.

        Lineage per written file (== written partition), read from the
        Parquet footers under ``data/``: rows_out, and (if ``cell_col`` is a
        column of cell/tile ids) the exact count of distinct cells in that
        file — the north rule's per-partition metrics (rows in/out, cells
        touched). Zero-row files are not partitions.

        ``metrics_fn`` is applied to the COMMITTED table (re-read from
        ``data/``) before the manifest commit, so recording metrics never
        recomputes the stage. ``wall_sec`` covers write + metrics + lineage.

        ``partition_by``: hive-style partition columns (the parquet analog
        of an Iceberg partition spec) — downstream queries that filter on
        them get partition pruning at the scan.

        ``bucket_by``: write the stage CO-LOCATED on the given join key
        (sources.bucketed): the files still land under ``data/`` as plain
        parquet (external readers — and the DuckDB stage oracles — are
        unaffected), but reads go through the catalog and report the
        bucketed HashPartitioning, so every downstream equi-join or
        aggregation on (a superset of) the bucket key skips its Exchange.
        The bucket spec is recorded in the manifest and re-registered on
        resume in a fresh session.
        """
        spark = df.sparkSession
        d = self._data(stage)
        tmp_manifest = self._manifest_path(stage) + ".tmp"
        if os.path.exists(self._manifest_path(stage)):
            os.remove(self._manifest_path(stage))

        t0 = time.time()
        bucket_spec = None
        if bucket_by:
            if partition_by:
                raise ValueError("bucket_by and partition_by are mutually exclusive")
            tbl = self._table_name(stage)
            B.write_bucketed(
                df, tbl, bucket_by, n_buckets=n_buckets, sort_cols=sort_by, path=d
            )
            out = spark.table(tbl)
            bucket_spec = {
                "table": tbl,
                "bucket_cols": list(bucket_by),
                "n_buckets": n_buckets,
                "sort_cols": list(sort_by) if sort_by else None,
                "schema_ddl": B.schema_ddl(out.schema),
            }
        else:
            if num_files:
                # a stage output that downstream kernel stages scan should
                # have >= cluster-parallelism files, or the scan caps their
                # task count
                df = df.repartition(num_files)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(d)
            out = spark.read.parquet(d)

        metrics = metrics_fn(out) if metrics_fn else {}
        parts = _file_lineage(d, cell_col if cell_col in out.columns else None)
        rows_in = None
        if rows_in_from and self.is_complete(rows_in_from):
            rows_in = self.manifest(rows_in_from).get("rows_out")
        manifest = {
            "stage": stage,
            "complete": True,
            "rows_in": rows_in,
            "rows_in_from": rows_in_from,
            "written_at": time.time(),
            "wall_sec": round(time.time() - t0, 3),
            "rows_out": sum(p["rows_out"] for p in parts),
            "n_partitions": len(parts),
            "bucketed": bucket_spec,
            "partitions": parts,
            "metrics": metrics,
        }
        with open(tmp_manifest, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp_manifest, self._manifest_path(stage))  # atomic commit
        return out

    def run_stage(
        self, spark: SparkSession, stage: str, fn: Callable[[], DataFrame], **write_kw
    ) -> DataFrame:
        """Compute-or-resume: skip ``fn`` entirely if the stage's manifest is
        complete (the reference's per-stage re-runnability, run:41-49);
        otherwise commit ``fn()`` via ``write(**write_kw)``. Every job of the
        compute + commit carries the job description ``checkpoint:<stage>``;
        the caller's description is restored after."""
        if self.is_complete(stage):
            if self.verbose:
                print(f"[ckpt] resume {stage}: skipping compute")
            return self.read(spark, stage)
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"checkpoint:{stage}")
        try:
            return self.write(fn(), stage, **write_kw)
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    def invalidate(self, stage: str) -> None:
        shutil.rmtree(self._dir(stage), ignore_errors=True)


def _file_lineage(data_dir: str, cell_col: str | None) -> list[dict]:
    """Per-file lineage rows of a committed stage, read from the Parquet
    footers under ``data_dir`` (recursively, so partition_by directories
    count), sorted by path; zero-row files are skipped. ``cells_touched`` is
    the exact distinct count of ``cell_col``, read from that file alone."""
    pattern = os.path.join(glob.escape(data_dir), "**", "*.parquet")
    parts = []
    for path in sorted(glob.glob(pattern, recursive=True)):
        n = pq.read_metadata(path).num_rows
        if n:
            part = {"file": os.path.basename(path), "rows_out": n}
            if cell_col:
                cells = pq.read_table(path, columns=[cell_col]).column(0)
                part["cells_touched"] = pc.count_distinct(cells).as_py()
            parts.append(part)
    return parts
