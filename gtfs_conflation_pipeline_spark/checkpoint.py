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

A pipeline is a stage GRAPH (``CheckpointManager.run_graph``): each
``Stage`` names its dependencies, and a stage is committed on its own thread
as soon as every dependency is committed (or resumed), so independent stages
overlap their fixed costs and fill idle cores. The only bound on
concurrency is the graph's width; there is no serial mode. On the first
failure nothing new is started, the stages already running finish (their
commits stay valid for resume), and the failure is re-raised; every thread
is joined before ``run_graph`` returns.

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
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from functools import partial
from types import MappingProxyType
from typing import NamedTuple

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from .sources import bucketed as B

MANIFEST = "_manifest.json"
# footer key under which Spark's Parquet writer records the written schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class Stage(NamedTuple):
    """One node of a stage graph (``CheckpointManager.run_graph``).

    ``fn(inputs)`` builds the stage's DataFrame from ``inputs``, a read-only
    mapping holding the committed frames of ``deps`` and nothing else, so an
    undeclared read raises ``KeyError``. ``write`` holds the keyword
    arguments of the commit (``CheckpointManager.write``); a ``metrics_fn``
    there is called as ``metrics_fn(inputs, committed)``."""

    name: str
    deps: tuple[str, ...]
    fn: Callable[[Mapping[str, DataFrame]], DataFrame]
    write: dict = {}


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
            return _read_parquet(spark, self._data(stage))
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
            out = _read_parquet(spark, d)

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
        the caller's description is restored after.

        Safe to call for different stages from concurrent threads of one
        session (``run_graph`` does): the description is a thread-local
        property, and each stage writes only its own directory."""
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

    def run_graph(
        self,
        spark: SparkSession,
        stages: Sequence[Stage],
        given: Mapping[str, DataFrame] | None = None,
    ) -> dict[str, DataFrame]:
        """Commit-or-resume every stage of a dependency graph; returns the
        committed frame of each stage by name.

        ``stages`` is in a topological order (every dep is an earlier stage
        or a ``given`` frame). Each stage goes to ``run_stage`` on its own
        thread as soon as all its deps are committed; the thread inherits
        the caller's job group and local properties, so every job still
        carries ``checkpoint:<stage>`` under the caller's group. Outputs do
        not depend on the schedule: a stage sees only its committed inputs.

        On the first failure no further stage is started, the stages already
        running are waited for (their commits stay valid for resume), and
        that failure is re-raised. Every thread is joined before return.
        Since stages share one session concurrently, stage code must never
        mutate session-level conf."""
        frames = dict(given or {})
        _check_graph(stages, frames)
        waiting = list(stages)
        running: dict = {}  # future -> stage name
        failure: BaseException | None = None
        with ThreadPoolExecutor(max_workers=max(1, len(stages))) as pool:
            while True:
                if failure is None:
                    for s in [s for s in waiting if all(d in frames for d in s.deps)]:
                        waiting.remove(s)
                        running[pool.submit(self._commit_task(spark, s, frames))] = s.name
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    name = running.pop(fut)
                    try:
                        frames[name] = fut.result()
                    except BaseException as e:
                        failure = failure or e
        if failure is not None:
            raise failure
        return {s.name: frames[s.name] for s in stages}

    def _commit_task(
        self, spark: SparkSession, stage: Stage, frames: dict[str, DataFrame]
    ) -> Callable[[], DataFrame]:
        """``run_stage`` for one graph stage, bound to its inputs and wrapped
        to carry the calling thread's Spark local properties (captured
        here, on the scheduling thread) into the worker thread."""
        inputs = MappingProxyType({d: frames[d] for d in stage.deps})
        kw = dict(stage.write)
        if "metrics_fn" in kw:
            kw["metrics_fn"] = partial(kw["metrics_fn"], inputs)
        task = partial(self.run_stage, spark, stage.name, partial(stage.fn, inputs), **kw)
        return inheritable_thread_target(spark)(task)

    def invalidate(self, stage: str) -> None:
        shutil.rmtree(self._dir(stage), ignore_errors=True)


def _check_graph(stages: Sequence[Stage], given: Mapping[str, DataFrame]) -> None:
    """Reject a graph ``run_graph`` could not run deterministically: a
    duplicate or shadowing name, a dep that is neither given nor an earlier
    stage, or a ``rows_in_from`` stage of this graph that is not an
    ancestor (its manifest might not be committed yet)."""
    names = {s.name for s in stages}
    ancestors: dict[str, set[str]] = {}
    for s in stages:
        if s.name in ancestors or s.name in given:
            raise ValueError(f"stage {s.name!r} is declared twice")
        missing = [d for d in s.deps if d not in ancestors and d not in given]
        if missing:
            raise ValueError(f"stage {s.name!r}: deps {missing} are not earlier stages or given")
        ancestors[s.name] = set(s.deps).union(*(ancestors.get(d, ()) for d in s.deps))
        src = s.write.get("rows_in_from")
        if src in names and src not in ancestors[s.name]:
            raise ValueError(f"stage {s.name!r}: rows_in_from {src!r} is not an ancestor")


def _read_parquet(spark: SparkSession, data_dir: str) -> DataFrame:
    """Scan a plain-Parquet stage directory with the Spark schema its writer
    recorded in the file footers, so opening it runs no schema-inference
    job. The frame equals an inferring ``spark.read.parquet``: every field
    nullable, and partition columns discovered from the directory names,
    typed by inference and placed last. Files without the footer key (not
    written by Spark) fall back to inference."""
    files = _parquet_files(data_dir)
    meta = (pq.read_schema(files[0]).metadata if files else None) or {}
    if SPARK_SCHEMA_KEY not in meta:
        return spark.read.parquet(data_dir)
    schema = StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(data_dir)


def _file_lineage(data_dir: str, cell_col: str | None) -> list[dict]:
    """Per-file lineage rows of a committed stage, read from the Parquet
    footers under ``data_dir`` (recursively, so partition_by directories
    count), sorted by path; zero-row files are skipped. ``cells_touched`` is
    the exact distinct count of ``cell_col``, read from that file alone."""
    parts = []
    for path in _parquet_files(data_dir):
        n = pq.read_metadata(path).num_rows
        if n:
            part = {"file": os.path.basename(path), "rows_out": n}
            if cell_col:
                cells = pq.read_table(path, columns=[cell_col]).column(0)
                part["cells_touched"] = pc.count_distinct(cells).as_py()
            parts.append(part)
    return parts


def _parquet_files(data_dir: str) -> list[str]:
    """Every Parquet file under ``data_dir`` (recursively, so partition_by
    directories count), sorted by path."""
    pattern = os.path.join(glob.escape(data_dir), "**", "*.parquet")
    return sorted(glob.glob(pattern, recursive=True))
