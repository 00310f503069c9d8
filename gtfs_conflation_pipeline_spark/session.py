"""SparkSession factory.

Local-mode tuned but cluster-shaped: every knob here is one you would also set
on a 1000-executor cluster (AQE, Arrow batching, shuffle partition sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gtfs_conflation_pipeline_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    cores: local[`cores`]; default = $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions defaults to the core count — on a real cluster this
    would be ~2-3x total cores; AQE coalesces down at runtime either way.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores

    if shuffle_partitions is None:
        shuffle_partitions = max(8, ncores)

    # Make this package importable inside Spark Python workers. On a real
    # cluster this is `spark-submit --py-files` / a shipped wheel; in local
    # mode the worker subprocesses inherit PYTHONPATH from the environment.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep coalesced shuffle partitions fine-grained: the Arrow-kernel
        # stages are CPU-bound per row, not byte-bound, so 1MB-min coalescing
        # (the default) under-parallelizes them
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Arrow-kernel stages are CPU-bound per row: target small shuffle
        # partitions so AQE never starves them of tasks
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # storm/pause resilience: under heavy co-tenant memory pressure (or a
        # long driver GC pause on a big cluster) the default 120 s RPC ask
        # timeout kills the scheduler endpoint mid-job — a 16M-image leg died
        # twice to "Cannot find endpoint: CoarseGrainedScheduler" during a
        # load-21 host storm. Large-cluster deployments raise these as a
        # matter of course.
        .config("spark.network.timeout", "600s")
        .config("spark.rpc.askTimeout", "600s")
        # wrap (Java) integer-overflow semantics: the deterministic 64-bit
        # mixes (splitmix64 et al.) rely on modular arithmetic
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # co-located (bucketed) stage storage: allow a table bucketed on a
        # SUBSET of the join keys (shape_id) to co-partition a join on
        # (shape_id, shape_index) — rows with equal full keys are still in
        # equal buckets, so this is semantics-preserving; the 3.3+ default
        # (true) would re-shuffle both sides of every pair-key join
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    # scaling experiments route shuffle/spill through tmpfs to emulate
    # per-executor local disks (a real cluster adds disks with executors;
    # local mode otherwise serializes all parallelism levels on one disk)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def build_pyfiles_zip(zip_path: str | None = None) -> str:
    """Package this library as the zip `spark-submit --py-files` ships to a
    cluster (and ensure_shipped addPyFiles in-process). Rebuilds whenever
    any source is newer than the zip — a stale zip makes workers import old
    code (or miss new modules) silently. Returns the zip path."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if zip_path is None:
        zip_path = os.path.join(
            os.environ.get("TMPDIR", "/tmp"), "gtfs_conflation_pipeline_spark.zip"
        )
    sources = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    ]
    newest_src = max(os.path.getmtime(p) for p in sources)
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        tmp = zip_path + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        os.replace(tmp, zip_path)
    return zip_path


def ensure_shipped(spark: SparkSession) -> None:
    """Make this package importable in Spark Python workers of an externally
    created SparkSession (the driver's, a notebook's): zip the package and
    addPyFile it — the in-process analog of `spark-submit --py-files`.
    Idempotent per session."""
    # runtime-settable SQL confs the engine relies on, applied even to
    # externally created sessions (the driver's): subset-key co-partitioning
    # for the bucketed stage joins (see get_spark)
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    if getattr(spark, "_gtfs_pkg_shipped", False):
        return
    spark.sparkContext.addPyFile(build_pyfiles_zip())
    spark._gtfs_pkg_shipped = True
