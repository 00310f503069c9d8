"""Checkpoint commit protocol: per-file lineage read from Parquet footers
agrees with a Spark scan of the written files, every stage is computed
exactly once, and every job of a stage commit carries the stage's label."""

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from gtfs_conflation_pipeline_spark.checkpoint import CheckpointManager


def _source(spark, n=500):
    return spark.range(0, n, numPartitions=3).withColumn("cell", F.col("id") % 37)


# (case, rows, write options); partition_by is also the only write option
# that needs the recursive file search
CASES = [
    ("plain", 500, {}),
    ("num_files", 500, {"num_files": 5}),
    ("partition_by", 500, {"partition_by": ["p"]}),
    ("bucketed", 500, {"bucket_by": ["cell"], "n_buckets": 4}),
    ("empty", 0, {}),
]


def _scan_lineage(spark, data_dir):
    """The per-file lineage as a Spark job over the written files would
    count it: rows and exact distinct cells grouped by input file."""
    rows = (
        spark.read.parquet(data_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count(F.lit(1)).alias("rows_out"),
            F.countDistinct("cell").alias("cells_touched"),
        )
        .collect()
    )
    return sorted(
        (r["f"].rsplit("/", 1)[-1], r["rows_out"], r["cells_touched"]) for r in rows
    )


@pytest.mark.parametrize("case,n,opts", CASES, ids=[c[0] for c in CASES])
def test_footer_lineage_matches_file_scan(spark, tmp_path, case, n, opts):
    import pyarrow.parquet as pq

    ck = CheckpointManager(str(tmp_path / "store"))
    df = _source(spark, n).withColumn("p", F.col("id") % 3)
    ck.write(df, case, cell_col="cell", **opts)
    m = ck.manifest(case)
    data_dir = os.path.join(ck.root, case, "data")

    got = sorted((p["file"], p["rows_out"], p["cells_touched"]) for p in m["partitions"])
    assert got == _scan_lineage(spark, data_dir)
    assert m["rows_out"] == sum(p["rows_out"] for p in m["partitions"]) == n
    assert all(p["rows_out"] > 0 for p in m["partitions"])
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(data_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    nonempty = [f for f in files if pq.read_metadata(f).num_rows]
    assert m["n_partitions"] == len(nonempty)
    if case == "empty":
        # the writer leaves a schema-only file; it is not a partition
        assert files and not nonempty
    if case == "num_files":
        assert m["n_partitions"] == 5
    if case == "partition_by":
        assert {os.path.basename(os.path.dirname(f)) for f in files} == {
            "p=0",
            "p=1",
            "p=2",
        }


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def test_run_stage_computes_once_and_labels_its_jobs(spark, tmp_path):
    """The stage kernel sees each input row once (metrics come from the
    committed table, not a second evaluation of the lineage), the frame
    handed to metrics_fn reads only the stage's committed files, and every
    job of the commit carries the stage label while the caller's job
    description survives the call."""
    sc = spark.sparkContext
    n = 1000
    seen = sc.accumulator(0)

    def kernel(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    handed = {}

    def metrics_fn(df):
        handed["files"] = df.inputFiles()
        return {"rows": df.count()}

    ck = CheckpointManager(str(tmp_path / "store"))
    group = f"ckpt_label_{os.getpid()}"
    sc.setJobGroup(group, "caller description")
    try:
        out = ck.run_stage(
            spark,
            "counted",
            lambda: spark.range(0, n, numPartitions=4).mapInPandas(kernel, "id long"),
            metrics_fn=metrics_fn,
        )
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)

    assert seen.value == n
    assert ck.manifest("counted")["metrics"] == {"rows": n}
    assert out.count() == n
    data_dir = os.path.join(os.path.abspath(ck.root), "counted", "data") + os.sep
    assert handed["files"]
    assert all(urlparse(f).path.startswith(data_dir) for f in handed["files"])

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    descs = [
        _opt(job.description())
        for job in (jobs.apply(i) for i in range(jobs.size()))
        if _opt(job.jobGroup()) == group
    ]
    assert descs and set(descs) == {"checkpoint:counted"}
