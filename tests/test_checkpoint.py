"""Checkpoint commit protocol: per-file lineage read from Parquet footers
agrees with a Spark scan of the written files, every stage is computed
exactly once, every job of a stage commit carries the stage's label, and
the stage-graph runner commits independent stages concurrently, stops on
the first failure and hands each stage only its declared inputs."""

import os
import sys
import threading
import time
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from gtfs_conflation_pipeline_spark.checkpoint import CheckpointManager, Stage


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


def _group_job_descs(sc, group):
    """Descriptions of every job the status store lists under ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return [
        _opt(job.description())
        for job in (jobs.apply(i) for i in range(jobs.size()))
        if _opt(job.jobGroup()) == group
    ]


def _clear_job_group(sc):
    for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(prop, None)


SCHEMA_CASES = [c for c in CASES if c[0] != "bucketed"]


@pytest.mark.parametrize("case,n,opts", SCHEMA_CASES, ids=[c[0] for c in SCHEMA_CASES])
def test_commit_frame_has_the_resume_schema(spark, tmp_path, case, n, opts):
    """A plain commit reads its files back with the written schema instead
    of inferring it: the frame ``write`` returns has exactly the schema of
    an inferring scan and of ``read`` on resume (every field nullable,
    partition columns last and typed as inference types them), and the
    plain commit's only job is its Parquet write (an inferring read-back
    added a second, one-task job)."""
    sc = spark.sparkContext
    ck = CheckpointManager(str(tmp_path / "store"))
    df = _source(spark, n).withColumn("p", F.col("id") % 3).withColumn(
        "xs", F.transform(F.array("id", "cell"), lambda x: x * 0.5)
    )
    group = f"ckpt_schema_{case}_{os.getpid()}"
    sc.setJobGroup(group, "schema")
    try:
        out = ck.write(df, case, **opts)
    finally:
        _clear_job_group(sc)
    if case == "plain":
        assert len(_group_job_descs(sc, group)) == 1
    inferred = spark.read.parquet(os.path.join(ck.root, case, "data")).schema
    assert out.schema == inferred == CheckpointManager(ck.root).read(spark, case).schema
    assert all(f.nullable for f in out.schema.fields)
    if "partition_by" in opts:
        assert out.columns[-1] == "p"
    assert out.count() == n


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
        _clear_job_group(sc)

    assert seen.value == n
    assert ck.manifest("counted")["metrics"] == {"rows": n}
    assert out.count() == n
    data_dir = os.path.join(os.path.abspath(ck.root), "counted", "data") + os.sep
    assert handed["files"]
    assert all(urlparse(f).path.startswith(data_dir) for f in handed["files"])

    descs = _group_job_descs(sc, group)
    assert descs and set(descs) == {"checkpoint:counted"}


# ---------------------------------------------------------------------------
# stage-graph runner
# ---------------------------------------------------------------------------


def _frame(spark, n=50):
    return spark.range(0, n, numPartitions=2)


def test_run_graph_runs_independent_stages_concurrently(spark, tmp_path):
    """Two independent stages each wait on one two-party barrier while
    building their frame: a serial runner breaks the barrier (timeout)."""
    barrier = threading.Barrier(2, timeout=30)

    def meet(i):
        barrier.wait()
        return _frame(spark)

    ck = CheckpointManager(str(tmp_path / "store"))
    out = ck.run_graph(
        spark,
        [
            Stage("left", (), meet),
            Stage("right", (), meet),
            Stage("both", ("left", "right"), lambda i: i["left"].union(i["right"])),
        ],
    )
    assert list(out) == ["left", "right", "both"]
    assert out["both"].count() == 100
    assert all(ck.is_complete(s) for s in out)


def test_run_graph_failure_stops_dependents_and_keeps_running_commits(spark, tmp_path):
    """The failing stage's own exception is re-raised, its dependents are
    never started (no manifest), an independent stage that was running
    when it failed is still committed, and a re-run resumes that stage
    without recomputing it."""

    class Boom(Exception):
        pass

    boom = Boom("stage failed")
    barrier = threading.Barrier(2, timeout=30)
    built = []
    started = []

    def side(i):
        built.append("side")
        barrier.wait()
        return _frame(spark)

    def fail(i):
        barrier.wait()
        raise boom

    def dependent(i):
        started.append("after")
        return i["fails"]

    def graph(fails):
        return [
            Stage("side", (), side),
            Stage("fails", (), fails),
            Stage("after", ("fails",), dependent),
        ]

    ck = CheckpointManager(str(tmp_path / "store"))
    with pytest.raises(Boom) as err:
        ck.run_graph(spark, graph(fail))
    assert err.value is boom
    assert ck.is_complete("side") and built == ["side"]
    assert not started
    assert not os.path.exists(os.path.join(ck.root, "after", "_manifest.json"))
    assert not ck.is_complete("fails")

    manifest = os.path.join(ck.root, "side", "_manifest.json")
    mtime = os.path.getmtime(manifest)
    out = ck.run_graph(spark, graph(lambda i: _frame(spark, 7)))
    assert built == ["side"] and started == ["after"]
    assert os.path.getmtime(manifest) == mtime
    assert out["after"].count() == 7


def test_run_graph_hands_a_stage_only_its_declared_inputs(spark, tmp_path):
    ck = CheckpointManager(str(tmp_path / "store"))
    with pytest.raises(KeyError):
        ck.run_graph(
            spark,
            [
                Stage("a", (), lambda i: _frame(spark)),
                Stage("b", (), lambda i: _frame(spark)),
                Stage("c", ("a",), lambda i: i["a"].union(i["b"])),
            ],
        )
    assert not ck.is_complete("c")


@pytest.mark.parametrize(
    "stages",
    [
        [Stage("a", ("b",), None), Stage("b", (), None)],
        [Stage("a", (), None), Stage("a", (), None)],
        [
            Stage("a", (), None),
            Stage("b", (), None),
            Stage("c", ("a",), None, {"rows_in_from": "b"}),
        ],
    ],
    ids=["dep_not_earlier", "duplicate", "rows_in_from_not_ancestor"],
)
def test_run_graph_rejects_graphs_it_cannot_order(spark, tmp_path, stages):
    ck = CheckpointManager(str(tmp_path / "store"))
    with pytest.raises(ValueError):
        ck.run_graph(spark, stages)
    assert not os.listdir(ck.root)


def test_run_graph_labels_every_job_under_the_callers_group(spark, tmp_path):
    """Stage threads inherit the caller's job group: every job of a small
    graph carries ``checkpoint:<stage>``, each stage has at least one job,
    and the caller's own description is untouched."""
    sc = spark.sparkContext
    ck = CheckpointManager(str(tmp_path / "store"))
    group = f"ckpt_graph_{os.getpid()}"
    sc.setJobGroup(group, "caller description")
    try:
        ck.run_graph(
            spark,
            [
                Stage("a", (), lambda i: _frame(spark)),
                Stage("b", ("a",), lambda i: i["a"].withColumn("x", F.col("id") * 2)),
                Stage(
                    "c",
                    ("a",),
                    lambda i: i["a"].groupBy((F.col("id") % 3).alias("k")).count(),
                    {"metrics_fn": lambda i, df: {"rows": df.count()}},
                ),
            ],
        )
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        _clear_job_group(sc)
    descs = _group_job_descs(sc, group)
    assert set(descs) == {"checkpoint:a", "checkpoint:b", "checkpoint:c"}
    assert ck.manifest("c")["metrics"] == {"rows": 3}


def test_raw_derivation_runs_once_under_concurrent_stages(monkeypatch):
    """The raw-table derivation that run_pipeline's raw_*, geo_shapes and
    geo_stops stages share is computed once, however many stage threads
    ask for it at the same moment."""
    from types import SimpleNamespace

    from gtfs_conflation_pipeline_spark import fixtures as FX
    from gtfs_conflation_pipeline_spark.plans.pipeline import _Raw

    calls = []

    def derive(spark, images):
        calls.append(images)
        time.sleep(0.01)
        return {"shapes": object()}

    monkeypatch.setattr(FX, "raw_tables", derive)
    raw = _Raw(derived=("shapes", "stops"))
    images = SimpleNamespace(sparkSession=None)
    n = 32
    barrier = threading.Barrier(n, timeout=30)
    got = []

    def ask():
        barrier.wait()
        got.append(raw.from_images(images))

    threads = [threading.Thread(target=ask) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(got) == n and all(g is got[0] for g in got)


def test_run_pipeline_jobs_all_carry_a_stage_label(spark, tmp_path, monkeypatch):
    """No job of a fresh pipeline run is unlabelled: the raw-table
    derivation (one images.count() job) runs once, inside a stage."""
    from gtfs_conflation_pipeline_spark import fixtures as FX
    from gtfs_conflation_pipeline_spark.plans.pipeline import run_pipeline

    derived = []
    real = FX.raw_tables

    def counted(spark, images):
        derived.append(images)
        return real(spark, images)

    monkeypatch.setattr(FX, "raw_tables", counted)
    sc = spark.sparkContext
    group = f"ckpt_pipeline_{os.getpid()}"
    sc.setJobGroup(group, "caller description")
    try:
        run_pipeline(spark, 500, str(tmp_path / "ck"), partitions=4, n_buckets=4)
    finally:
        _clear_job_group(sc)
    descs = _group_job_descs(sc, group)
    assert descs
    assert [d for d in descs if not (d or "").startswith("checkpoint:")] == []
    assert len(derived) == 1
