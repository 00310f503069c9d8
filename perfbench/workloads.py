"""The three workloads. Each fills ``ctx.e2e`` (end-to-end figures) and, in a
traced run, ``ctx.layers`` (per-module figures), and checks every output
through ``ctx.checker``.

  conflate  spatial_join.conflation_join + tiles.assign_tiles over
            checkpointed fixture inputs whose row order the seed permutes
  pipeline  a fresh plans.pipeline.run_pipeline, then a resume pass
  queries   the twelve headline registry queries, one cold pass then warm
            passes, in a seed-permuted order
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gtfs_conflation_pipeline_spark import fixtures as FX
from gtfs_conflation_pipeline_spark import kernels as K
from gtfs_conflation_pipeline_spark.checkpoint import MANIFEST, CheckpointManager
from gtfs_conflation_pipeline_spark.operators import dedup, snap, spatial_join, tiles
from gtfs_conflation_pipeline_spark.plans import queries as Q
from gtfs_conflation_pipeline_spark.plans.pipeline import geo_shapes_from_raw, run_pipeline

import querydata
from harness import Checker, SparkRuntime, Tracer, digest, median, median_of_units

# Input sizes per scale. `bench` is what BENCHMARK.json runs: sized so that
# every run of every workload fits the per-run time budget on a 4-vCPU box.
# `full` is the 1M-image flagship of bench.py; `smoke` is for the self-test.
SCALES = {
    "smoke": {"conflate_images": 10_000, "pipeline_images": 2_000, "sf": 0.001},
    "bench": {"conflate_images": 40_000, "pipeline_images": 5_000, "sf": 0.01},
    "full": {"conflate_images": 1_000_000, "pipeline_images": 100_000, "sf": 0.1},
}

# bench.py's HEADLINE list, in the same order
HEADLINE = [
    "pricing_summary",
    "region_revenue",
    "range_join",
    "window_rank",
    "window_cumsum",
    "epoch_dow_buckets",
    "knn_1nn",
    "tile_assign",
    "ngram_jaccard",
    "cosine_topk",
    "minhash_lsh",
    "simhash_pairs",
]

# every checkpointed stage of run_pipeline, in write order
PIPELINE_STAGES = [
    "images", "osm_segments",
    "raw_trips", "raw_stop_times", "raw_routes", "raw_calendar",
    "raw_calendar_dates", "raw_feed_info",
    "geo_shapes", "geo_stops", "net_segments", "refined", "matches",
    "match_paths", "tiles", "cospatiality", "match_scores", "service_dates",
    "scheduled_traffic", "probe_data", "traffic_by_route", "traffic", "aadt",
]
FIXTURE_STAGES = ("images", "osm_segments")
# stages whose full contents are hashed once per run (every stage's row
# count is checked on every pass); the flagship outputs
DIGESTED_STAGES = ("matches", "tiles")


@dataclass
class Ctx:
    spark: SparkSession
    scale: dict
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: str  # this run's scratch dir
    cache: str  # inputs kept across runs of one checkout
    tracer: Tracer
    checker: Checker
    runtime: SparkRuntime | None = None
    setup_s: float = 0.0  # input preparation (run.py adds the session start)
    e2e: dict = field(default_factory=dict)  # name -> value
    summary: dict = field(default_factory=dict)  # reported, not in BENCHMARK.json
    layers: dict = field(default_factory=dict)
    trace_cost_s: float = 0.0

    def window_open(self, t_start: float, done: int, min_units: int) -> bool:
        return done < min_units or time.perf_counter() - t_start < self.seconds

    def harvest(self, since: int) -> dict | None:
        """Runtime counters of the executions after `since` (traced runs)."""
        if self.runtime is None:
            return None
        t0 = time.perf_counter()
        out = self.runtime.collect(since)
        self.trace_cost_s += time.perf_counter() - t0
        return out

    def mark(self) -> int:
        return self.runtime.mark() if self.runtime is not None else -1


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def sweep(root: str) -> None:
    """Flush the writeback once, then read every checkpoint byte through
    the page cache, so timed units read warm files (as bench.py does)."""
    os.sync()
    for d, _dirs, files in os.walk(root):
        for fn in files:
            with open(os.path.join(d, fn), "rb") as fh:
                while fh.read(1 << 22):
                    pass


def permuted(df: DataFrame, seed: int, keys: list[str], n_files: int) -> DataFrame:
    """The same rows, laid out in a seed-dependent order across n_files."""
    k = F.xxhash64(F.lit(seed), *keys)
    return (
        df.withColumn("_perm", k)
        .repartitionByRange(n_files, "_perm")
        .sortWithinPartitions("_perm")
        .drop("_perm")
    )


def manifests(root: str, stages) -> dict[str, dict]:
    out = {}
    for s in stages:
        p = os.path.join(root, s, MANIFEST)
        if os.path.exists(p):
            with open(p) as f:
                out[s] = json.load(f)
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def checkpoint_layers(ctx: Ctx, root: str, mans: dict[str, dict], wall_s: float) -> None:
    """checkpoint.* figures of one checkpoint dir written in `wall_s`."""
    write_s = sum(m["wall_sec"] for m in mans.values())
    ctx.layers["checkpoint.write_s"] = write_s
    ctx.layers["checkpoint.bytes_written"] = sum(
        dir_bytes(os.path.join(root, s)) for s in mans
    )
    ctx.layers["checkpoint.between_stages_s"] = wall_s - write_s
    ckpt = CheckpointManager(root)
    read_s = 0.0
    for s in mans:
        _, dt = ctx.tracer.timed("checkpoint.read", lambda s=s: ckpt.read(ctx.spark, s), stage=s)
        read_s += dt
    ctx.layers["checkpoint.read_s"] = read_s


def stage_layers(ctx: Ctx, mans: dict[str, dict]) -> None:
    """stage.* and fixtures.* figures from stage manifests."""
    for s, m in mans.items():
        ctx.layers[f"stage.{s}.wall_s"] = m["wall_sec"]
        ctx.layers[f"stage.{s}.rows_out"] = m["rows_out"]
    ctx.layers["fixtures.gen_s"] = sum(mans[s]["wall_sec"] for s in FIXTURE_STAGES)
    ctx.layers["fixtures.rows"] = sum(mans[s]["rows_out"] for s in FIXTURE_STAGES)


def noop_rows(df: DataFrame, name: str) -> int:
    """Run df through the noop sink; return its row count, observed in the
    same execution."""
    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["rows"])


def _stacks(gx, gy, ox, oy):
    """Group pairs by (vertex count A, vertex count B) into (P, n) stacks,
    as the refine kernel does."""
    groups: dict[tuple[int, int], list[int]] = {}
    for i in range(len(gx)):
        groups.setdefault((len(gx[i]), len(ox[i])), []).append(i)
    return [
        tuple(np.stack([np.asarray(c[i], dtype=np.float64) for i in idx]) for c in (gx, gy, ox, oy))
        for (na, nb), idx in sorted(groups.items())
        if na >= 2 and nb >= 2
    ]


def _best_us(fn, n_items: int) -> float:
    """Best of 5 calls, in microseconds per item."""
    best = None
    for _ in range(5):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best / max(n_items, 1) * 1e6


def kernel_layers(ctx: Ctx, net: DataFrame, osm: DataFrame) -> None:
    """kernels.*: the numpy kernels called directly on a fixed sample of
    candidate pairs and OSM polylines (1 in 16 by key hash)."""
    pairs = (
        spatial_join.candidate_pairs(net, osm)
        .filter(F.xxhash64("shape_id", "shape_index", "segment_id") % 16 == 0)
        .select("shape_id", "shape_index", "segment_id", "g_xs", "g_ys", "o_xs", "o_ys")
        .toPandas()
        .sort_values(["shape_id", "shape_index", "segment_id"])
    )
    segs = (
        osm.filter(F.xxhash64("segment_id") % 16 == 0)
        .select("segment_id", "networklevel", "xs", "ys")
        .toPandas()
        .sort_values("segment_id")
    )
    stacks = _stacks(*(pairs[c].to_numpy() for c in ("g_xs", "g_ys", "o_xs", "o_ys")))
    n_pairs = sum(s[0].shape[0] for s in stacks)

    def corridor():
        for AX, AY, BX, BY in stacks:
            K.corridor_match_batch(AX, AY, BX, BY, radius_km=spatial_join.CORRIDOR_KM)

    def frechet():
        for AX, AY, BX, BY in stacks:
            K.discrete_frechet_km_batch(AX, AY, BX, BY)

    zooms = K.zoom_for_networklevel(segs["networklevel"].to_numpy())
    xs, ys = segs["xs"].to_numpy(), segs["ys"].to_numpy()

    def tile_cover():
        for i in range(len(segs)):
            K.tiles_for_polyline(xs[i], ys[i], int(zooms[i]))

    with ctx.tracer.span("kernels", pairs=n_pairs, polylines=len(segs)):
        ctx.layers["kernels.corridor_us_per_pair"] = _best_us(corridor, n_pairs)
        ctx.layers["kernels.frechet_us_per_pair"] = _best_us(frechet, n_pairs)
        ctx.layers["kernels.tiles_us_per_row"] = _best_us(tile_cover, len(segs))


def flagship_layers(ctx: Ctx, net: DataFrame, osm: DataFrame) -> None:
    """spatial_join.* by phase isolation: each prefix of the conflation
    chain runs through the noop sink, and a phase's time is its chain minus
    the chain before it. Then the kernels.* probes on the same inputs."""
    tr = ctx.tracer
    cands = spatial_join.candidate_pairs(net, osm)
    n_c, t_c = tr.timed("spatial_join.candidates", lambda: noop_rows(cands, "cands"))
    n_r, t_r = tr.timed(
        "spatial_join.refine", lambda: noop_rows(spatial_join.refine(cands), "refined")
    )
    n_x, t_x = tr.timed(
        "spatial_join.choose",
        lambda: noop_rows(spatial_join.conflation_join(net, osm), "chosen"),
    )
    ctx.layers.update(
        {
            "spatial_join.candidates_s": t_c,
            "spatial_join.refine_s": t_r - t_c,
            "spatial_join.choose_s": t_x - t_r,
            "spatial_join.candidate_rows": n_c,
            "spatial_join.refined_rows": n_r,
            "spatial_join.match_rows": n_x,
            "spatial_join.refine_yield": n_r / n_c if n_c else 0.0,
        }
    )
    kernel_layers(ctx, net, osm)


def _traced_extras(ctx: Ctx, fn) -> None:
    """Trace-only work: its wall time is reported as trace.cost_s."""
    t0 = time.perf_counter()
    with ctx.tracer.span("trace.extras"):
        fn()
    ctx.trace_cost_s += time.perf_counter() - t0


# ---------------------------------------------------------------------------
# conflate
# ---------------------------------------------------------------------------


def _source_key(n_images: int) -> str:
    """Cache key of the conflate base fixture: its size and every engine
    source file, so an edited engine never reuses a stale fixture."""
    h = hashlib.sha1(str(n_images).encode())
    pkg = os.path.dirname(FX.__file__)
    for d, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def _base_fixture(ctx: Ctx) -> tuple[str, bool]:
    """The unpermuted conflate inputs (images -> osm_segments, geo_shapes ->
    net_segments), built once per checkout and engine source and reused by
    later runs, as bench.py reuses its setup checkpoints. Returns (dir,
    reused)."""
    spark, n = ctx.spark, ctx.scale["conflate_images"]
    root = os.path.join(ctx.cache, f"conflate-n{n}-{_source_key(n)}")
    if os.path.isdir(root):
        return root, True
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    ckpt = CheckpointManager(tmp)
    images = ckpt.run_stage(
        spark, "images", lambda: FX.images_table(spark, n, with_bytes=False)
    )
    ckpt.run_stage(spark, "osm_segments", lambda: FX.osm_segments_table(spark, n))
    raw = FX.raw_tables(spark, images)
    geo = ckpt.run_stage(spark, "geo_shapes", lambda: geo_shapes_from_raw(raw["shapes"]))
    ckpt.run_stage(
        spark,
        "net_segments",
        lambda: snap.snap_and_slice(
            snap.shapes_with_stop_sequences(geo, raw["stops"], raw["trips"], raw["stop_times"])
        ),
    )
    os.rename(tmp, root)  # complete fixtures only
    return root, False


def _conflate_inputs(ctx: Ctx, root: str):
    """This run's inputs: the base fixture's two join sides rewritten in a
    seed-dependent row order."""
    base, reused = _base_fixture(ctx)
    src = CheckpointManager(base)
    ckpt = CheckpointManager(root)
    n_files = 2 * ctx.cores
    sides = {}
    for stage, keys in (("osm_segments", ["segment_id"]), ("net_segments", ["shape_id", "shape_index"])):
        sides[stage] = ckpt.run_stage(
            ctx.spark,
            stage,
            lambda stage=stage, keys=keys: permuted(
                src.read(ctx.spark, stage), ctx.seed, keys, n_files
            ),
        )
    sweep(root)
    return sides["net_segments"], sides["osm_segments"], base, reused


def conflate(ctx: Ctx) -> None:
    spark, tr, chk = ctx.spark, ctx.tracer, ctx.checker
    root = os.path.join(ctx.work, "conflate")
    # the fixture build runs the first jobs of the session, so it also pays
    # the one-time JIT and Python-worker costs before the timed units
    with tr.span("setup.fixtures") as sp:
        net, osm, base, reused = _conflate_inputs(ctx, root)
    prep_s = ctx.setup_s = sp["end"] - sp["start"]

    def unit():
        matches = spatial_join.conflation_join(net, osm).persist()
        n_m, tm = tr.timed("operators.spatial_join.conflation_join", matches.count)
        tl = tiles.assign_tiles(matches, osm)
        n_t, tt = tr.timed("operators.tiles.assign_tiles", tl.count)
        return matches, tl, n_m, tm, n_t, tt

    units, t_join, t_tiles, runtime = [], [], [], []
    t_win = time.perf_counter()
    while ctx.window_open(t_win, len(units), 3):
        first = not units
        with tr.span("conflate.iteration", i=len(units)):
            mark = ctx.mark()
            got = chk.attempt("conflate", unit)
            if got is None:
                return
            matches, tl, n_m, tm, n_t, tt = got
            units.append(tm + tt)
            t_join.append(tm)
            t_tiles.append(tt)
            unit_rt = ctx.harvest(mark)
            if unit_rt is not None:
                runtime.append(unit_rt)
            chk.check("matches.rows", n_m)
            chk.check("tiles.rows", n_t)
            if first:
                chk.attempt("matches.digest", lambda: chk.check("matches.digest", digest(matches)))
                chk.attempt("tiles.digest", lambda: chk.check("tiles.digest", digest(tl)))
            matches.unpersist()

    warm = units[1:]
    ctx.e2e["cold_s"] = units[0]
    ctx.e2e["run_s"] = median(warm)
    ctx.e2e["rows_per_s"] = ctx.scale["conflate_images"] / ctx.e2e["run_s"]
    ctx.summary.update(
        {"n_units": len(warm), "matches": n_m, "tiles": n_t,
         "join_s": median(t_join[1:]), "tiles_s": median(t_tiles[1:]), "fixture_reused": reused}
    )
    if not ctx.trace:
        return

    def extras():
        checkpoint_layers(ctx, root, manifests(root, ["osm_segments", "net_segments"]), prep_s)
        stage_layers(ctx, manifests(base, ["images", "osm_segments", "geo_shapes", "net_segments"]))
        ctx.layers.update(median_of_units(runtime))
        ctx.layers["tiles.assign_s"] = median(t_tiles[1:])
        ctx.layers["tiles.rows"] = n_t
        flagship_layers(ctx, net, osm)

    _traced_extras(ctx, extras)


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------


def pipeline(ctx: Ctx) -> None:
    spark, tr, chk = ctx.spark, ctx.tracer, ctx.checker
    n = ctx.scale["pipeline_images"]
    # No input preparation: the fixture is the pipeline's own `images`
    # stage. The first fresh run is also the cold one: it pays the
    # session's one-time JIT, codegen and Python-worker costs (about 20 s on
    # 4 vCPU); one fresh run plus a resume pass is what fits one run's time
    # budget. n_buckets is sized to the cores, as run_pipeline's docstring
    # asks; its default of 32 matches local[32].
    fresh, resume, runtime = [], [], []
    t_win = time.perf_counter()
    while ctx.window_open(t_win, len(fresh), 1):
        root = os.path.join(ctx.work, f"pipeline{len(fresh)}")
        mark = ctx.mark()
        out, dt = tr.timed(
            "plans.pipeline.run_pipeline",
            lambda: chk.attempt(
                "run_pipeline", lambda: run_pipeline(spark, n, root, n_buckets=ctx.cores)
            ),
        )
        if out is None:
            return
        fresh.append(dt)
        for s, m in manifests(root, PIPELINE_STAGES).items():
            chk.check(f"rows_out.{s}", m["rows_out"])
        unit_rt = ctx.harvest(mark)
        if unit_rt is not None:
            runtime.append(unit_rt)

        def resume_pass():
            resumed = run_pipeline(spark, n, root, n_buckets=ctx.cores)
            return resumed, {k: df.count() for k, df in resumed.items()}

        with tr.span("plans.pipeline.resume") as sp:
            got = chk.attempt("resume", resume_pass)
        if got is None:
            continue
        out, counts = got
        resume.append(sp["end"] - sp["start"])
        for k, c in counts.items():
            chk.check(f"rows_out.{k}", c)
    for k in DIGESTED_STAGES:
        chk.attempt(f"digest.{k}", lambda k=k: chk.check(f"digest.{k}", digest(out[k])))

    ctx.e2e["cold_s"] = fresh[0]
    ctx.e2e["run_s"] = median(fresh)
    ctx.e2e["rows_per_s"] = n / ctx.e2e["run_s"]
    ctx.summary.update({"n_units": len(fresh), "resume_s": median(resume), "n_resume": len(resume)})
    if not ctx.trace:
        return

    def extras():
        root0 = os.path.join(ctx.work, "pipeline0")
        mans = manifests(root0, PIPELINE_STAGES)
        checkpoint_layers(ctx, root0, mans, fresh[0])
        stage_layers(ctx, mans)
        ctx.layers["checkpoint.resume_s"] = median(resume)
        ctx.layers.update(median_of_units(runtime))
        net, osm = out["net_segments"], out["osm_segments"]
        n_t, t_t = tr.timed(
            "operators.tiles.assign_tiles",
            lambda: tiles.assign_tiles(out["matches"], osm).count(),
        )
        ctx.layers["tiles.assign_s"] = t_t
        ctx.layers["tiles.rows"] = n_t
        flagship_layers(ctx, net, osm)

    _traced_extras(ctx, extras)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _minhash_lsh(spark, sf_dir):
    """Registry `minhash_lsh` minus its parquet cache of the band table
    (which the registry writes under /tmp): the same operator calls."""
    docs = Q._docs_with_dups(spark, sf_dir)
    banded = dedup.minhash_banded(docs, "doc_id", "text")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, banded=banded
    ).orderBy("id_a", "id_b")


def _simhash_pairs(spark, sf_dir):
    """Registry `simhash_pairs` minus its parquet cache of the signatures."""
    sigs = dedup.simhash48(Q._docs_with_dups(spark, sf_dir), "doc_id", "text")
    return dedup.hamming_near_pairs(
        sigs, "doc", "simhash", n_bits=dedup.SIMHASH_BITS, max_hamming=6
    ).orderBy("id_a", "id_b")


def query_fns() -> dict:
    fns = {q: Q.QUERIES[q] for q in HEADLINE}
    fns["minhash_lsh"] = _minhash_lsh
    fns["simhash_pairs"] = _simhash_pairs
    return fns


def queries(ctx: Ctx) -> None:
    spark, tr, chk = ctx.spark, ctx.tracer, ctx.checker
    data = os.path.join(ctx.work, "querydata")
    with tr.span("setup.querydata") as sp:
        rows = querydata.write(ctx.scale["sf"], data)
    ctx.setup_s = sp["end"] - sp["start"]

    fns = query_fns()
    order = list(HEADLINE)
    random.Random(ctx.seed).shuffle(order)
    passes, runtime = [], []
    t_win = time.perf_counter()
    # pass 0 is the cold unit. The warm passes still speed up a little (JIT
    # warm-up goes on), but discarding the first of them did not narrow the
    # run-to-run spread, so every warm pass is a sample.
    while ctx.window_open(t_win, len(passes), 3):
        times = {}
        with tr.span("queries.pass", i=len(passes)):
            mark = ctx.mark()
            for q in order:
                got, dt = tr.timed(
                    f"plans.queries.{q}",
                    lambda q=q: chk.attempt(q, lambda: digest(fns[q](spark, data))),
                )
                times[q] = dt
                if got is not None:
                    chk.check(q, got)
            unit_rt = ctx.harvest(mark)
            if unit_rt is not None and passes:
                runtime.append(unit_rt)
        passes.append(times)

    warm = passes[1:]
    ctx.e2e["cold_s"] = sum(passes[0].values())
    ctx.e2e["run_s"] = median(sum(p.values()) for p in warm)
    ctx.e2e["rows_per_s"] = rows / ctx.e2e["run_s"]
    ctx.summary.update({"n_units": len(warm), "query_order": order, "input_rows": rows})
    if not ctx.trace:
        return

    def extras():
        ctx.layers["fixtures.gen_s"] = ctx.setup_s
        ctx.layers["fixtures.rows"] = rows
        ctx.layers.update(median_of_units(runtime))
        for q in HEADLINE:
            ctx.layers[f"queries.{q}_s"] = median(p[q] for p in warm)
            ctx.layers[f"queries.{q}_cold_s"] = passes[0][q]

    _traced_extras(ctx, extras)


WORKLOADS = {"conflate": conflate, "pipeline": pipeline, "queries": queries}
