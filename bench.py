#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Times (a) a headline subset of the relational/training-data queries at
$SPARK_GRAFT_SF_DIR and (b) the flagship conflation join + tile assignment
over the synthetic geo fixture, reporting rows/sec.

Scaling evidence (BASELINE north rule, sandbox proxy): with
SPARK_GRAFT_BENCH_SCALING=1, re-runs the flagship phase in fresh subprocesses
at local[8] and local[32] on identical input and reports throughput at both
plus efficiency = (T8 / T32) / 4. Results are recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "1000000"))

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
    # round 4: the two text near-dup signature operators, added after the
    # expression-reuse fix (minhash 65 s -> ~5 s, simhash 21 s -> ~3 s at
    # sf0.1) so regressions of that class get caught by the bench
    "minhash_lsh",
    "simhash_pairs",
]


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_flagship(spark, n_images: int, work_dir: str) -> dict:
    """Setup stages (fixture gen, geo, net) are checkpointed and NOT part of
    the timed region; the timed region is the conflation join + tiling —
    the BASELINE flagship metric."""
    from gtfs_conflation_pipeline_spark import fixtures as FX
    from gtfs_conflation_pipeline_spark.checkpoint import CheckpointManager
    from gtfs_conflation_pipeline_spark.operators import snap, spatial_join, tiles
    from gtfs_conflation_pipeline_spark.plans.pipeline import geo_shapes_from_raw

    ckpt = CheckpointManager(work_dir)
    nf = 32  # setup outputs get >= max-parallelism files so scans never cap tasks
    images = ckpt.run_stage(
        spark, "images", lambda: FX.images_table(spark, n_images, with_bytes=False)
    )
    osm = ckpt.run_stage(
        spark,
        "osm_segments",
        lambda: FX.osm_segments_table(spark, n_images),
        num_files=nf,
    )
    raw = FX.raw_tables(spark, images)
    geo_shapes = ckpt.run_stage(
        spark, "geo_shapes", lambda: geo_shapes_from_raw(raw["shapes"])
    )
    net = ckpt.run_stage(
        spark,
        "net_segments",
        lambda: snap.snap_and_slice(
            snap.shapes_with_stop_sequences(
                geo_shapes, raw["stops"], raw["trips"], raw["stop_times"]
            )
        ),
        num_files=nf,
    )

    # Fresh-workdir hardening (round-4 VERDICT item 1): on a full bench run
    # the timed region starts seconds after the setup stages wrote ~1M
    # images of checkpoints, and both timed iterations could land inside
    # the dirty-page writeback + cold-page window (BENCH_r04 recorded
    # 28.5 s for an 8.4 s engine that way). Flush the writeback ONCE,
    # untimed, then sweep every checkpoint byte through the page cache
    # (plain file reads — a parquet count() only touches footers) so the
    # iteration timing measures the engine, not the disk settling.
    os.sync()
    for root, _dirs, files in os.walk(work_dir):
        for fn in files:
            with open(os.path.join(root, fn), "rb") as fh:
                while fh.read(1 << 22):
                    pass

    # Three iterations: it0 is reported as the cold number (sec_total_cold,
    # for cross-round comparability with the old methodology), the headline
    # is min(it1, it2) — the judge's fresh-dir sample showed it1 can still
    # be ~2x inflated while the next run lands at the warm number, and the
    # co-tenant CPU noise needs a min-of-2 anyway (BENCH/BASELINE.md §5).
    n_iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    best = cold = None
    for it in range(max(2, n_iters)):
        t0 = time.time()
        matches = spatial_join.conflation_join(net, osm).persist()
        n_matches = matches.count()
        t_match = time.time() - t0

        t1 = time.time()
        tl = tiles.assign_tiles(matches, osm)
        n_tiles = tl.count()
        t_tiles = time.time() - t1
        matches.unpersist()
        if it == 0:
            cold = t_match + t_tiles
            if n_iters >= 3:
                continue  # it0 is the cold sample, never the headline
        if best is None or t_match + t_tiles < best[0] + best[1]:
            best = (t_match, t_tiles)
    t_match, t_tiles = best

    wall = t_match + t_tiles
    return {
        "n_images": n_images,
        "n_net_segments": net.count(),
        "n_matches": n_matches,
        "n_tiles": n_tiles,
        "sec_match": round(t_match, 2),
        "sec_tiles": round(t_tiles, 2),
        "sec_total": round(wall, 2),
        "sec_total_cold": round(cold, 2),
        "rows_per_sec": round(n_images / wall, 1),
    }


def flagship_subprocess(cores: int, n_images: int) -> dict:
    """Fresh-JVM flagship run at a given parallelism (scaling evidence).
    Setup checkpoints are shared across core counts — the fixture is
    deterministic, and only the timed region reruns per parallelism."""
    from gtfs_conflation_pipeline_spark import __version__

    work = f"/tmp/spark_graft_bench_scale_{__version__}_n{n_images}"
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_BENCH_IMAGES=str(n_images),
        SPARK_GRAFT_BENCH_WORKDIR=work,
    )
    out = subprocess.run(
        [sys.executable, __file__, "--flagship-only"],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    from gtfs_conflation_pipeline_spark.session import get_spark

    if "--flagship-only" in sys.argv:
        spark = get_spark("bench_flagship", cores=CPUS)
        # default work dir keyed by input scale: a stale checkpoint from a
        # different N_IMAGES must never be resumed (bit a round-3 sample)
        work = os.environ.get(
            "SPARK_GRAFT_BENCH_WORKDIR",
            f"/tmp/spark_graft_bench_c{CPUS}_n{N_IMAGES}",
        )
        res = run_flagship(spark, N_IMAGES, work)
        res["cores"] = CPUS
        print(json.dumps(res))
        spark.stop()
        return

    from gtfs_conflation_pipeline_spark.plans.queries import QUERIES

    spark = get_spark("bench", cores=CPUS)
    # Session warm-up: python-worker spawn, whole-stage-codegen JIT and the
    # parquet reader path are one-time session costs, not query costs — the
    # first timed query used to absorb ~4-5 s of them (round-3 methodology
    # fix, recorded in BENCH/BASELINE.md §5). Queries are then timed
    # min-of-2, matching the flagship's existing min-of-2 discipline on
    # this co-tenant-noisy box.
    spark.range(1 << 22).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    q_times: dict[str, float] = {}
    q_cold: dict[str, float] = {}
    for name in HEADLINE:
        best = None
        for it in range(2):
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).count()
            dt = time.time() - t0
            if it == 0:
                q_cold[name] = round(dt, 3)
            best = dt if best is None else min(best, dt)
        q_times[name] = round(best, 3)

    work = "/tmp/spark_graft_bench_flagship"
    shutil.rmtree(work, ignore_errors=True)
    flag = run_flagship(spark, N_IMAGES, work)
    q_times["flagship_conflation"] = flag["sec_total"]

    # Second flagship row at 4M images (round-5 VERDICT item 7): the scaling
    # evidence runs at 8M while the headline runs at 1M — this row tracks
    # round-over-round perf at a size closer to where the engine is tuned.
    # Output counts are deterministic per (n_images, zoom rules); disable
    # with SPARK_GRAFT_BENCH_4M=0 for quick local loops.
    flag_4m = None
    if os.environ.get("SPARK_GRAFT_BENCH_4M", "1") == "1" and N_IMAGES < 4_000_000:
        work_4m = "/tmp/spark_graft_bench_flagship_4m"
        shutil.rmtree(work_4m, ignore_errors=True)
        flag_4m = run_flagship(spark, 4_000_000, work_4m)
        q_times["flagship_4m"] = flag_4m["sec_total"]
    spark.stop()

    result = {
        "metric": "conflation_join_tile_assign_throughput",
        "value": flag["rows_per_sec"],
        "unit": "rows/sec",
        "queries": q_times,
        "queries_cold": q_cold,
        "sf": sf_of(SF_DIR),
        "flagship": flag,
        "total_query_sec": round(sum(q_times.values()), 2),
    }

    if os.environ.get("SPARK_GRAFT_BENCH_SCALING") == "1":
        lo = flagship_subprocess(8, N_IMAGES)
        hi = flagship_subprocess(32, N_IMAGES)
        eff = (lo["sec_total"] / hi["sec_total"]) / 4.0
        result["scaling"] = {
            "local8": lo,
            "local32": hi,
            "speedup": round(lo["sec_total"] / hi["sec_total"], 3),
            "efficiency": round(eff, 3),
        }

    print(json.dumps(result))


if __name__ == "__main__":
    main()
