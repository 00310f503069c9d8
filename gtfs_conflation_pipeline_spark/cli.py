"""CLI — the reference's 9 pipeline commands (run:41-49), re-hosted.

A user of availabs/gtfs-conflation-pipeline runs::

    ./run load_raw_gtfs_into_sqlite --gtfs_zip feed.zip --output_dir d
    ./run gtfs_as_geojson ... gtfs_network ... gtfs_osm_network ...
    ./run scheduled_bus_traffic ... load_conflation_map ...
    ./run gtfs_conflation_map_join ... gtfs_conflation_schedule_join ...
    ./run output_shapefile ...

The same commands here, over a parquet work dir with checkpoint manifests::

    python -m gtfs_conflation_pipeline_spark.cli load_raw_gtfs \
        --gtfs-zip feed.zip --work-dir W
    python -m gtfs_conflation_pipeline_spark.cli load_conflation_map \
        --osm-parquet osm.parquet --work-dir W
    python -m gtfs_conflation_pipeline_spark.cli run_all --work-dir W
    python -m gtfs_conflation_pipeline_spark.cli output_shapefile \
        --work-dir W --out-dir O

Stages are resumable exactly like the reference's per-stage SQLite files:
a completed stage's manifest short-circuits recompute.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

STAGE_ORDER = [
    "gtfs_as_geojson",
    "gtfs_network",
    "gtfs_osm_network",
    "scheduled_bus_traffic",
    "gtfs_conflation_map_join",
    "gtfs_conflation_schedule_join",
]

# reference CLI command -> the engine stages it materializes
STAGE_TABLES = {
    "gtfs_as_geojson": ["geo_shapes", "geo_stops"],
    "gtfs_network": ["net_segments"],
    "gtfs_osm_network": ["matches", "match_paths", "match_scores"],
    "scheduled_bus_traffic": ["service_dates", "scheduled_traffic"],
    "gtfs_conflation_map_join": ["tiles", "cospatiality"],
    "gtfs_conflation_schedule_join": [
        "probe_data",
        "traffic_by_route",
        "traffic",
        "aadt",
    ],
}

RAW_TABLES = [
    "shapes",
    "stops",
    "trips",
    "stop_times",
    "routes",
    "calendar",
    "calendar_dates",
    "feed_info",
]


def _raw_dir(work_dir: str) -> str:
    return f"{work_dir}/raw"


OPTIONAL_DEFAULTS = {
    # GTFS-optional members: absent files degrade to empty/neutral tables so
    # the schedule stages run instead of crashing (calendar-less feeds
    # simply produce empty service_dates)
    "calendar": (
        "service_id string, monday int, tuesday int, wednesday int,"
        " thursday int, friday int, saturday int, sunday int,"
        " start_date string, end_date string"
    ),
    "calendar_dates": "service_id string, date string, exception_type int",
    "feed_info": (
        "feed_publisher_name string, feed_start_date string, feed_end_date string"
    ),
}


def _load_raw(spark: SparkSession, work_dir: str) -> dict:
    raw = {}
    for t in RAW_TABLES:
        try:
            raw[t] = spark.read.parquet(f"{_raw_dir(work_dir)}/{t}.parquet")
        except Exception:  # optional members may be absent from the feed
            if t in OPTIONAL_DEFAULTS:
                rows = (
                    [("unknown", "19700101", "19700108")] if t == "feed_info" else []
                )
                raw[t] = spark.createDataFrame(rows, OPTIONAL_DEFAULTS[t])
    return raw


def cmd_load_raw_gtfs(spark: SparkSession, args) -> None:
    from .sources.gtfs import read_gtfs_zip, typed_raw_tables

    feed = typed_raw_tables(read_gtfs_zip(spark, args.gtfs_zip))
    for name, df in feed.items():
        df.write.mode("overwrite").parquet(f"{_raw_dir(args.work_dir)}/{name}.parquet")
        print(f"raw.{name}: {df.count()} rows")


def cmd_load_conflation_map(spark: SparkSession, args) -> None:
    osm = spark.read.parquet(args.osm_parquet)
    required = {"segment_id", "shst_reference", "networklevel", "length_km", "xs", "ys"}
    missing = required - set(osm.columns)
    if missing:
        sys.exit(f"osm parquet missing columns: {sorted(missing)}")
    osm.write.mode("overwrite").parquet(f"{args.work_dir}/osm/segments.parquet")
    print(f"osm.segments: {osm.count()} rows")


# reference CLI command -> last engine stage it materializes (run_from_raw
# commits every stage declared up to and including `upto`)
STAGE_UPTO = {
    "gtfs_as_geojson": "geo_stops",
    "gtfs_network": "net_segments",
    "gtfs_osm_network": "match_scores",
    "scheduled_bus_traffic": "scheduled_traffic",
    "gtfs_conflation_map_join": "tiles",
    "gtfs_conflation_schedule_join": None,
}


def _run_stages(spark: SparkSession, args, upto_cmd: str) -> None:
    from .checkpoint import CheckpointManager
    from .plans.pipeline import run_from_raw

    raw = _load_raw(spark, args.work_dir)
    if "shapes" not in raw:
        sys.exit("run load_raw_gtfs first (no raw tables in work dir)")
    try:
        osm = spark.read.parquet(f"{args.work_dir}/osm/segments.parquet")
    except Exception:
        sys.exit("run load_conflation_map first (no osm table in work dir)")
    ckpt = CheckpointManager(f"{args.work_dir}/stages", verbose=True)
    out = run_from_raw(spark, raw, osm, ckpt, upto=STAGE_UPTO[upto_cmd])
    for cmd in STAGE_ORDER[: STAGE_ORDER.index(upto_cmd) + 1]:
        for t in STAGE_TABLES[cmd]:
            if t in out:
                print(f"{cmd}: {t} -> {out[t].count()} rows")


def cmd_output_shapefile(spark: SparkSession, args) -> None:
    from .checkpoint import CheckpointManager
    from .plans.pipeline import run_from_raw
    from .sources.sinks import export_layers

    raw = _load_raw(spark, args.work_dir)
    osm = spark.read.parquet(f"{args.work_dir}/osm/segments.parquet")
    ckpt = CheckpointManager(f"{args.work_dir}/stages", verbose=True)
    out = run_from_raw(spark, raw, osm, ckpt)
    written = export_layers(out, args.out_dir)
    for layer, path in written.items():
        print(f"layer {layer}: {path}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="gtfs_conflation_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("load_raw_gtfs", help="stage 1: GTFS zip -> raw tables")
    sp.add_argument("--gtfs-zip", required=True)
    sp.add_argument("--work-dir", required=True)

    sp = sub.add_parser(
        "load_conflation_map", help="stage 6 input: OSM segment parquet"
    )
    sp.add_argument("--osm-parquet", required=True)
    sp.add_argument("--work-dir", required=True)

    for cmd in STAGE_ORDER:
        sp = sub.add_parser(cmd, help=f"run stages up to {cmd}")
        sp.add_argument("--work-dir", required=True)

    sp = sub.add_parser("run_all", help="all stages")
    sp.add_argument("--work-dir", required=True)

    sp = sub.add_parser("output_shapefile", help="stage 9: export layers")
    sp.add_argument("--work-dir", required=True)
    sp.add_argument("--out-dir", required=True)

    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("gtfs_conflation_cli")
    try:
        if args.cmd == "load_raw_gtfs":
            cmd_load_raw_gtfs(spark, args)
        elif args.cmd == "load_conflation_map":
            cmd_load_conflation_map(spark, args)
        elif args.cmd == "output_shapefile":
            cmd_output_shapefile(spark, args)
        elif args.cmd == "run_all":
            _run_stages(spark, args, STAGE_ORDER[-1])
        else:
            _run_stages(spark, args, args.cmd)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
