"""End-to-end conflation pipeline — the reference's 9 CLI stages re-planned
as checkpointed DataFrame transformations (SURVEY.md §1.4 stage table).

Stage graph (each checkpointed with a per-partition lineage manifest;
``<- deps``, in declaration order):

  images             <- (none)  the input_hint table (generated fixture; on a
                        real cluster this is the pre-existing Iceberg table)
  osm_segments       <- (none)  the OSM/conflation-map side (stage 6 analog)
  raw_<table>        <- images  trips, stop_times, routes, calendar,
                        calendar_dates, feed_info (run_pipeline only; shapes
                        and stops are derived from images, uncheckpointed)
  geo_shapes         <- shapes  stage 2: shape points -> polylines
  geo_stops          <- stops   stage 2: stops as typed points
  net_segments       <- geo_shapes, geo_stops, trips, stop_times
                        stage 3: stop-snapped stop-to-stop slices (prefers
                        stop_times.shape_dist_traveled when present)
  refined            <- net_segments, osm_segments
                        stage 4: cell-bucketed filter-refine candidates
  matches            <- refined, net_segments
                        stage 4+7: greedy interval cover + along ranking
  match_paths        <- refined, net_segments, osm_segments
                        stage 4 Pass-B: graph path choice decomposition
                        (gtfs_shape_shst_match_paths analog)
  cospatiality       <- osm_segments
                        stage 7: map_segments_cospatiality pair table
  tiles              <- matches, osm_segments
                        stage 9: raster-tile assignment per matched segment
  match_scores       <- matches, net_segments, osm_segments
  service_dates      <- calendar, calendar_dates     (schedule side, stage 5)
  scheduled_traffic  <- trips, stop_times, net_segments
  probe_data         <- scheduled_traffic, matches   (stage 8)
  traffic_by_route   <- probe_data, routes, service_dates, feed_info
  traffic, aadt      <- traffic_by_route

The graph runs through `CheckpointManager.run_graph`: each stage is
committed on its own thread as soon as its deps are, so the raw tables,
geo_stops, cospatiality and the schedule side overlap the conflation chain
(images -> raw -> geo_shapes -> net_segments -> refined -> matches ->
probe_data -> traffic_by_route -> aadt is the critical path). Every stage is
resumable: a stage whose manifest is complete is read instead of computed,
so a killed run resumes from its durable stages (reference analog: each CLI
stage re-runnable from its SQLite files, run:41-49).
"""

from __future__ import annotations

import threading
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures as FX
from ..checkpoint import CheckpointManager, Stage
from ..functions import udfs as U
from ..operators import graph_paths, scoring, snap, spatial_join, tiles
from . import schedule


def geo_shapes_from_raw(raw_shapes: DataFrame) -> DataFrame:
    """Stage 2 analog: assemble shape polylines from shape points.

    The ONE unavoidable big shuffle at 10^12 scale (points -> polylines);
    keys are uniform (fixed points per shape) so no salting is needed, and
    AQE sizes the post-shuffle partitions. Everything else is JVM-side
    higher-order array ops; only length/geoprox run as Arrow kernels.
    """
    return (
        raw_shapes.groupBy("shape_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("shape_pt_sequence", "shape_pt_lon", "shape_pt_lat")
                )
            ).alias("pts")
        )
        .select(
            "shape_id",
            F.transform("pts", lambda p: p["shape_pt_lon"]).alias("xs"),
            F.transform("pts", lambda p: p["shape_pt_lat"]).alias("ys"),
        )
        .withColumn("length_km", U.length_km("xs", "ys"))
        .withColumn("cell", U.cell_of(F.element_at("xs", 1), F.element_at("ys", 1), F.lit(spatial_join.CELL_DEG)))
    )


# the raw tables run_pipeline checkpoints as raw_<table> stages
CHECKPOINTED_RAW = ("trips", "stop_times", "routes", "calendar", "calendar_dates", "feed_info")


def run_pipeline(
    spark: SparkSession,
    n_images: int,
    ckpt_dir: str,
    partitions: int | None = None,
    verbose: bool = False,
    n_buckets: int | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline over the synthetic image fixture;
    returns every stage's DataFrame (the raw_* tables excepted).

    ``n_buckets`` sizes every bucketed stage table (see run_from_raw): a
    bucketed SCAN is one task per bucket (buckets never split), so size it
    to AT LEAST the target read parallelism. The default is the session's
    ``defaultParallelism`` (its total cores); a 1000-executor cluster
    wants 4-16k. Outputs are identical at any value (asserted in tests at
    8 vs 64)."""
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism
    ckpt = CheckpointManager(ckpt_dir, verbose=verbose)
    raw = _Raw(derived=("shapes", "stops"))
    stages = [
        Stage("images", (), lambda i: FX.images_table(spark, n_images, partitions=partitions)),
        Stage(
            "osm_segments",
            (),
            lambda i: FX.osm_segments_table(spark, n_images, partitions=partitions),
            {"bucket_by": ["segment_id"], "n_buckets": n_buckets},
        ),
        # checkpoint the relational raw tables (tiny): downstream schedule
        # stages re-read them cheaply, and each stage's parquet inputs are
        # independently readable by external engines (the DuckDB stage
        # oracles read these)
        *(
            Stage(f"raw_{t}", ("images",), lambda i, t=t: raw.from_images(i["images"])[t])
            for t in CHECKPOINTED_RAW
        ),
        *_stage_graph(raw, n_buckets),
    ]
    out = ckpt.run_graph(spark, stages)
    return {k: v for k, v in out.items() if not k.startswith("raw_")}


def run_from_raw(
    spark: SparkSession,
    raw: dict[str, DataFrame],
    osm_segments: DataFrame,
    ckpt: CheckpointManager,
    upto: str | None = None,
    n_buckets: int | None = None,
) -> dict[str, DataFrame]:
    """Stages 2-9 over ANY raw GTFS tables + OSM segment table — the entry
    point a user of the reference CLI migrates to (cli.py wraps this).
    ``upto`` names the last stage to materialize (per-stage CLI semantics):
    every stage declared up to and including it runs, in the module
    docstring's order, so its dependencies always do. ``n_buckets`` as in
    run_pipeline (default: the session's ``defaultParallelism``)."""
    stages = _stage_graph(_Raw(), n_buckets or spark.sparkContext.defaultParallelism)
    if upto is not None:
        names = [s.name for s in stages]
        if upto not in names:
            raise ValueError(f"unknown stage {upto!r}; expected one of {names}")
        stages = stages[: names.index(upto) + 1]
    given = {f"raw_{k}": v for k, v in raw.items()}
    given["osm_segments"] = osm_segments
    return {"osm_segments": osm_segments, **ckpt.run_graph(spark, stages, given)}


class _Raw:
    """Where the stage graph reads raw GTFS table ``t``: the input
    ``raw_<t>`` (a given frame or a raw_* stage), or, for ``derived``
    tables, ``fixtures.raw_tables`` over the committed ``images`` stage.
    That derivation runs once per run (one ``images.count()`` job, under
    the label of the first stage that needs it), shared by every thread."""

    def __init__(self, derived: tuple[str, ...] = ()):
        self.derived = derived
        self._lock = threading.Lock()
        self._tables: dict[str, DataFrame] | None = None

    def dep(self, t: str) -> str:
        return "images" if t in self.derived else f"raw_{t}"

    def get(self, inputs: Mapping[str, DataFrame], t: str) -> DataFrame:
        if t in self.derived:
            return self.from_images(inputs["images"])[t]
        return inputs[f"raw_{t}"]

    def from_images(self, images: DataFrame) -> dict[str, DataFrame]:
        with self._lock:
            if self._tables is None:
                self._tables = FX.raw_tables(images.sparkSession, images)
            return self._tables


def _stage_graph(raw: _Raw, n_buckets: int) -> list[Stage]:
    """Stages 2-9 (module docstring), in declaration order; raw GTFS
    tables come through ``raw``."""

    def _net(i) -> DataFrame:
        sws = snap.shapes_with_stop_sequences(
            i["geo_shapes"], i["geo_stops"], raw.get(i, "trips"), raw.get(i, "stop_times")
        )
        return snap.snap_and_slice(sws)

    def _net_metrics(i, df: DataFrame) -> dict:
        # slice-boundary provenance (shape_dist_traveled vs geometric snap;
        # 'fallback' = failed the reference's +-10% unit sanity invariant)
        # + the stop-sequence conflict counter (reference generators.js:207-227
        # throws; we collapse deterministically and COUNT)
        src = {r["dist_source"]: r["count"] for r in df.groupBy("dist_source").count().collect()}
        conflicts = snap.stop_sequence_conflicts(
            raw.get(i, "trips"), raw.get(i, "stop_times")
        ).count()
        return {"dist_source": src, "stop_sequence_conflicts": conflicts}

    # net_segments / refined / matches / scheduled_traffic are written
    # BUCKETED on shape_id (co-located storage, sources.bucketed): every
    # downstream equi-join or groupBy whose keys include shape_id — the
    # refined x g_len attach, the choose-stage collect_list + rank window,
    # and the probe_data traffic x matches join — then runs with NO
    # Exchange (HashPartitioning on a subset of the clustering keys
    # satisfies the distribution). Asserted by
    # tests/test_pipeline_e2e.py::test_pipeline_stage_joins_are_shuffle_free.
    on_shape = {
        "bucket_by": ["shape_id"],
        "n_buckets": n_buckets,
        "sort_by": ["shape_id", "shape_index"],
    }

    def _matches(i) -> DataFrame:
        g_len = i["net_segments"].select(
            "shape_id", "shape_index", F.col("length_km").alias("g_len_km")
        )
        return spatial_join.choose_matches(
            i["refined"].join(g_len, ["shape_id", "shape_index"])
        )

    def _traffic_metrics(i, df: DataFrame) -> dict:
        # feed-level row-count reconciliation (the reference's runtime
        # invariant, GtfsScheduledTrafficDAO/loaders.js:86-104): every trip
        # with S stop visits should produce S-1 spans; shortfall = spans
        # dropped by segment-join misses / degenerate slices. Recorded, not
        # thrown — inspect the manifest when it drifts.
        n_spans = df.count()
        n_st = raw.get(i, "stop_times").count()
        n_trips = raw.get(i, "trips").select("trip_id").distinct().count()
        return {
            "spans": n_spans,
            "expected_spans": n_st - n_trips,
            "reconciliation_shortfall": (n_st - n_trips) - n_spans,
        }

    return [
        Stage(
            "geo_shapes",
            (raw.dep("shapes"),),
            lambda i: geo_shapes_from_raw(raw.get(i, "shapes")),
            {"cell_col": "cell", "rows_in_from": "images"},
        ),
        Stage(
            "geo_stops",
            (raw.dep("stops"),),
            lambda i: raw.get(i, "stops"),
            {"rows_in_from": "images"},
        ),
        Stage(
            "net_segments",
            ("geo_shapes", "geo_stops", raw.dep("trips"), raw.dep("stop_times")),
            _net,
            {"metrics_fn": _net_metrics, "rows_in_from": "geo_shapes", **on_shape},
        ),
        # filter-refine output is its own stage: BOTH choosers (the greedy
        # interval cover and the full Pass-B graph chooser) consume it, so
        # the expensive corridor refine runs exactly once
        Stage(
            "refined",
            ("net_segments", "osm_segments"),
            lambda i: spatial_join.refine(
                spatial_join.candidate_pairs(i["net_segments"], i["osm_segments"])
            ),
            {"rows_in_from": "net_segments", **on_shape},
        ),
        Stage(
            "matches",
            ("refined", "net_segments"),
            _matches,
            {
                "metrics_fn": lambda i, df: {
                    "matched_segments": df.select("shape_id", "shape_index")
                    .distinct()
                    .count()
                },
                "rows_in_from": "refined",
                **on_shape,
            },
        ),
        # Pass-B graph path choice over the same refined candidates — the
        # reference's gtfs_shape_shst_match_paths table
        # (GtfsOsmNetworkDAO/loaders.js:88-157)
        Stage(
            "match_paths",
            ("refined", "net_segments", "osm_segments"),
            lambda i: graph_paths.match_paths_table(
                i["refined"], i["net_segments"], i["osm_segments"]
            ),
            {"rows_in_from": "refined"},
        ),
        # stage-7 standalone cospatiality pair table over the conflation map
        # (map_segments_cospatiality, createTableFns.js:3-24)
        Stage(
            "cospatiality",
            ("osm_segments",),
            lambda i: spatial_join.map_segments_cospatiality(i["osm_segments"]),
            {"rows_in_from": "osm_segments"},
        ),
        Stage(
            "tiles",
            ("matches", "osm_segments"),
            lambda i: tiles.assign_tiles(i["matches"], i["osm_segments"]),
            {"cell_col": "tile_id", "rows_in_from": "matches"},
        ),
        Stage(
            "match_scores",
            ("matches", "net_segments", "osm_segments"),
            lambda i: scoring.score_matches(
                i["matches"], i["net_segments"], i["osm_segments"]
            ),
            {"rows_in_from": "matches"},
        ),
        # schedule side (reference stages 5 + 8)
        Stage(
            "service_dates",
            (raw.dep("calendar"), raw.dep("calendar_dates")),
            lambda i: schedule.service_dates(
                raw.get(i, "calendar"), raw.get(i, "calendar_dates")
            ),
        ),
        Stage(
            "scheduled_traffic",
            (raw.dep("trips"), raw.dep("stop_times"), "net_segments"),
            lambda i: schedule.scheduled_traffic(
                raw.get(i, "trips"), raw.get(i, "stop_times"), i["net_segments"]
            ),
            {"metrics_fn": _traffic_metrics, "bucket_by": ["shape_id"], "n_buckets": n_buckets},
        ),
        Stage(
            "probe_data",
            ("scheduled_traffic", "matches"),
            lambda i: schedule.probe_data(i["scheduled_traffic"], i["matches"]),
            # segment_id leads every downstream traffic grouping key, so the
            # traffic_by_route aggregation consumes the buckets in place
            {
                "rows_in_from": "scheduled_traffic",
                "bucket_by": ["segment_id"],
                "n_buckets": n_buckets,
            },
        ),
        Stage(
            "traffic_by_route",
            ("probe_data", raw.dep("routes"), "service_dates", raw.dep("feed_info")),
            lambda i: schedule.traffic_by_route(
                i["probe_data"],
                raw.get(i, "routes"),
                i["service_dates"],
                raw.get(i, "feed_info"),
            ),
            {"rows_in_from": "probe_data"},
        ),
        Stage(
            "traffic",
            ("traffic_by_route",),
            lambda i: schedule.traffic_overall(i["traffic_by_route"]),
        ),
        Stage(
            "aadt",
            ("traffic_by_route",),
            lambda i: schedule.aadt_breakdown(i["traffic_by_route"]),
        ),
    ]
