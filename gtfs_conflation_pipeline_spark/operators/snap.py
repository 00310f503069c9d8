"""Stage 3 analog — stop-sequence snapping + shape slicing.

Reference: ``./run gtfs_network`` (SURVEY.md §3.1): per GTFS shape, fit the
ordered stop sequence to the shape polyline (greedy, then least-squares DP —
snapGtfsStopsSequenceToGtfsShape.js:33-166), then slice the shape at the
snapped stop positions into stop-to-stop segments with a connectivity patch
(loaders/index.js:104-146).

Spark shape: a row-batch mapInArrow (the functions.udfs boundary) over
one row per shape. The algorithm is shape-local (no cross-shape state), so
it needs no grouping and no shuffle: each Arrow batch runs the per-shape
kernel over its rows, reading the coordinate and stop lists as flat
buffers plus offsets.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels as K
from ..functions import udfs as U

SEGMENTS_SCHEMA = (
    "shape_id string, shape_index int, from_stop_id string, to_stop_id string, "
    "start_dist_km double, length_km double, xs array<double>, ys array<double>, "
    "dist_source string"
)


def _slice_shape(xs, ys, sx, sy, d):
    """Shape-local kernel: the stop-to-stop slices of one shape (xs, ys)
    with ordered stop positions (sx, sy) and shape_dist_traveled values `d`
    (None = null list; a null element is NaN). Returns (dist_source,
    [(shape_index, start_km, length_km, slice xs, slice ys)]), slices
    rounded to 6 dp.

    Slice boundary source (reference GeoJsonGtfsDAO/generators.js:19-94
    PREFERS stop_times.shape_dist_traveled over geometric snapping):
      'dist'     — monotone finite shape_dist_traveled present; unit inferred
                   via kernels.infer_dist_units_to_km and converted to km
      'fallback' — shape_dist_traveled present but failed the reference's
                   +-10% unit sanity invariant -> geometric snap (the
                   reference THROWS here; we degrade and surface the count
                   as a stage metric)
      'geom'     — no usable shape_dist_traveled; DP stop-fit snapping
    """
    if xs.size < 2 or sx.size < 2:
        return "geom", []
    total = K.polyline_length_km(xs, ys)
    dist_along = None
    source = "geom"
    if (
        d is not None
        and d.size == sx.size
        and np.all(np.isfinite(d))
        and np.all(np.diff(d) >= 0)
        and d[-1] > 0
    ):
        try:
            scale, _unit = K.infer_dist_units_to_km(float(d[-1]), total)
            if scale is not None:
                dist_along = np.clip(d * scale, 0.0, total)
                source = "dist"
        except ValueError:
            source = "fallback"  # +-10% sanity miss -> geometric snap
    if dist_along is None:
        dist_along = K.fit_stops_to_path(sx, sy, xs, ys)["dist_along_km"]
    # slice boundaries: shape start, interior stop positions, shape end —
    # first/last stop-to-stop slices are extended to the shape's endpoints
    # (reference slices cover the whole shape, loaders/index.js:104-130)
    bounds = np.concatenate([[0.0], dist_along[1:-1], [total]])
    bounds = np.maximum.accumulate(bounds)  # monotone guard
    slices = []
    for i in range(sx.size - 1):
        lo, hi = float(bounds[i]), float(bounds[i + 1])
        if hi - lo <= 0:
            continue  # degenerate slice (two stops snapped to one point)
        gx, gy = K.line_slice_along(xs, ys, lo, hi)
        if gx.size < 2:
            continue
        slices.append((i, lo, hi - lo, K.round6(gx), K.round6(gy)))
    return source, slices


def _fit_and_slice(
    batches: Iterator[pa.RecordBatch], schema: pa.Schema
) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: one row in = one shape (xs, ys, stop arrays); rows
    out = its stop-to-stop segments (`_slice_shape`). Stop ids are taken
    out of the flat `stop_ids` buffer at the slices' stop positions."""
    for batch in batches:
        (xv, xo), (yv, yo), (lonv, lono), (latv, lato), (dv, do) = (
            U.list_buffers(batch.column(c))
            for c in ("xs", "ys", "stop_lons", "stop_lats", "stop_dists")
        )
        ids = batch.column("stop_ids")
        id_vals, io = ids.values.to_numpy(zero_copy_only=False), ids.offsets.to_numpy()
        has_d = batch.column("stop_dists").is_valid().to_numpy(zero_copy_only=False)
        rows, src, out = [], [], []
        for r in range(batch.num_rows):
            source, slices = _slice_shape(
                xv[xo[r] : xo[r + 1]],
                yv[yo[r] : yo[r + 1]],
                lonv[lono[r] : lono[r + 1]],
                latv[lato[r] : lato[r + 1]],
                dv[do[r] : do[r + 1]] if has_d[r] else None,
            )
            rows += [r] * len(slices)
            src += [source] * len(slices)
            out += slices
        idx, start, length, gxs, gys = list(zip(*out)) or [()] * 5
        rows, idx = np.array(rows, np.int64), np.array(idx, np.int64)
        stop = io[rows] + idx  # absolute index of each slice's from-stop
        yield U.emit(
            batch,
            schema,
            [rows],
            [
                {
                    "shape_index": idx,
                    "from_stop_id": id_vals[stop],
                    "to_stop_id": id_vals[stop + 1],
                    "start_dist_km": np.array(start, np.float64),
                    "length_km": np.array(length, np.float64),
                    "xs": gxs,
                    "ys": gys,
                    "dist_source": np.array(src, object),
                }
            ],
        )


def snap_and_slice(shapes_with_stops: DataFrame) -> DataFrame:
    """shapes_with_stops: one row per shape with columns
    (shape_id, xs, ys, stop_ids, stop_lons, stop_lats[, stop_dists]) — stop
    arrays ordered by the shape's authoritative stop sequence; a missing or
    null stop_dists list means geometric snapping.
    Returns net.shape_segments."""
    if "stop_dists" not in shapes_with_stops.columns:
        shapes_with_stops = shapes_with_stops.withColumn(
            "stop_dists", F.lit(None).cast("array<double>")
        )
    # key-less round-robin: AQE coalesces the small join output to one or
    # two partitions, which would serialize the per-shape DP kernel (40k
    # images, local[4]: 0.99 s without, 0.86 s with)
    par = shapes_with_stops.sparkSession.sparkContext.defaultParallelism
    return U.map_arrow(shapes_with_stops.repartition(par), _fit_and_slice, SEGMENTS_SCHEMA)


def shapes_with_stop_sequences(
    geo_shapes: DataFrame,
    geo_stops: DataFrame,
    trips: DataFrame,
    stop_times: DataFrame,
) -> DataFrame:
    """Assemble per-shape stop arrays from the relational side.

    Reference semantics (GeoJsonGtfsDAO/generators.js:102-227): the stop
    sequence of a shape is derived from trips ⋈ stop_times; each shape must
    have a single authoritative ordered stop sequence (distinct sequences per
    shape collapse; the reference throws if they disagree — we keep the
    lexicographically first, a deterministic tie-break).

    trips/stop_times are fact tables; geo_stops is dimension-sized per feed
    and is broadcast.

    When stop_times carries shape_dist_traveled, the authoritative
    sequence's per-stop values ride along as `stop_dists` (the reference
    PREFERS them over geometric snapping, generators.js:19-94); absent or
    null values degrade to geometric snapping in the slice kernel.
    """
    sdt = (
        F.col("shape_dist_traveled").cast("double")
        if "shape_dist_traveled" in stop_times.columns
        else F.lit(None).cast("double")
    )
    seq_per_trip = _seq_per_trip(trips, stop_times, sdt)
    # one authoritative sequence per shape (deterministic min; the reference
    # THROWS on conflicting sequences — see stop_sequence_conflicts)
    seq_per_shape = seq_per_trip.groupBy("shape_id").agg(
        F.min(F.struct("stop_ids", "stop_dists")).alias("m")
    ).select(
        "shape_id",
        F.col("m.stop_ids").alias("stop_ids"),
        F.col("m.stop_dists").alias("stop_dists"),
    )
    stops_dim = F.broadcast(
        geo_stops.select("stop_id", "stop_lon", "stop_lat")
    )
    with_coords = (
        seq_per_shape.select(
            "shape_id",
            "stop_dists",
            F.posexplode("stop_ids").alias("pos", "stop_id"),
        )
        .withColumn("stop_dist", F.element_at("stop_dists", F.col("pos") + 1))
        .join(stops_dim, "stop_id")
        .groupBy("shape_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", "stop_id", "stop_lon", "stop_lat", "stop_dist")
                )
            ).alias("s")
        )
        .select(
            "shape_id",
            F.transform("s", lambda r: r["stop_id"]).alias("stop_ids"),
            F.transform("s", lambda r: r["stop_lon"]).alias("stop_lons"),
            F.transform("s", lambda r: r["stop_lat"]).alias("stop_lats"),
            F.transform("s", lambda r: r["stop_dist"]).alias("stop_dists"),
        )
    )
    return geo_shapes.select("shape_id", "xs", "ys").join(with_coords, "shape_id")


def _seq_per_trip(trips: DataFrame, stop_times: DataFrame, sdt) -> DataFrame:
    return (
        stop_times.join(trips.select("trip_id", "shape_id"), "trip_id")
        .groupBy("shape_id", "trip_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("stop_sequence", "stop_id", sdt.alias("sdt")))
            ).alias("seq")
        )
        .select(
            "shape_id",
            F.transform("seq", lambda s: s["stop_id"]).alias("stop_ids"),
            F.transform("seq", lambda s: s["sdt"]).alias("stop_dists"),
        )
    )


def stop_sequence_conflicts(trips: DataFrame, stop_times: DataFrame) -> DataFrame:
    """Shapes whose trips disagree on the stop sequence — the invariant the
    reference enforces with a THROW (GeoJsonGtfsDAO/generators.js:207-227).
    The engine collapses to the deterministic min sequence instead; this
    surface (and the pipeline's stage metric built on it) makes the
    collapse observable. Returns (shape_id, n_sequences) for conflicted
    shapes."""
    sdt = F.lit(None).cast("double")
    return (
        _seq_per_trip(trips, stop_times, sdt)
        .groupBy("shape_id")
        .agg(F.count_distinct("stop_ids").alias("n_sequences"))
        .filter(F.col("n_sequences") > 1)
    )
