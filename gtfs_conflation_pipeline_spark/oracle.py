"""Single-process numpy oracle for end-to-end conflation equivalence
(SURVEY.md §5.3, FIXTURES.md §4).

Implements the same semantics as the Spark pipeline — snap -> slice ->
candidate -> corridor refine -> greedy choose -> along rank -> tile assign —
as straight-line numpy over the closed-form fixture, with NO Spark, no cells
and no partitioning: candidates are brute-force all-pairs, so any
candidate-generation miss in the engine's cell bucketing shows up as a
missing match row in the equality test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import fixtures as FX
from . import kernels as K
from .operators.spatial_join import (
    CORRIDOR_KM,
    MIN_COVER_RATIO,
    OVERLAP_TOL,
)


def oracle_conflation(n_images: int) -> dict[str, pd.DataFrame]:
    """Returns {'matches': df, 'tiles': df} — the expected flagship outputs."""
    n_shapes = FX.n_shapes_for(n_images)
    i = np.arange(n_shapes * FX.PTS_PER_SHAPE)
    _, _, lon, lat = FX.shape_point(i)

    # osm side (all segments, brute force)
    n_chunks = FX.PTS_PER_SHAPE // FX.CHUNK
    osm = FX.osm_segment_batch(np.arange(n_shapes * n_chunks)).to_pandas()

    match_rows = []
    match_path_rows = []
    from .operators.graph_paths import choose_paths_for_segment

    for s in range(n_shapes):
        xs = lon[s * FX.PTS_PER_SHAPE : (s + 1) * FX.PTS_PER_SHAPE]
        ys = lat[s * FX.PTS_PER_SHAPE : (s + 1) * FX.PTS_PER_SHAPE]
        # stops of this shape, ordered
        seqs = np.arange(0, FX.PTS_PER_SHAPE, FX.STOP_EVERY)
        dlon, dlat = FX.stop_jitter(np.full(seqs.size, s), seqs)
        sx = xs[seqs] + dlon  # no rounding — bit-exact contract with Spark
        sy = ys[seqs] + dlat

        stop_ids = [f"stop_{s:05d}_{q}" for q in seqs]

        fit = K.fit_stops_to_path(sx, sy, xs, ys)
        total = K.polyline_length_km(xs, ys)
        bounds = np.concatenate([[0.0], fit["dist_along_km"][1:-1], [total]])
        bounds = np.maximum.accumulate(bounds)

        for gi in range(len(stop_ids) - 1):
            lo, hi = float(bounds[gi]), float(bounds[gi + 1])
            if hi - lo <= 0:
                continue
            gx, gy = K.line_slice_along(xs, ys, lo, hi)
            if gx.size < 2:
                continue
            gx, gy = K.round6(gx), K.round6(gy)
            g_len = hi - lo
            cands = []
            path_cands = []
            for o in osm.itertuples(index=False):
                m = K.corridor_match(gx, gy, np.asarray(o.xs), np.asarray(o.ys), radius_km=CORRIDOR_KM)
                if m is None:
                    continue
                # Pass-B consumes ALL corridor survivors (its annealed
                # thresholds do the selecting); the matched OSM slice is the
                # graph edge geometry
                pxs, pys = K.line_slice_along(
                    np.asarray(o.xs), np.asarray(o.ys), m["b_start_km"], m["b_end_km"]
                )
                path_cands.append(
                    {
                        "match_id": int(o.segment_id),
                        "shst_reference": o.shst_reference,
                        "xs": pxs,
                        "ys": pys,
                    }
                )
                if m["intxn_len_km"] / g_len < MIN_COVER_RATIO:
                    continue
                cands.append(
                    {
                        "shape_id": f"shp_{s:05d}",
                        "shape_index": gi,
                        "segment_id": o.segment_id,
                        "shst_reference": o.shst_reference,
                        "networklevel": o.networklevel,
                        "section_start": m["a_start_km"],
                        "section_end": m["a_end_km"],
                        "osm_start": m["b_start_km"],
                        "osm_end": m["b_end_km"],
                        "intxn_len_km": m["intxn_len_km"],
                        "mean_dev_km": m["mean_dev_km"],
                        "max_dev_km": m["max_dev_km"],
                    }
                )
            # greedy interval cover, same total order as the engine
            cands.sort(
                key=lambda c: (
                    -c["intxn_len_km"],
                    c["mean_dev_km"],
                    c["shst_reference"],
                    c["segment_id"],
                )
            )
            intervals: list[tuple[float, float]] = []
            for c in cands:
                a, b = c["section_start"], c["section_end"]
                ov = sum(max(0.0, min(b, hi2) - max(a, lo2)) for lo2, hi2 in intervals)
                if (b - a) > 0 and ov / (b - a) <= OVERLAP_TOL:
                    match_rows.append(c)
                    intervals.append((a, b))
            # Pass-B path decomposition (same semantics as the engine's
            # match_paths stage)
            refs = {c["match_id"]: c["shst_reference"] for c in path_cands}
            for pi, p in enumerate(choose_paths_for_segment(path_cands, gx, gy)):
                for ei, mid in enumerate(p.match_ids):
                    match_path_rows.append(
                        {
                            "shape_id": f"shp_{s:05d}",
                            "shape_index": gi,
                            "path_index": pi,
                            "path_edge_index": ei,
                            "match_id": mid,
                            "shst_reference": refs[mid],
                            "path_len_km": p.length_km,
                        }
                    )

    matches = pd.DataFrame(match_rows)
    if len(matches):
        matches = matches.sort_values(
            ["shape_id", "shape_index", "section_start", "section_end", "shst_reference"]
        )
        matches["along_idx"] = (
            matches.groupby(["shape_id", "shape_index"]).cumcount() + 1
        )

    # tiles per matched osm segment
    tile_rows = []
    if len(matches):
        seg_ids = sorted(set(matches["segment_id"]))
        osm_by_id = {o.segment_id: o for o in osm.itertuples(index=False)}
        for sid in seg_ids:
            o = osm_by_id[sid]
            mz = int(K.zoom_for_networklevel(np.array([o.networklevel]))[0])
            for t in K.tiles_for_polyline(np.asarray(o.xs), np.asarray(o.ys), mz):
                tile_rows.append(
                    {"segment_id": sid, "min_zoom": mz, "tile_id": int(t)}
                )
    tiles = pd.DataFrame(tile_rows).drop_duplicates()

    # pass C scores (scoring.score_pair on the same slices)
    from .operators.scoring import score_pair

    score_rows = []
    if len(matches):
        shape_geoms = {}
        for s in range(n_shapes):
            shape_geoms[f"shp_{s:05d}"] = (
                lon[s * FX.PTS_PER_SHAPE : (s + 1) * FX.PTS_PER_SHAPE],
                lat[s * FX.PTS_PER_SHAPE : (s + 1) * FX.PTS_PER_SHAPE],
            )
        osm_by_id = {o.segment_id: o for o in osm.itertuples(index=False)}
        # score against the sliced GTFS segment geometry, as the engine does
        for m in matches.itertuples(index=False):
            xs_all, ys_all = shape_geoms[m.shape_id]
            seqs = np.arange(0, FX.PTS_PER_SHAPE, FX.STOP_EVERY)
            s_int = int(m.shape_id[4:])
            dlon, dlat = FX.stop_jitter(np.full(seqs.size, s_int), seqs)
            fit = K.fit_stops_to_path(xs_all[seqs] + dlon, ys_all[seqs] + dlat, xs_all, ys_all)
            total = K.polyline_length_km(xs_all, ys_all)
            bounds = np.maximum.accumulate(
                np.concatenate([[0.0], fit["dist_along_km"][1:-1], [total]])
            )
            gx, gy = K.line_slice_along(
                xs_all, ys_all, float(bounds[m.shape_index]), float(bounds[m.shape_index + 1])
            )
            gx, gy = K.round6(gx), K.round6(gy)
            o = osm_by_id[m.segment_id]
            s = score_pair(
                gx, gy, np.asarray(o.xs), np.asarray(o.ys),
                m.section_start, m.section_end, m.osm_start, m.osm_end,
            )
            if s is None:
                continue
            score_rows.append(
                {
                    "shape_id": m.shape_id,
                    "shape_index": m.shape_index,
                    "segment_id": m.segment_id,
                    "shst_reference": m.shst_reference,
                    "frechet_km": s[0],
                    "hausdorff_km": s[1],
                    "mean_dev_km": s[2],
                    "shape_similarity": s[3],
                }
            )
    scores = pd.DataFrame(score_rows)
    return {
        "matches": matches.reset_index(drop=True),
        "tiles": tiles.reset_index(drop=True),
        "scores": scores.reset_index(drop=True),
        "match_paths": pd.DataFrame(match_path_rows).reset_index(drop=True),
    }
