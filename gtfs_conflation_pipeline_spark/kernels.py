"""Pure-numpy geometry kernels.

Each kernel re-specifies a turf.js / SQLite-geopoly call made by the reference
pipeline (availabs/gtfs-conflation-pipeline); citations point at the reference
file that defines the semantics (thresholds, units, rounding). These are plain
functions over numpy arrays so they are (a) unit-testable against scalar
oracles and (b) callable on the flat Arrow buffers of the mapInArrow
boundary (functions.udfs) — no per-row Python UDF ever touches Spark.

Units: distances km unless noted (RMSD is meters, matching
reference src/services/Conflation/chooseShstMatchesForShape/
computeSubGraphComponentsTraversals/buildShstMatchSubGraphsPerGtfsShapeSegment.js:28).
Coordinates are (lon, lat) degrees, rounded to 6 dp at ingest
(reference src/utils/roundGeometryCoordinates.js:7 PRECISION=6).
"""

from __future__ import annotations

import numpy as np

# turf.js earth radius (km) — @turf/helpers earthRadius = 6371008.8 m
R_KM = 6371.0088
DEG_KM = R_KM * np.pi / 180.0  # km per degree of latitude

# ---------------------------------------------------------------------------
# scalar math
# ---------------------------------------------------------------------------


def round6(a):
    """Round coords to 6 dp — reference roundGeometryCoordinates.js:7-37."""
    return np.round(np.asarray(a, dtype=np.float64), 6)


def haversine_km(lon1, lat1, lon2, lat2):
    """Great-circle distance, km (turf.distance semantics). Vectorized."""
    lon1, lat1, lon2, lat2 = (
        np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2)
    )
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * R_KM * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def bearing_deg(lon1, lat1, lon2, lat2):
    """Initial bearing in degrees (-180, 180], turf.bearing semantics."""
    lon1, lat1, lon2, lat2 = (
        np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2)
    )
    dlon = lon2 - lon1
    y = np.sin(dlon) * np.cos(lat2)
    x = np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dlon)
    return np.degrees(np.arctan2(y, x))


def polyline_length_km(xs: np.ndarray, ys: np.ndarray) -> float:
    """turf.length over a LineString — sum of vertex-pair haversines."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if xs.size < 2:
        return 0.0
    return float(np.sum(haversine_km(xs[:-1], ys[:-1], xs[1:], ys[1:])))


def midpoints(xs: np.ndarray, ys: np.ndarray):
    """Midpoint interleave — doubles a LineString's points
    (reference geometryMutators/doubleLineStringPoints.js:10-38; planar
    midpoint is within rounding at densification scale)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    mx = (xs[:-1] + xs[1:]) / 2.0
    my = (ys[:-1] + ys[1:]) / 2.0
    ox = np.empty(xs.size + mx.size)
    oy = np.empty_like(ox)
    ox[0::2] = xs
    ox[1::2] = mx
    oy[0::2] = ys
    oy[1::2] = my
    return ox, oy


MI_PER_KM = 1.0 / 1.60934


def infer_dist_units_to_km(last_dist: float, shape_len_km: float):
    """GTFS shape_dist_traveled unit inference — reference
    GeoJsonGtfsDAO/generators.js:19-94.

    The unit of the OPTIONAL shape_dist_traveled columns is unspecified;
    the reference infers it by comparing the LAST stop's value against the
    shape length expressed in {miles, feet, km, meters} and picking the
    closest, then converts to km and enforces a +-10% sanity invariant
    (generators.js:84-88 throws on failure).

    (The reference's own selection code has a JS bug — `closest === mi`
    compares an array to a number — so this re-expresses the documented
    intent, which its sanity check enforces anyway.)

    Returns (scale_to_km, unit_name); raises ValueError when the converted
    value misses the shape length by >10%.
    """
    if last_dist is None or not np.isfinite(last_dist):
        return None, None
    candidates = {
        "mi": shape_len_km * MI_PER_KM,
        "ft": shape_len_km * MI_PER_KM * 5280.0,
        "km": shape_len_km,
        "m": shape_len_km * 1000.0,
    }
    unit = min(candidates, key=lambda u: abs(last_dist - candidates[u]))
    scale = {"mi": 1.60934, "ft": 1.60934 / 5280.0, "km": 1.0, "m": 1e-3}[unit]
    converted = last_dist * scale
    if shape_len_km > 0 and abs(converted - shape_len_km) / shape_len_km > 0.1:
        raise ValueError(
            f"unit conversion fail: shape length {shape_len_km} km, "
            f"converted last dist {converted} km (unit guess '{unit}')"
        )
    return scale, unit


# ---------------------------------------------------------------------------
# 64-bit deterministic mixes (fixture generation; numpy side of F.xxhash64-free
# determinism — same function implemented as a Spark-free numpy mix)
# ---------------------------------------------------------------------------

_U64 = np.uint64


def splitmix64(x) -> np.ndarray:
    """SplitMix64 finalizer — deterministic 64-bit mix, vectorized uint64."""
    with np.errstate(over="ignore"):
        z = np.asarray(x).astype(np.uint64)
        z = (z + _U64(0x9E3779B97F4A7C15)) & _U64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _U64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)) & _U64(0xFFFFFFFFFFFFFFFF)
        return z ^ (z >> _U64(31))


# ---------------------------------------------------------------------------
# cell index (Morton / quadkey analog)
# ---------------------------------------------------------------------------
# The reference orders features by an 11-char base-36 bit-interleaved key at
# 1e-5 deg resolution (src/utils/getGeoProximityKey.js:8-46). Our canonical
# cell id is a proper 64-bit Morton code over a configurable resolution grid:
# same locality semantics, but a LongType the JVM can sort/join/partition
# natively.

_B = [
    _U64(0x5555555555555555),
    _U64(0x3333333333333333),
    _U64(0x0F0F0F0F0F0F0F0F),
    _U64(0x00FF00FF00FF00FF),
    _U64(0x0000FFFF0000FFFF),
]


def _part1by1(x: np.ndarray) -> np.ndarray:
    """Spread lower 32 bits of x into even bit positions."""
    x = x.astype(np.uint64) & _U64(0xFFFFFFFF)
    x = (x | (x << _U64(16))) & _B[4]
    x = (x | (x << _U64(8))) & _B[3]
    x = (x | (x << _U64(4))) & _B[2]
    x = (x | (x << _U64(2))) & _B[1]
    x = (x | (x << _U64(1))) & _B[0]
    return x


def morton64(ix, iy) -> np.ndarray:
    """Interleave two 32-bit grid indices into a 64-bit Morton code."""
    ix = np.asarray(ix)
    iy = np.asarray(iy)
    return (_part1by1(ix) << _U64(1)) | _part1by1(iy)


def cell_id(lon, lat, cell_deg: float) -> np.ndarray:
    """Encode (lon, lat) to an int64 Morton cell id on a cell_deg grid.

    Grid indices are offset to be non-negative ((lon+180)/cell, (lat+90)/cell)
    so the full globe fits in 32+32 bits for any cell_deg >= 1e-7.
    """
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / cell_deg).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / cell_deg).astype(np.int64)
    return morton64(ix, iy).astype(np.int64)


def cell_cover_of_points(lon, lat, cell_deg: float, ring: int = 0) -> np.ndarray:
    """Unique cells touched by a point set, optionally dilated by a k-ring.

    ring=1 adds the 8 neighbors of every touched cell (candidate-generation
    widening — the Spark analog of the reference's shst retry ladder,
    shstMatchFeatures.js:283-362: a miss widens the search radius).
    Returns a unique int64 array.
    """
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / cell_deg).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / cell_deg).astype(np.int64)
    if ring > 0:
        offs = np.arange(-ring, ring + 1, dtype=np.int64)
        dx, dy = np.meshgrid(offs, offs)
        ix = (ix[:, None] + dx.ravel()[None, :]).ravel()
        iy = (iy[:, None] + dy.ravel()[None, :]).ravel()
    ij = np.unique(np.stack([ix, iy], axis=1), axis=0)
    return morton64(ij[:, 0], ij[:, 1]).astype(np.int64)


def geoprox_key(xs, ys) -> str:
    """Reference-parity geoprox key (getGeoProximityKey.js:8-46).

    key(lon,lat): bit-strings of round(|c|*1e5) are interleaved *aligned at
    the MSB of the lon bit-string* (the JS reduce walks lon's digits and pads
    missing lat digits with '0'), then base-36, left-padded to 11 chars.
    Feature key = min(startKey, endKey).
    """

    def one(lon: float, lat: float) -> str:
        p_lon = format(int(round(abs(lon * 100000))), "b")
        p_lat = format(int(round(abs(lat * 100000))), "b")
        bits = "".join(
            (p_lon[i] if i < len(p_lon) else "0") + (p_lat[i] if i < len(p_lat) else "0")
            for i in range(len(p_lon))
        )
        n = int(bits, 2) if bits else 0
        digits = "0123456789abcdefghijklmnopqrstuvwxyz"
        out = ""
        while n:
            n, r = divmod(n, 36)
            out = digits[r] + out
        return (out or "0").rjust(11, "0")

    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    a = one(xs[0], ys[0])
    b = one(xs[-1], ys[-1])
    return a if a <= b else b


# ---------------------------------------------------------------------------
# tile assignment (raster tile <-> vector segment)
# ---------------------------------------------------------------------------
# Web-mercator tile math (standard slippy-map XYZ). The reference's tileset
# build filters features into zoom ranges by network level
# (tasks/conflation_map_into_mapbox/bin/createMBTilesNDGeoJSON FILTER block);
# we reproduce that as: min_zoom(networklevel) -> per-feature tile ids at its
# assigned zoom.


def lonlat_to_tile(lon, lat, zoom) -> tuple[np.ndarray, np.ndarray]:
    """Slippy-map tile (x, y) at integer zoom. Vectorized."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    n = 2.0 ** int(zoom)
    xt = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_r = np.radians(lat)
    yt = np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n).astype(np.int64)
    xt = np.clip(xt, 0, int(n) - 1)
    yt = np.clip(yt, 0, int(n) - 1)
    return xt, yt


def tile_key(zoom, xt, yt) -> np.ndarray:
    """Pack (zoom, x, y) into int64: zoom<<58 | x<<29 | y (29 bits each)."""
    z = np.asarray(zoom).astype(np.int64)
    return (z << 58) | (np.asarray(xt).astype(np.int64) << 29) | np.asarray(yt).astype(np.int64)


def zoom_for_networklevel(networklevel) -> np.ndarray:
    """MIN tile zoom per OSM network level — the reference's tippecanoe
    FILTER thresholds, literally (tasks/conflation_map_into_mapbox/bin/
    createMBTilesNDGeoJSON:13-39): a feature is admitted at every zoom >=
    its min zoom (range semantics; we emit the compact one-row-per-
    (segment, min_zoom, tile) form and the >=min_zoom range is derivable).
    The FILTER's clauses give: nlev<1 -> 0 (the standalone ["<","nlev",1]
    arm admits at ALL zooms, below the z>=3 arm); 1 -> 3; 2 -> 4; 3 -> 10;
    4 -> 13; else 14 (the ["≥","$zoom",14] arm + --maximum-zoom 14).
    """
    nl = np.asarray(networklevel, dtype=np.int64)
    return np.select(
        [nl < 1, nl == 1, nl == 2, nl == 3, nl == 4],
        [np.int64(0), np.int64(3), np.int64(4), np.int64(10), np.int64(13)],
        default=np.int64(14),
    )


def tiles_for_polyline(xs, ys, zoom: int) -> np.ndarray:
    """Unique tile keys covering a polyline's vertices at `zoom` (vertices are
    dense enough post-densification that vertex cover == corridor cover at the
    fixture's segment lengths)."""
    xt, yt = lonlat_to_tile(np.asarray(xs), np.asarray(ys), zoom)
    ij = np.unique(np.stack([xt, yt], axis=1), axis=0)
    return tile_key(np.full(len(ij), zoom), ij[:, 0], ij[:, 1])


# ---------------------------------------------------------------------------
# polyline projection / snapping
# ---------------------------------------------------------------------------


def _local_plane(xs: np.ndarray, ys: np.ndarray):
    """Equirectangular km-plane around the polyline's mean latitude."""
    lat0 = np.mean(ys)
    kx = DEG_KM * np.cos(np.radians(lat0))
    return kx, DEG_KM


def segmentize(xs: np.ndarray, ys: np.ndarray):
    """Per-edge lengths and running start_dist_along (km) — reference
    snapGtfsStopsSequenceToGtfsShape.js:6-30."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    seg_len = haversine_km(xs[:-1], ys[:-1], xs[1:], ys[1:])
    start_along = np.concatenate([[0.0], np.cumsum(seg_len)[:-1]])
    return seg_len, start_along


def snap_points_to_polyline(px, py, xs, ys):
    """Project points onto a polyline (turf.pointOnLine semantics).

    Returns (seg_idx, t, dist_along_km, deviation_km, snap_lon, snap_lat) per
    point: the nearest location on the line, its distance along the line from
    the start, and the point→line deviation. Used by stop snapping
    (snapGtfsStopsSequenceToGtfsShape.js:38-48), cospatiality
    (getCospatialityOfLinestrings.js:51-55) and similarity (getSimilarity.js).

    All-pairs vectorized: O(P * S) numpy, no Python loops.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    kx, ky = _local_plane(np.concatenate([xs, px]), np.concatenate([ys, py]))
    # plane coords
    X = xs * kx
    Y = ys * ky
    PX = px[:, None] * kx
    PY = py[:, None] * ky
    ax, ay = X[:-1][None, :], Y[:-1][None, :]
    bx, by = X[1:][None, :], Y[1:][None, :]
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    t = np.where(L2 > 0, ((PX - ax) * dx + (PY - ay) * dy) / np.where(L2 > 0, L2, 1.0), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx = ax + t * dx
    cy = ay + t * dy
    d2 = (PX - cx) ** 2 + (PY - cy) ** 2
    seg_idx = np.argmin(d2, axis=1)
    rows = np.arange(px.size)
    tt = t[rows, seg_idx]
    dev = np.sqrt(d2[rows, seg_idx])
    seg_len, start_along = segmentize(xs, ys)
    dist_along = start_along[seg_idx] + tt * seg_len[seg_idx]
    snap_lon = cx[rows, seg_idx] / kx
    snap_lat = cy[rows, seg_idx] / ky
    return seg_idx, tt, dist_along, dev, snap_lon, snap_lat


def rmsd_m(px, py, xs, ys) -> float:
    """RMS of vertex→line deviations in METERS — reference
    buildShstMatchSubGraphsPerGtfsShapeSegment.js:17-32."""
    _, _, _, dev, _, _ = snap_points_to_polyline(px, py, xs, ys)
    return float(np.sqrt(np.mean((dev * 1000.0) ** 2)))


def line_slice_along(xs, ys, start_km: float, stop_km: float):
    """Sub-linestring between two distances along the line
    (turf.lineSliceAlong; reference GtfsNetworkDAO/loaders/index.js:104-130).
    Returns (xs', ys') with interpolated end points."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    seg_len, start_along = segmentize(xs, ys)
    total = start_along[-1] + seg_len[-1] if seg_len.size else 0.0
    start_km = max(0.0, min(start_km, total))
    stop_km = max(start_km, min(stop_km, total))
    cum = np.concatenate([start_along, [total]])

    def interp(d):
        i = int(np.clip(np.searchsorted(cum, d, side="right") - 1, 0, seg_len.size - 1))
        f = 0.0 if seg_len[i] == 0 else (d - cum[i]) / seg_len[i]
        return (
            xs[i] + f * (xs[i + 1] - xs[i]),
            ys[i] + f * (ys[i + 1] - ys[i]),
            i,
        )

    sx, sy, si = interp(start_km)
    ex, ey, ei = interp(stop_km)
    mid_x = xs[si + 1 : ei + 1]
    mid_y = ys[si + 1 : ei + 1]
    out_x = np.concatenate([[sx], mid_x, [ex]])
    out_y = np.concatenate([[sy], mid_y, [ey]])
    # drop consecutive duplicates (reference removeRedundantCoords.js:3-6)
    keep = np.concatenate([[True], (np.diff(out_x) != 0) | (np.diff(out_y) != 0)])
    return out_x[keep], out_y[keep]


# ---------------------------------------------------------------------------
# stop-sequence fitting (greedy check, then least-squares DP)
# ---------------------------------------------------------------------------


def fit_stops_to_path(stop_x, stop_y, xs, ys):
    """Monotone min-Σdeviation² assignment of an ordered stop sequence to a
    shape polyline — reference snapGtfsStopsSequenceToGtfsShape.js:33-166.

    Greedy pass: per-stop best (deviation, then dist_along) projection; if the
    resulting dist_alongs are monotone non-decreasing, accept. Otherwise run
    the O(S·W²) DP minimizing total squared deviation subject to monotone
    dist_along. Returns dict of arrays: seg_idx, dist_along_km, deviation_km,
    snap_lon, snap_lat.
    """
    stop_x = np.asarray(stop_x, dtype=np.float64)
    stop_y = np.asarray(stop_y, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    kx, ky = _local_plane(np.concatenate([xs, stop_x]), np.concatenate([ys, stop_y]))
    X, Y = xs * kx, ys * ky
    PX, PY = stop_x[:, None] * kx, stop_y[:, None] * ky
    ax, ay = X[:-1][None, :], Y[:-1][None, :]
    bx, by = X[1:][None, :], Y[1:][None, :]
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    t = np.where(L2 > 0, ((PX - ax) * dx + (PY - ay) * dy) / np.where(L2 > 0, L2, 1.0), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = ax + t * dx, ay + t * dy
    # deviation (km) of every stop to every segment; dist_along of each cell
    dev = np.sqrt((PX - cx) ** 2 + (PY - cy) ** 2)  # S x W
    seg_len, start_along = segmentize(xs, ys)
    dist_along = start_along[None, :] + t * seg_len[None, :]  # S x W

    n_stops, n_segs = dev.shape

    # greedy: argmin by (deviation, dist_along) — lexicographic
    order = np.lexsort((dist_along, dev), axis=1)[:, 0]
    rows = np.arange(n_stops)
    greedy_along = dist_along[rows, order]
    if np.all(np.diff(greedy_along) >= 0):
        choice = order
    else:
        # DP (vectorized over segments per stop-row)
        INF = np.inf
        cost = dev[0] ** 2
        back = np.full((n_stops, n_segs), -1, dtype=np.int64)
        for s in range(1, n_stops):
            # best previous cell with dist_along <= this cell's dist_along
            ord_prev = np.argsort(dist_along[s - 1], kind="stable")
            prev_along_sorted = dist_along[s - 1][ord_prev]
            prev_cost_sorted = cost[ord_prev]
            run_min = np.minimum.accumulate(prev_cost_sorted)
            run_arg = ord_prev.copy()
            for i in range(1, len(run_arg)):
                if prev_cost_sorted[i] >= run_min[i - 1]:
                    run_arg[i] = run_arg[i - 1]
            pos = np.searchsorted(prev_along_sorted, dist_along[s], side="right") - 1
            ok = pos >= 0
            best_prev_cost = np.where(ok, run_min[np.clip(pos, 0, None)], INF)
            best_prev_idx = np.where(ok, run_arg[np.clip(pos, 0, None)], -1)
            cost = best_prev_cost + dev[s] ** 2
            back[s] = best_prev_idx
        end = int(np.argmin(cost))
        choice = np.empty(n_stops, dtype=np.int64)
        choice[-1] = end
        feasible = np.isfinite(cost[end])
        for s in range(n_stops - 1, 0, -1):
            prev = back[s][choice[s]]
            if prev < 0:
                # mid-chain dead end: a -1 back-pointer would wrap via
                # Python negative indexing and return a corrupted
                # (non-monotone) assignment — bail to greedy instead
                feasible = False
                break
            choice[s - 1] = prev
        if not feasible:  # no feasible monotone path — fall back to greedy
            choice = order
    kxy = rows
    return {
        "seg_idx": choice,
        "dist_along_km": dist_along[kxy, choice],
        "deviation_km": dev[kxy, choice],
        "snap_lon": cx[kxy, choice] / kx,
        "snap_lat": cy[kxy, choice] / ky,
    }


# ---------------------------------------------------------------------------
# curve comparison (similarity / scoring)
# ---------------------------------------------------------------------------


def rdp_mask(xs, ys, eps_km: float) -> np.ndarray:
    """Douglas-Peucker keep-mask (iterative, planar km) — reference
    lineStringsComparator.js uses turf.simplify before comparing."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    kx, ky = _local_plane(xs, ys)
    X, Y = xs * kx, ys * ky
    n = X.size
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        ax, ay, bx, by = X[i], Y[i], X[j], Y[j]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        seg = slice(i + 1, j)
        if L2 == 0:
            d = np.hypot(X[seg] - ax, Y[seg] - ay)
        else:
            t = np.clip(((X[seg] - ax) * dx + (Y[seg] - ay) * dy) / L2, 0.0, 1.0)
            d = np.hypot(X[seg] - (ax + t * dx), Y[seg] - (ay + t * dy))
        k = int(np.argmax(d))
        if d[k] > eps_km:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def resample_polyline(xs, ys, n: int):
    """Resample to n evenly spaced (by arc length) points — reference
    scoreChosenPaths/frechet.js:8-14 resamples both curves before scoring."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if xs.size == 1:
        return np.full(n, xs[0]), np.full(n, ys[0])
    seg_len, start_along = segmentize(xs, ys)
    total = start_along[-1] + seg_len[-1]
    if total == 0:
        return np.full(n, xs[0]), np.full(n, ys[0])
    d = np.linspace(0.0, total, n)
    cum = np.concatenate([start_along, [total]])
    i = np.clip(np.searchsorted(cum, d, side="right") - 1, 0, seg_len.size - 1)
    f = np.where(seg_len[i] > 0, (d - cum[i]) / np.where(seg_len[i] > 0, seg_len[i], 1), 0.0)
    return xs[i] + f * (xs[i + 1] - xs[i]), ys[i] + f * (ys[i + 1] - ys[i])


def discrete_frechet_km(ax, ay, bx, by) -> float:
    """Discrete Fréchet distance between two polylines, km (dynamic
    programming over the haversine coupling matrix) — the scoring metric of
    reference scoreChosenPaths (frechet.js:19-35; the reference's
    curve-matcher 'shapeSimilarity' plays the same role: one scalar curve
    similarity per chosen path)."""
    ax = np.asarray(ax, dtype=np.float64)
    ay = np.asarray(ay, dtype=np.float64)
    bx = np.asarray(bx, dtype=np.float64)
    by = np.asarray(by, dtype=np.float64)
    D = haversine_km(ax[:, None], ay[:, None], bx[None, :], by[None, :])
    n, m = D.shape
    ca = np.empty((n, m))
    ca[0, 0] = D[0, 0]
    for j in range(1, m):
        ca[0, j] = max(ca[0, j - 1], D[0, j])
    for i in range(1, n):
        ca[i, 0] = max(ca[i - 1, 0], D[i, 0])
        row_prev = ca[i - 1]
        row = ca[i]
        for j in range(1, m):
            row[j] = max(min(row_prev[j], row_prev[j - 1], row[j - 1]), D[i, j])
    return float(ca[-1, -1])


def hausdorff_km(ax, ay, bx, by) -> float:
    """Symmetric discrete Hausdorff distance (km) via snap deviations —
    reference lineStringsComparator.js:17-61 approximates this with
    translate + simplify + GDAL difference length."""
    _, _, _, dev_ab, _, _ = snap_points_to_polyline(ax, ay, bx, by)
    _, _, _, dev_ba, _, _ = snap_points_to_polyline(bx, by, ax, ay)
    return float(max(dev_ab.max(), dev_ba.max()))


def similarity_stats(ax, ay, bx, by) -> dict:
    """Bidirectional snap-deviation stats — reference getSimilarity.js:24-172
    (mean/std/quantiles of vertex→other-line deviations)."""
    _, _, _, dev_ab, _, _ = snap_points_to_polyline(ax, ay, bx, by)
    _, _, _, dev_ba, _, _ = snap_points_to_polyline(bx, by, ax, ay)
    dev = np.concatenate([dev_ab, dev_ba])
    return {
        "mean_km": float(dev.mean()),
        "std_km": float(dev.std()),
        "p50_km": float(np.quantile(dev, 0.5)),
        "p95_km": float(np.quantile(dev, 0.95)),
        "max_km": float(dev.max()),
    }


# ---------------------------------------------------------------------------
# cospatiality — 1-D interval algebra along two lines
# ---------------------------------------------------------------------------
# The reference buffers one line by 5e-7 deg and intersects
# (getCospatialityOfLinestrings.js:11-13,38-166) but only ever CONSUMES the
# along-line interval offsets of the overlap. We compute those intervals
# directly: project each line's vertices onto the other, keep the portions
# within the corridor radius.

SHORT_SEG_CUTOFF_KM = 0.002  # 2 m (getCospatialityOfLinestrings.js:13)


def corridor_match(ax, ay, bx, by, radius_km: float = 0.005):
    """Corridor overlap of A against B with deviation stats.

    The one-pass refine kernel of the candidate spatial join: densify A,
    project its vertices onto B, keep the along-A interval whose deviation is
    within ``radius_km``. Returns None when the overlap is absent, shorter
    than 1 m (intersection-length predicate, GtfsConflationMapJoinDAO/
    loaders.js:56), or either line is under the 2 m cutoff
    (getCospatialityOfLinestrings.js:13).

    Output keys: a_start_km, a_end_km (interval along A), b_start_km,
    b_end_km (interval along B), intxn_len_km, mean_dev_km, max_dev_km.
    """
    ax = np.asarray(ax, dtype=np.float64)
    ay = np.asarray(ay, dtype=np.float64)
    bx = np.asarray(bx, dtype=np.float64)
    by = np.asarray(by, dtype=np.float64)
    a_len = polyline_length_km(ax, ay)
    b_len = polyline_length_km(bx, by)
    if a_len < SHORT_SEG_CUTOFF_KM or b_len < SHORT_SEG_CUTOFF_KM:
        return None
    axd, ayd = ax, ay
    for _ in range(2):
        axd, ayd = midpoints(axd, ayd)
    _, _, along_b, dev_a, _, _ = snap_points_to_polyline(axd, ayd, bx, by)
    seg_len_a, start_a = segmentize(axd, ayd)
    pos_a = np.concatenate([start_a, [a_len]])
    within = dev_a <= radius_km
    if not np.any(within):
        return None
    idx = np.where(within)[0]
    a_start = float(pos_a[idx[0]])
    a_end = float(pos_a[idx[-1]])
    intxn = a_end - a_start
    if intxn <= 0.001:
        return None
    b_vals = along_b[within]
    return {
        "a_start_km": a_start,
        "a_end_km": a_end,
        "b_start_km": float(np.min(b_vals)),
        "b_end_km": float(np.max(b_vals)),
        "intxn_len_km": intxn,
        "mean_dev_km": float(np.mean(dev_a[within])),
        "max_dev_km": float(np.max(dev_a[within])),
    }


def _midpoints_rows(X: np.ndarray, Y: np.ndarray):
    """Row-wise midpoint interleave for (P, n) stacks (batched `midpoints`)."""
    mx = (X[:, :-1] + X[:, 1:]) / 2.0
    my = (Y[:, :-1] + Y[:, 1:]) / 2.0
    P, n = X.shape
    ox = np.empty((P, 2 * n - 1))
    oy = np.empty_like(ox)
    ox[:, 0::2] = X
    ox[:, 1::2] = mx
    oy[:, 0::2] = Y
    oy[:, 1::2] = my
    return ox, oy


def corridor_match_batch(AX, AY, BX, BY, radius_km: float = 0.005):
    """Vectorized `corridor_match` over P pairs stacked as (P, na)/(P, nb)
    arrays (equal vertex counts within the stack).

    Performs the SAME operations in the SAME per-row order as the scalar
    kernel, so every output matches corridor_match bit-for-bit except
    `mean_dev_km` on partially-within pairs (masked mean accumulates zeros
    at masked slots — differs by <=1 ulp; asserted tight in tests and far
    inside the e2e oracle tolerance). Exists because per-pair numpy on
    ~20-point arrays is overhead-bound: packing ~100s of pairs per call
    removes the ~1 ms/pair Python+dispatch cost from the refine hot loop.

    Returns (valid_mask, dict of (P,) output arrays); invalid rows (short
    line / no within-radius portion / sub-1 m intersection) have
    valid_mask False.
    """
    AX = np.asarray(AX, dtype=np.float64)
    AY = np.asarray(AY, dtype=np.float64)
    BX = np.asarray(BX, dtype=np.float64)
    BY = np.asarray(BY, dtype=np.float64)
    P = AX.shape[0]
    a_len = np.sum(haversine_km(AX[:, :-1], AY[:, :-1], AX[:, 1:], AY[:, 1:]), axis=1)
    b_len = np.sum(haversine_km(BX[:, :-1], BY[:, :-1], BX[:, 1:], BY[:, 1:]), axis=1)
    ok = (a_len >= SHORT_SEG_CUTOFF_KM) & (b_len >= SHORT_SEG_CUTOFF_KM)

    AXD, AYD = AX, AY
    for _ in range(2):
        AXD, AYD = _midpoints_rows(AXD, AYD)
    nd = AXD.shape[1]

    # local plane per pair (mean latitude of concat(B, A_dense), exactly as
    # snap_points_to_polyline's _local_plane sees it)
    lat0 = np.concatenate([BY, AYD], axis=1).mean(axis=1)
    kx = (DEG_KM * np.cos(np.radians(lat0)))[:, None]
    ky = DEG_KM
    X = BX * kx
    Y = BY * ky
    PXp = AXD * kx
    PYp = AYD * ky
    ax = X[:, None, :-1]
    ay = Y[:, None, :-1]
    bx = X[:, None, 1:]
    by = Y[:, None, 1:]
    dx = bx - ax
    dy = by - ay
    L2 = dx * dx + dy * dy
    PX = PXp[:, :, None]
    PY = PYp[:, :, None]
    t = np.where(L2 > 0, ((PX - ax) * dx + (PY - ay) * dy) / np.where(L2 > 0, L2, 1.0), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx = ax + t * dx
    cy = ay + t * dy
    d2 = (PX - cx) ** 2 + (PY - cy) ** 2
    seg_idx = np.argmin(d2, axis=2)  # (P, nd)
    pi = np.arange(P)[:, None]
    ri = np.arange(nd)[None, :]
    tt = t[pi, ri, seg_idx]
    dev = np.sqrt(d2[pi, ri, seg_idx])

    # along-B positions of the snaps (batched segmentize on B)
    seg_len_b = haversine_km(BX[:, :-1], BY[:, :-1], BX[:, 1:], BY[:, 1:])
    start_b = np.concatenate(
        [np.zeros((P, 1)), np.cumsum(seg_len_b, axis=1)[:, :-1]], axis=1
    )
    along_b = start_b[pi, seg_idx] + tt * seg_len_b[pi, seg_idx]

    # along-A positions of the densified vertices (batched segmentize on A)
    seg_len_a = haversine_km(AXD[:, :-1], AYD[:, :-1], AXD[:, 1:], AYD[:, 1:])
    start_a = np.concatenate(
        [np.zeros((P, 1)), np.cumsum(seg_len_a, axis=1)[:, :-1]], axis=1
    )
    pos_a = np.concatenate([start_a, a_len[:, None]], axis=1)

    within = dev <= radius_km
    any_within = within.any(axis=1)
    ok &= any_within
    first = within.argmax(axis=1)
    last = nd - 1 - within[:, ::-1].argmax(axis=1)
    rows_p = np.arange(P)
    a_start = pos_a[rows_p, first]
    a_end = pos_a[rows_p, last]
    intxn = a_end - a_start
    ok &= intxn > 0.001
    b_start = np.where(within, along_b, np.inf).min(axis=1)
    b_end = np.where(within, along_b, -np.inf).max(axis=1)
    n_within = within.sum(axis=1)
    mean_dev = np.where(within, dev, 0.0).sum(axis=1) / np.maximum(n_within, 1)
    max_dev = np.where(within, dev, -np.inf).max(axis=1)
    return ok, {
        "a_start_km": a_start,
        "a_end_km": a_end,
        "b_start_km": b_start,
        "b_end_km": b_end,
        "intxn_len_km": intxn,
        "mean_dev_km": mean_dev,
        "max_dev_km": max_dev,
    }


def cospatiality_intervals(ax, ay, bx, by, radius_km: float = 0.005):
    """Overlap of polylines A and B within a corridor radius.

    Returns None if no overlap, else dict with the reference's observable
    outputs (loaders.js:195-274 consumes exactly these four offsets):
      a_start_km / a_end_km   — overlap interval along A
      b_start_km / b_end_km   — overlap interval along B
      intxn_len_km            — overlap length along A

    NOTE the B interval here is min/max of A-vertex snap positions (the
    flagship join's documented contract). For the standalone cospatiality
    pair table use `cospatiality_two_sided`, whose B interval comes from an
    INDEPENDENT projection — correct for backtracking/overshooting pairs.
    """
    r = corridor_match(ax, ay, bx, by, radius_km=radius_km)
    if r is None:
        return None
    return {k: r[k] for k in ("a_start_km", "a_end_km", "b_start_km", "b_end_km", "intxn_len_km")}


def _corridor_interval(px_, py_, qx, qy, radius_km: float):
    """Along-P interval of P's (densified) vertices within radius of Q, or
    None. One side of the two-sided cospatiality."""
    r = _corridor_runs(px_, py_, qx, qy, radius_km)
    if r is None:
        return None
    return r[0][0], r[-1][1]


def _corridor_runs(px_, py_, qx, qy, radius_km: float):
    """ALL maximal within-radius runs of P's densified vertices against Q,
    as a list of (start_km, end_km) intervals along P (None when none) —
    the corridor analog of the reference's S ∩ buffer(T) intersection
    parts: a P that exits the corridor and re-enters produces one run per
    continuous cospatial section (getCospatialityOfLinestrings.js:357-366
    sIntxn/tIntxn MultiLineString parts)."""
    px_ = np.asarray(px_, dtype=np.float64)
    py_ = np.asarray(py_, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64)
    qy = np.asarray(qy, dtype=np.float64)
    pxd, pyd = px_, py_
    for _ in range(2):
        pxd, pyd = midpoints(pxd, pyd)
    _, _, _, dev, _, _ = snap_points_to_polyline(pxd, pyd, qx, qy)
    p_len = polyline_length_km(px_, py_)
    seg_len, start = segmentize(pxd, pyd)
    pos = np.concatenate([start, [p_len]])
    within = dev <= radius_km
    if not np.any(within):
        return None
    w = within.astype(np.int8)
    starts = np.where(np.diff(np.concatenate([[0], w])) == 1)[0]
    ends = np.where(np.diff(np.concatenate([w, [0]])) == -1)[0]
    return [(float(pos[s]), float(pos[e])) for s, e in zip(starts, ends)]


def remove_redundant_coords(xs, ys):
    """Drop consecutive duplicate vertices (reference removeRedundantCoords,
    applied per part in lineMerge, getCospatialityOfLinestrings.js:185)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if xs.size <= 1:
        return xs, ys
    keep = np.concatenate(
        [[True], (np.diff(xs) != 0) | (np.diff(ys) != 0)]
    )
    return xs[keep], ys[keep]


def line_merge(parts, tolerance_km: float = 0.0):
    """PostGIS-style ST_LineMerge with optional geospatial tolerance — the
    reference's standalone MultiLineString stitcher
    (getCospatialityOfLinestrings.js:169-267 lineMerge).

    `parts` is a list of (xs, ys) coordinate arrays. Semantics mirrored
    step-for-step:
      - parts with < 2 coords are dropped; consecutive duplicate coords
        removed per part (:181-185);
      - starting from the first part, each subsequent part stitches onto
        the first accumulated line whose endpoint matches: EXACT
        coordinate equality end->start / start->end first (:206-216),
        then, when `tolerance_km` > 0, endpoint distance <= tolerance
        (:218-231) — NOTE the reference's tolerance branch builds
        `otherStartPt`/`otherEndPt` from the CURRENT part's own endpoints
        (:219-220), so as written it compares curStart to curEnd; this
        kernel implements the documented intent (cur start vs other END,
        cur end vs other START), which is what the bug-free exact branch
        encodes at tolerance 0;
      - unmatched parts start new lines (:234);
      - output is sorted by length ascending, and with tolerance > 0 a
        line is dropped when ANY of its vertices lies within tolerance of
        a LONGER line (:241-260 subsumption filter).

    Returns the merged list of (xs, ys) arrays."""
    cleaned = []
    for xs, ys in parts:
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        if xs.size <= 1:
            continue
        xs, ys = remove_redundant_coords(xs, ys)
        if xs.size > 1:
            cleaned.append((xs, ys))
    if not cleaned:
        return []
    acc = [list(map(np.array, cleaned[0]))]
    for xs, ys in cleaned[1:]:
        placed = False
        for line in acc:
            oxs, oys = line
            if xs[0] == oxs[-1] and ys[0] == oys[-1]:  # cur start == other end
                line[0] = np.concatenate([oxs, xs[1:]])
                line[1] = np.concatenate([oys, ys[1:]])
                placed = True
                break
            if xs[-1] == oxs[0] and ys[-1] == oys[0]:  # cur end == other start
                line[0] = np.concatenate([xs[:-1], oxs])
                line[1] = np.concatenate([ys[:-1], oys])
                placed = True
                break
            if tolerance_km:
                if haversine_km(xs[0], ys[0], oxs[-1], oys[-1]) <= tolerance_km:
                    line[0] = np.concatenate([oxs, xs[1:]])
                    line[1] = np.concatenate([oys, ys[1:]])
                    placed = True
                    break
                if haversine_km(xs[-1], ys[-1], oxs[0], oys[0]) <= tolerance_km:
                    line[0] = np.concatenate([xs[:-1], oxs])
                    line[1] = np.concatenate([ys[:-1], oys])
                    placed = True
                    break
        if not placed:
            acc.append([np.array(xs), np.array(ys)])
    merged = sorted(
        ((xs, ys) for xs, ys in acc),
        key=lambda p: polyline_length_km(p[0], p[1]),
    )
    if tolerance_km == 0:
        return merged
    kept = []
    for i, (xs, ys) in enumerate(merged):
        subsumed = False
        for j in range(i + 1, len(merged)):
            oxs, oys = merged[j]
            _, _, _, dev, _, _ = snap_points_to_polyline(xs, ys, oxs, oys)
            if np.any(dev <= tolerance_km):
                subsumed = True
                break
        if not subsumed:
            kept.append((xs, ys))
    return kept


def cospatiality_two_sided_multi(
    a_parts,
    b_parts,
    radius_km: float = 0.005,
    tolerance_km: float = None,
):
    """Two-sided cospatiality for MULTI-part inputs: each side is stitched
    with `line_merge` at the 2 m tolerance and short merged parts dropped
    (the reference's geometryToGeoJson MultiLineString path,
    getCospatialityOfLinestrings.js:287-305), then cospatiality is
    evaluated pairwise between the surviving parts and the max-overlap
    pair's intervals are returned (None when no pair is cospatial)."""
    if tolerance_km is None:
        tolerance_km = SHORT_SEG_CUTOFF_KM
    ma = [
        p
        for p in line_merge(a_parts, tolerance_km)
        if polyline_length_km(p[0], p[1]) > tolerance_km
    ]
    mb = [
        p
        for p in line_merge(b_parts, tolerance_km)
        if polyline_length_km(p[0], p[1]) > tolerance_km
    ]
    best = None
    for axs, ays in ma:
        for bxs, bys in mb:
            c = cospatiality_two_sided(axs, ays, bxs, bys, radius_km)
            if c is not None and (
                best is None or c["intxn_a_km"] > best["intxn_a_km"]
            ):
                best = c
    return best


def cospatiality_two_sided(ax, ay, bx, by, radius_km: float = 0.005):
    """Two-sided cospatiality: the A and B overlap intervals come from
    INDEPENDENT projections (reference getCospatialityOfLinestrings.js:
    123-166 intersects the buffered geometries and measures offsets on EACH
    line separately). Deriving the B interval as min/max of A-vertex snap
    positions (corridor_match) is wrong when B partially backtracks or
    overshoots: the nearest-point projection collapses B's repeated
    traversal onto one branch. Here B's own densified vertices are
    projected onto A, so a backtracking B correctly reports its full
    cospatial extent.

    Returns None when either line is under the 2 m cutoff
    (getCospatialityOfLinestrings.js:13), either side has no within-radius
    portion, or either interval is under the 1 m intersection predicate
    (GtfsConflationMapJoinDAO/loaders.js:56).

    The hull fields above are DERIVED (first run start .. last run end);
    the reference's actual return value is a LIST of cospatialities — one
    per (S-intersection part, T-intersection part) pair after line-merging
    each side's buffered intersection, dropping parts <= 2 m, ordering
    parts by length ascending (lineMerge sorts ascending,
    getCospatialityOfLinestrings.js:241) and uniqWith-deduping
    (:370-505) — carried here as `entries`: dicts of
    a_start_km/a_end_km/b_start_km/b_end_km, possibly [] when every run is
    short (the reference returns null then; consumers that follow the
    reference's sum-vs-first asymmetry must read `entries`, not the hull —
    findNonAxiomaticPaths.js:115-128 vs :175-180)."""
    ax = np.asarray(ax, dtype=np.float64)
    ay = np.asarray(ay, dtype=np.float64)
    bx = np.asarray(bx, dtype=np.float64)
    by = np.asarray(by, dtype=np.float64)
    if (
        polyline_length_km(ax, ay) < SHORT_SEG_CUTOFF_KM
        or polyline_length_km(bx, by) < SHORT_SEG_CUTOFF_KM
    ):
        return None
    a_runs = _corridor_runs(ax, ay, bx, by, radius_km)
    b_runs = _corridor_runs(bx, by, ax, ay, radius_km)
    if a_runs is None or b_runs is None:
        return None
    a_start, a_end = a_runs[0][0], a_runs[-1][1]
    b_start, b_end = b_runs[0][0], b_runs[-1][1]
    if a_end - a_start <= 0.001 or b_end - b_start <= 0.001:
        return None
    # reference part pipeline: drop parts <= 2 m, sort ascending by length,
    # cross-product entries, uniqWith dedup
    a_parts = sorted(
        (r for r in a_runs if r[1] - r[0] > SHORT_SEG_CUTOFF_KM),
        key=lambda r: r[1] - r[0],
    )
    b_parts = sorted(
        (r for r in b_runs if r[1] - r[0] > SHORT_SEG_CUTOFF_KM),
        key=lambda r: r[1] - r[0],
    )
    entries = []
    for a_s, a_e in a_parts:
        for b_s, b_e in b_parts:
            e = {
                "a_start_km": a_s,
                "a_end_km": a_e,
                "b_start_km": b_s,
                "b_end_km": b_e,
            }
            if e not in entries:  # uniqWith(_.isEqual)
                entries.append(e)
    return {
        "a_start_km": a_start,
        "a_end_km": a_end,
        "b_start_km": b_start,
        "b_end_km": b_end,
        "intxn_a_km": a_end - a_start,
        "intxn_b_km": b_end - b_start,
        "entries": entries,
    }


# ---------------------------------------------------------------------------
# sequentiality / merging
# ---------------------------------------------------------------------------


def sequentiality(a_end_lon, a_end_lat, b_start_lon, b_start_lat, a_bearing, b_bearing):
    """Gap distance (km) + relative bearing between path A's end and path B's
    start — reference getSequentiality.js:16-64."""
    gap = float(haversine_km(a_end_lon, a_end_lat, b_start_lon, b_start_lat))
    rel = float((b_bearing - a_bearing + 180.0) % 360.0 - 180.0)
    return gap, rel


MERGE_GAP_KM = 0.002  # 2 m end→start merge tolerance (mergeLineStringsGeospatially.js)


# ---------------------------------------------------------------------------
# point-in-polygon + corridor membership
# ---------------------------------------------------------------------------


def point_in_ring(px, py, ring_x, ring_y) -> np.ndarray:
    """Even-odd-rule PIP, vectorized over points — the geopoly_overlap
    refine step (reference ConflationMapDAO/generators.js:24-40)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    x1, y1 = rx, ry
    x2, y2 = np.roll(rx, -1), np.roll(ry, -1)
    inside = np.zeros(px.shape, dtype=bool)
    for i in range(rx.size):
        cond = ((y1[i] > py) != (y2[i] > py)) & (
            px < (x2[i] - x1[i]) * (py - y1[i]) / (y2[i] - y1[i] + 1e-300) + x1[i]
        )
        inside ^= cond
    return inside


def buffer_ring(xs, ys, radius_km: float = 0.005, cap_pts: int = 4):
    """Corridor polygon ring around a polyline (5 m default — reference
    ConflationMapDAO/loaders.js:104-122 buffers segments by 5 m for the
    geopoly index). Offsets each vertex perpendicular to local direction."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    kx, ky = _local_plane(xs, ys)
    X, Y = xs * kx, ys * ky
    dX = np.gradient(X)
    dY = np.gradient(Y)
    L = np.hypot(dX, dY)
    L = np.where(L == 0, 1.0, L)
    nx, ny = -dY / L, dX / L
    left_x = (X + nx * radius_km) / kx
    left_y = (Y + ny * radius_km) / ky
    right_x = (X - nx * radius_km) / kx
    right_y = (Y - ny * radius_km) / ky
    ring_x = np.concatenate([left_x, right_x[::-1], left_x[:1]])
    ring_y = np.concatenate([left_y, right_y[::-1], left_y[:1]])
    return ring_x, ring_y


# ---------------------------------------------------------------------------
# batched (cross-pair packed) scoring kernels — round 3
# ---------------------------------------------------------------------------
# Same motivation as corridor_match_batch: per-pair numpy on ~20-50-point
# arrays is dispatch-overhead-bound; packing P same-shape pairs into (P, n)
# stacks runs each operation once per BATCH instead of once per pair. Each
# batch kernel performs the same element ops as its scalar sibling, so
# outputs are value-identical (asserted batch==scalar in tests).


def _frechet_dp_batch(D: np.ndarray) -> np.ndarray:
    """Discrete-Fréchet DP over a (P, n, m) coupling-distance stack: the
    scalar DP's (i, j) recurrence with every max/min running on (P,)
    vectors — n*m python iterations TOTAL for P pairs, not per pair.
    max/min are exact, so results match the scalar DP bit-for-bit."""
    P, n, m = D.shape
    ca = np.empty_like(D)
    ca[:, 0, 0] = D[:, 0, 0]
    for j in range(1, m):
        ca[:, 0, j] = np.maximum(ca[:, 0, j - 1], D[:, 0, j])
    for i in range(1, n):
        ca[:, i, 0] = np.maximum(ca[:, i - 1, 0], D[:, i, 0])
        row_prev = ca[:, i - 1]
        row = ca[:, i]
        for j in range(1, m):
            row[:, j] = np.maximum(
                np.minimum(
                    np.minimum(row_prev[:, j], row_prev[:, j - 1]), row[:, j - 1]
                ),
                D[:, i, j],
            )
    return ca[:, -1, -1]


def discrete_frechet_km_batch(AX, AY, BX, BY) -> np.ndarray:
    """Batched `discrete_frechet_km` over (P, n) / (P, m) stacks."""
    D = haversine_km(
        AX[:, :, None], AY[:, :, None], BX[:, None, :], BY[:, None, :]
    )
    return _frechet_dp_batch(D)


def snap_dev_batch(PX, PY, QX, QY) -> np.ndarray:
    """Batched point->polyline deviations: for each of P pairs, project the
    row's (P, np_) points onto its (P, nq) polyline and return the (P, np_)
    deviation matrix. Plane per pair = mean latitude of concat(Q, P),
    exactly as snap_points_to_polyline's _local_plane sees it."""
    P = PX.shape[0]
    np_ = PX.shape[1]
    lat0 = np.concatenate([QY, PY], axis=1).mean(axis=1)
    kx = (DEG_KM * np.cos(np.radians(lat0)))[:, None]
    ky = DEG_KM
    X = QX * kx
    Y = QY * ky
    PXp = PX * kx
    PYp = PY * ky
    ax = X[:, None, :-1]
    ay = Y[:, None, :-1]
    bx = X[:, None, 1:]
    by = Y[:, None, 1:]
    dx = bx - ax
    dy = by - ay
    L2 = dx * dx + dy * dy
    PPX = PXp[:, :, None]
    PPY = PYp[:, :, None]
    t = np.where(
        L2 > 0, ((PPX - ax) * dx + (PPY - ay) * dy) / np.where(L2 > 0, L2, 1.0), 0.0
    )
    t = np.clip(t, 0.0, 1.0)
    cx = ax + t * dx
    cy = ay + t * dy
    d2 = (PPX - cx) ** 2 + (PPY - cy) ** 2
    seg_idx = np.argmin(d2, axis=2)
    pi = np.arange(P)[:, None]
    ri = np.arange(np_)[None, :]
    return np.sqrt(d2[pi, ri, seg_idx])


def hausdorff_km_batch(AX, AY, BX, BY) -> np.ndarray:
    """Batched symmetric Hausdorff via snap deviations (== hausdorff_km)."""
    dev_ab = snap_dev_batch(AX, AY, BX, BY)
    dev_ba = snap_dev_batch(BX, BY, AX, AY)
    return np.maximum(dev_ab.max(axis=1), dev_ba.max(axis=1))


def mean_dev_km_batch(AX, AY, BX, BY) -> np.ndarray:
    """Batched bidirectional mean snap deviation (== similarity_stats
    'mean_km': mean of concat(dev_ab, dev_ba) per pair)."""
    dev_ab = snap_dev_batch(AX, AY, BX, BY)
    dev_ba = snap_dev_batch(BX, BY, AX, AY)
    return np.concatenate([dev_ab, dev_ba], axis=1).mean(axis=1)


def _corridor_interval_batch(PX, PY, QX, QY, radius_km: float):
    """Batched `_corridor_interval`: (any_within, start_km, end_km) per
    pair — P's densified vertices projected onto Q, along-P interval of the
    within-radius portion. Same op order as the scalar kernel."""
    P = PX.shape[0]
    p_len = np.sum(haversine_km(PX[:, :-1], PY[:, :-1], PX[:, 1:], PY[:, 1:]), axis=1)
    PXD, PYD = PX, PY
    for _ in range(2):
        PXD, PYD = _midpoints_rows(PXD, PYD)
    nd = PXD.shape[1]
    dev = snap_dev_batch(PXD, PYD, QX, QY)
    seg_len_p = haversine_km(PXD[:, :-1], PYD[:, :-1], PXD[:, 1:], PYD[:, 1:])
    start_p = np.concatenate(
        [np.zeros((P, 1)), np.cumsum(seg_len_p, axis=1)[:, :-1]], axis=1
    )
    pos = np.concatenate([start_p, p_len[:, None]], axis=1)
    within = dev <= radius_km
    any_w = within.any(axis=1)
    first = within.argmax(axis=1)
    last = nd - 1 - within[:, ::-1].argmax(axis=1)
    rows = np.arange(P)
    return any_w, pos[rows, first], pos[rows, last]


def cospatiality_two_sided_batch(AX, AY, BX, BY, radius_km: float = 0.005):
    """Vectorized `cospatiality_two_sided` over P same-shape pairs.

    Returns (valid_mask, dict of (P,) arrays with the scalar kernel's
    keys); rows failing the 2 m line cutoff, the within-radius test on
    either side, or the 1 m interval predicate have valid_mask False."""
    AX = np.asarray(AX, dtype=np.float64)
    AY = np.asarray(AY, dtype=np.float64)
    BX = np.asarray(BX, dtype=np.float64)
    BY = np.asarray(BY, dtype=np.float64)
    a_len = np.sum(haversine_km(AX[:, :-1], AY[:, :-1], AX[:, 1:], AY[:, 1:]), axis=1)
    b_len = np.sum(haversine_km(BX[:, :-1], BY[:, :-1], BX[:, 1:], BY[:, 1:]), axis=1)
    ok = (a_len >= SHORT_SEG_CUTOFF_KM) & (b_len >= SHORT_SEG_CUTOFF_KM)
    a_any, a_s, a_e = _corridor_interval_batch(AX, AY, BX, BY, radius_km)
    b_any, b_s, b_e = _corridor_interval_batch(BX, BY, AX, AY, radius_km)
    ok &= a_any & b_any & (a_e - a_s > 0.001) & (b_e - b_s > 0.001)
    return ok, {
        "a_start_km": a_s,
        "a_end_km": a_e,
        "b_start_km": b_s,
        "b_end_km": b_e,
        "intxn_a_km": a_e - a_s,
        "intxn_b_km": b_e - b_s,
    }


# ---------------------------------------------------------------------------
# Pass-C reference-parity score: rotation-restricted Procrustes similarity
# ---------------------------------------------------------------------------
# The reference scores chosen paths with curve-matcher's shapeSimilarity
# (scoreChosenPaths/frechet.js:6-35: rebalance both curves to
# min(max(|S|,|T|), ceil(maxLen_km * 50)) points, then
# shapeSimilarity(s, t, {restrictRotationAngle: 0.1*pi})). shapeSimilarity
# (chanind/curve-matcher, MIT) is: Procrustes-normalize each curve
# (rebalance to `estimation_points` by planar arc length, translate the
# centroid to the origin, scale to unit RMS radius), then take the minimum
# planar discrete-Fréchet distance over candidate rotations of curve A
# (theta = 0, the closed-form Procrustes-optimal angle if it is inside the
# restriction window, and `rotations` evenly spaced angles across
# [-restrict, +restrict]); similarity = max(0, 1 - minDist /
# (geoAvgCurveLen / sqrt(2))) where geoAvgCurveLen is the geometric mean
# of the two normalized curve lengths. Implemented here from the published
# algorithm; verified against an independent scalar port in tests.


def _rebalance_planar_batch(X: np.ndarray, Y: np.ndarray, n: int):
    """Batched planar (Euclidean) arc-length resample to n points —
    curve-matcher rebalanceCurve semantics."""
    P = X.shape[0]
    seg = np.sqrt(np.diff(X, axis=1) ** 2 + np.diff(Y, axis=1) ** 2)
    cum = np.concatenate([np.zeros((P, 1)), np.cumsum(seg, axis=1)], axis=1)
    total = cum[:, -1]
    frac = np.linspace(0.0, 1.0, n)
    d = total[:, None] * frac[None, :]
    # per-row searchsorted: count of cum entries <= d, minus 1
    i = (cum[:, None, :] <= d[:, :, None] + 0.0).sum(axis=2) - 1
    i = np.clip(i, 0, seg.shape[1] - 1)
    pi = np.arange(P)[:, None]
    seg_i = seg[pi, i]
    f = np.where(seg_i > 0, (d - cum[pi, i]) / np.where(seg_i > 0, seg_i, 1.0), 0.0)
    f = np.clip(f, 0.0, 1.0)
    rx = X[pi, i] + f * (X[pi, i + 1] - X[pi, i])
    ry = Y[pi, i] + f * (Y[pi, i + 1] - Y[pi, i])
    # degenerate (zero-length) curves collapse to their first vertex
    rx = np.where(total[:, None] > 0, rx, X[:, :1])
    ry = np.where(total[:, None] > 0, ry, Y[:, :1])
    return rx, ry


def _procrustes_normalize_batch(X: np.ndarray, Y: np.ndarray, n: int):
    """Rebalance to n planar points, translate centroid to origin, scale to
    unit RMS radius (curve-matcher procrustesNormalizeCurve)."""
    rx, ry = _rebalance_planar_batch(X, Y, n)
    rx = rx - rx.mean(axis=1, keepdims=True)
    ry = ry - ry.mean(axis=1, keepdims=True)
    scale = np.sqrt((rx * rx + ry * ry).mean(axis=1))
    s = np.where(scale > 0, scale, 1.0)[:, None]
    return rx / s, ry / s


def _euclid_frechet_batch(AX, AY, BX, BY) -> np.ndarray:
    D = np.sqrt(
        (AX[:, :, None] - BX[:, None, :]) ** 2
        + (AY[:, :, None] - BY[:, None, :]) ** 2
    )
    return _frechet_dp_batch(D)


def shape_similarity_batch(
    AX,
    AY,
    BX,
    BY,
    estimation_points: int = 50,
    rotations: int = 10,
    restrict_rotation: float = 0.1 * np.pi,
    check_rotations: bool = True,
) -> np.ndarray:
    """Batched curve-matcher shapeSimilarity over (P, na)/(P, nb) stacks.
    Returns a (P,) similarity in [0, 1]; 1 = identical shape up to
    translation/scale/limited rotation."""
    AX = np.asarray(AX, dtype=np.float64)
    AY = np.asarray(AY, dtype=np.float64)
    BX = np.asarray(BX, dtype=np.float64)
    BY = np.asarray(BY, dtype=np.float64)
    ax, ay = _procrustes_normalize_batch(AX, AY, estimation_points)
    bx, by = _procrustes_normalize_batch(BX, BY, estimation_points)
    len_a = np.sqrt(np.diff(ax, axis=1) ** 2 + np.diff(ay, axis=1) ** 2).sum(axis=1)
    len_b = np.sqrt(np.diff(bx, axis=1) ** 2 + np.diff(by, axis=1) ** 2).sum(axis=1)
    geo_avg = np.sqrt(len_a * len_b)
    thetas = [np.zeros(AX.shape[0])]
    if check_rotations:
        # closed-form Procrustes-optimal rotation of A onto B, kept only
        # inside the restriction window (else 0, already a candidate)
        num = (by * ax - bx * ay).sum(axis=1)
        den = (bx * ax + by * ay).sum(axis=1)
        theta_p = np.arctan2(num, den)
        theta_p = np.where(np.abs(theta_p) < restrict_rotation, theta_p, 0.0)
        thetas.append(theta_p)
        for i in range(rotations):
            t = -restrict_rotation + (2.0 * i * restrict_rotation) / (rotations - 1)
            thetas.append(np.full(AX.shape[0], t))
    best = np.full(AX.shape[0], np.inf)
    for th in thetas:
        c = np.cos(th)[:, None]
        s = np.sin(th)[:, None]
        rx = c * ax - s * ay
        ry = s * ax + c * ay
        best = np.minimum(best, _euclid_frechet_batch(rx, ry, bx, by))
    denom = np.where(geo_avg > 0, geo_avg / np.sqrt(2.0), 1.0)
    sim = np.where(geo_avg > 0, 1.0 - best / denom, np.where(best == 0, 1.0, 0.0))
    return np.clip(sim, 0.0, 1.0)


def shape_similarity(
    ax,
    ay,
    bx,
    by,
    estimation_points: int = 50,
    rotations: int = 10,
    restrict_rotation: float = 0.1 * np.pi,
    check_rotations: bool = True,
) -> float:
    """Scalar shapeSimilarity (frechet.js:34 semantics) — one pair."""
    return float(
        shape_similarity_batch(
            np.asarray(ax, dtype=np.float64)[None, :],
            np.asarray(ay, dtype=np.float64)[None, :],
            np.asarray(bx, dtype=np.float64)[None, :],
            np.asarray(by, dtype=np.float64)[None, :],
            estimation_points=estimation_points,
            rotations=rotations,
            restrict_rotation=restrict_rotation,
            check_rotations=check_rotations,
        )[0]
    )
