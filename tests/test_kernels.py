"""Unit tests: each numpy kernel vs an independent scalar oracle
(SURVEY.md §5.1). Adversarial inputs mirror the cases the reference guards
against: duplicate coords, loops, short segments."""

import math

import numpy as np
import pytest

from gtfs_conflation_pipeline_spark import kernels as K


def scalar_haversine(lon1, lat1, lon2, lat2):
    R = 6371.0088
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * R * math.asin(math.sqrt(a))


def test_haversine_vs_scalar():
    rng = np.random.default_rng(42)
    pts = rng.uniform([-75, 41], [-73, 44], size=(50, 2))
    for (lon1, lat1), (lon2, lat2) in zip(pts[:-1], pts[1:]):
        got = float(K.haversine_km(lon1, lat1, lon2, lat2))
        assert got == pytest.approx(scalar_haversine(lon1, lat1, lon2, lat2), rel=1e-12)


def test_haversine_zero():
    assert float(K.haversine_km(-74.0, 42.0, -74.0, 42.0)) == 0.0


def test_polyline_length_degenerate():
    assert K.polyline_length_km([-74.0], [42.0]) == 0.0
    assert K.polyline_length_km([], []) == 0.0
    # duplicate consecutive coords contribute zero
    assert K.polyline_length_km([-74, -74, -74.001], [42, 42, 42]) == pytest.approx(
        scalar_haversine(-74, 42, -74.001, 42), rel=1e-9
    )


def test_bearing_cardinal():
    assert float(K.bearing_deg(-74, 42, -74, 43)) == pytest.approx(0.0, abs=1e-9)
    assert float(K.bearing_deg(-74, 42, -73, 42)) == pytest.approx(90.0, abs=0.5)
    assert float(K.bearing_deg(-74, 43, -74, 42)) == pytest.approx(180.0, abs=1e-9)


def test_round6():
    assert K.round6(1.23456789) == 1.234568
    assert np.array_equal(K.round6([1.0000004, 1.0000006]), [1.0, 1.000001])


def test_splitmix64_known_values():
    # reference values from the SplitMix64 spec (Vigna): seed 0 sequence
    assert int(K.splitmix64(np.uint64(0))) == 0xE220A8397B1DCDAF
    assert int(K.splitmix64(np.uint64(1))) == 0x910A2DEC89025CC1


def test_morton_roundtrip_order():
    # Morton preserves grid identity and is unique per cell
    ids = K.cell_id([-74.0, -74.0, -73.9999], [42.0, 42.1, 42.0], 0.01)
    assert ids[0] != ids[1]
    # -74.0 and -73.9999 fall in different 0.01-deg cells? -74.0 -> 10600, -73.9999 -> 10600.01 -> same cell
    assert ids[0] == ids[2]
    # same point, same id (deterministic)
    assert K.cell_id(-74.0, 42.0, 0.01) == ids[0]


def test_cell_cover_ring():
    c0 = K.cell_cover_of_points([-74.0], [42.0], 0.01, ring=0)
    c1 = K.cell_cover_of_points([-74.0], [42.0], 0.01, ring=1)
    assert len(c0) == 1
    assert len(c1) == 9
    assert set(c0).issubset(set(c1))


def test_geoprox_key_matches_reference_semantics():
    # independent re-derivation of getGeoProximityKey.js for one point
    lon, lat = -73.5, 42.25
    p_lon = format(round(abs(lon * 100000)), "b")
    p_lat = format(round(abs(lat * 100000)), "b")
    bits = ""
    for i, c in enumerate(p_lon):
        bits += c + (p_lat[i] if i < len(p_lat) else "0")
    expect = np.base_repr(int(bits, 2), 36).lower().rjust(11, "0")
    assert K.geoprox_key([lon, lon + 1], [lat, lat + 1]) <= expect  # min(start,end)
    assert K.geoprox_key([lon], [lat]) == expect


def test_tile_math_slippy_reference():
    # openstreetmap wiki example: zoom 17, lat=51.51202, lon=0.02435 -> x=65544, y=43582
    xt, yt = K.lonlat_to_tile(0.02435, 51.51202, 17)
    assert int(xt) == 65544
    assert int(yt) == 43582


def test_tile_key_packing_unique():
    k1 = K.tile_key(7, 1, 2)
    k2 = K.tile_key(7, 2, 1)
    k3 = K.tile_key(8, 1, 2)
    assert len({int(k1), int(k2), int(k3)}) == 3


def test_zoom_for_networklevel():
    # reference tippecanoe FILTER thresholds (createMBTilesNDGeoJSON:13-39):
    # nlev<1 admitted at all zooms, 1->3, 2->4, 3->10, 4->13, else max-zoom 14
    assert list(K.zoom_for_networklevel([0, 1, 2, 3, 4, 5, 6])) == [0, 3, 4, 10, 13, 14, 14]


def test_snap_point_simple():
    # vertical line; point to the east at same latitude as midpoint
    xs = np.array([-74.0, -74.0])
    ys = np.array([42.0, 42.01])
    seg, t, along, dev, sx, sy = K.snap_points_to_polyline([-73.999], [42.005], xs, ys)
    assert seg[0] == 0
    assert t[0] == pytest.approx(0.5, abs=0.01)
    assert along[0] == pytest.approx(K.polyline_length_km(xs, ys) / 2, rel=0.02)
    assert dev[0] == pytest.approx(scalar_haversine(-74, 42.005, -73.999, 42.005), rel=0.01)
    assert sx[0] == pytest.approx(-74.0, abs=1e-9)


def test_snap_clamps_to_endpoints():
    xs = np.array([-74.0, -74.0])
    ys = np.array([42.0, 42.01])
    _, t, along, _, _, _ = K.snap_points_to_polyline([-74.0], [41.9], xs, ys)
    assert t[0] == 0.0 and along[0] == 0.0
    _, t, along, _, _, _ = K.snap_points_to_polyline([-74.0], [42.1], xs, ys)
    assert t[0] == 1.0
    assert along[0] == pytest.approx(K.polyline_length_km(xs, ys), rel=1e-9)


def test_line_slice_along_roundtrip():
    xs = np.array([-74.0, -73.99, -73.98, -73.97])
    ys = np.array([42.0, 42.005, 42.0, 42.005])
    total = K.polyline_length_km(xs, ys)
    sx, sy = K.line_slice_along(xs, ys, 0.0, total)
    assert K.polyline_length_km(sx, sy) == pytest.approx(total, rel=1e-9)
    # half slice has half length
    hx, hy = K.line_slice_along(xs, ys, 0.0, total / 2)
    assert K.polyline_length_km(hx, hy) == pytest.approx(total / 2, rel=1e-4)
    # adjoining slices share the cut coordinate (connectivity invariant,
    # reference GtfsNetworkDAO/loaders/index.js:144-146)
    ax, ay = K.line_slice_along(xs, ys, total / 3, total)
    bx, by = K.line_slice_along(xs, ys, 0.0, total / 3)
    assert bx[-1] == pytest.approx(ax[0], abs=1e-12)
    assert by[-1] == pytest.approx(ay[0], abs=1e-12)


def test_fit_stops_monotone_simple():
    # straight west-east shape, stops in order -> greedy succeeds
    xs = np.linspace(-74.0, -73.9, 11)
    ys = np.full(11, 42.0)
    stop_x = np.array([-73.995, -73.955, -73.915])
    stop_y = np.array([42.0005, 41.9995, 42.0005])
    fit = K.fit_stops_to_path(stop_x, stop_y, xs, ys)
    assert np.all(np.diff(fit["dist_along_km"]) >= 0)
    assert np.all(fit["deviation_km"] < 0.12)


def test_fit_stops_needs_dp_on_loop():
    # loop shape: same coords visited twice; stops ordered along the loop.
    # Greedy snaps both stops to nearest geometric match (ambiguous);
    # DP must keep dist_along monotone.
    th = np.linspace(0, 2 * np.pi, 41)
    xs = -74.0 + 0.01 * np.cos(th)
    ys = 42.0 + 0.01 * np.sin(th)
    # stops at angle 0.1, pi, 2pi-0.1 of the loop
    sa = [0.1, np.pi, 2 * np.pi - 0.1]
    stop_x = -74.0 + 0.0101 * np.cos(sa)
    stop_y = 42.0 + 0.0101 * np.sin(sa)
    fit = K.fit_stops_to_path(stop_x, stop_y, xs, ys)
    assert np.all(np.diff(fit["dist_along_km"]) >= 0)


def test_rdp_keeps_corners():
    xs = np.array([-74.0, -73.995, -73.99, -73.99, -73.99])
    ys = np.array([42.0, 42.0, 42.0, 42.005, 42.01])
    mask = K.rdp_mask(xs, ys, 0.0001)
    assert mask[0] and mask[-1] and mask[2]  # corner kept
    assert not mask[1]  # collinear dropped


def test_resample_endpoints_and_count():
    xs = np.array([-74.0, -73.99, -73.98])
    ys = np.array([42.0, 42.0, 42.0])
    rx, ry = K.resample_polyline(xs, ys, 7)
    assert rx.size == 7
    assert rx[0] == xs[0] and rx[-1] == xs[-1]
    d = K.haversine_km(rx[:-1], ry[:-1], rx[1:], ry[1:])
    assert np.allclose(d, d[0], rtol=1e-6)


def test_frechet_identity_and_offset():
    xs = np.linspace(-74.0, -73.9, 20)
    ys = np.full(20, 42.0)
    assert K.discrete_frechet_km(xs, ys, xs, ys) == 0.0
    off = K.discrete_frechet_km(xs, ys, xs, ys + 0.001)
    assert off == pytest.approx(scalar_haversine(-74, 42, -74, 42.001), rel=0.01)


def test_hausdorff_symmetric():
    ax = np.linspace(-74.0, -73.9, 20)
    ay = np.full(20, 42.0)
    bx, by = ax.copy(), ay + 0.0005
    d1 = K.hausdorff_km(ax, ay, bx, by)
    d2 = K.hausdorff_km(bx, by, ax, ay)
    assert d1 == pytest.approx(d2, rel=1e-9)
    assert d1 == pytest.approx(scalar_haversine(0, 0, 0, 0.0005), rel=0.01)


def test_cospatiality_full_overlap():
    xs = np.linspace(-74.0, -73.98, 10)
    ys = np.full(10, 42.0)
    r = K.cospatiality_intervals(xs, ys, xs, ys + 1e-5)
    assert r is not None
    assert r["a_start_km"] == pytest.approx(0.0, abs=1e-6)
    assert r["intxn_len_km"] == pytest.approx(K.polyline_length_km(xs, ys), rel=0.01)


def test_cospatiality_partial_overlap():
    a_x = np.linspace(-74.0, -73.98, 21)  # ~1.65 km
    a_y = np.full(21, 42.0)
    # B covers only the second half of A
    b_x = np.linspace(-73.99, -73.98, 11)
    b_y = np.full(11, 42.0)
    r = K.cospatiality_intervals(a_x, a_y, b_x, b_y)
    assert r is not None
    half = K.polyline_length_km(a_x, a_y) / 2
    assert r["a_start_km"] == pytest.approx(half, rel=0.06)
    assert r["intxn_len_km"] == pytest.approx(half, rel=0.06)


def test_cospatiality_disjoint_and_short():
    a_x = np.linspace(-74.0, -73.99, 5)
    a_y = np.full(5, 42.0)
    b_x = a_x
    b_y = a_y + 0.01  # ~1.1 km away > radius
    assert K.cospatiality_intervals(a_x, a_y, b_x, b_y) is None
    # <2m segment cutoff (reference getCospatialityOfLinestrings.js:13)
    assert K.cospatiality_intervals([-74.0, -74.000001], [42.0, 42.0], b_x, b_y) is None


def test_pip_square():
    ring_x = np.array([-74.01, -73.99, -73.99, -74.01, -74.01])
    ring_y = np.array([41.99, 41.99, 42.01, 42.01, 41.99])
    inside = K.point_in_ring([-74.0, -74.02], [42.0, 42.0], ring_x, ring_y)
    assert inside[0] and not inside[1]


def test_buffer_ring_contains_line_excludes_far():
    xs = np.linspace(-74.0, -73.99, 10)
    ys = np.full(10, 42.0)
    rx, ry = K.buffer_ring(xs, ys, radius_km=0.005)
    inside = K.point_in_ring(xs[2:8], ys[2:8], rx, ry)
    assert inside.all()
    far = K.point_in_ring([-73.995], [42.001], rx, ry)  # ~110 m off-corridor
    assert not far[0]


def test_rmsd_meters():
    xs = np.array([-74.0, -73.99])
    ys = np.array([42.0, 42.0])
    px = np.array([-73.995])
    py = np.array([42.00009])  # ~10 m north
    assert K.rmsd_m(px, py, xs, ys) == pytest.approx(10.0, rel=0.05)


def test_corridor_match_batch_equals_scalar():
    """Cross-pair packed kernel == scalar kernel per pair: bit-identical
    intervals, <=1-ulp mean_dev (masked-mean accumulation), identical
    validity — over full-within, partial-within, none-within, short-line
    and sub-1m-intersection pairs."""
    import numpy as np

    from gtfs_conflation_pipeline_spark import kernels as K

    rng_base = -74.0
    pairs = []
    n = 21
    xs = np.round(np.linspace(rng_base, rng_base + 0.02, n), 6)
    ys = np.full(n, 42.0)
    # full within: B == A offset by 5e-6 deg (<1 m)
    pairs.append((xs, ys, xs + 5e-6, ys))
    # partial: B covers only the first half of A's corridor
    pairs.append((xs, ys, xs[: n // 2 + 1], ys[: n // 2 + 1]))
    # none: B far away
    pairs.append((xs, ys, xs + 0.01, ys))
    # offset at the corridor edge (irregular within-mask)
    pairs.append((xs, ys, xs, ys + 2.6e-4))
    # wiggly B
    pairs.append((xs, ys, xs, ys + 1e-5 * np.sin(np.arange(n))))

    # group pairs by B length for stacking
    from collections import defaultdict

    groups = defaultdict(list)
    for p in pairs:
        groups[len(p[2])].append(p)
    for _, grp in groups.items():
        AX = np.stack([p[0] for p in grp]); AY = np.stack([p[1] for p in grp])
        BX = np.stack([p[2] for p in grp]); BY = np.stack([p[3] for p in grp])
        ok, m = K.corridor_match_batch(AX, AY, BX, BY, radius_km=0.0003)
        for i, p in enumerate(grp):
            s = K.corridor_match(p[0], p[1], p[2], p[3], radius_km=0.0003)
            assert bool(ok[i]) == (s is not None)
            if s is None:
                continue
            for k in ("a_start_km", "a_end_km", "b_start_km", "b_end_km",
                      "intxn_len_km", "max_dev_km"):
                assert m[k][i] == s[k], k
            assert abs(m["mean_dev_km"][i] - s["mean_dev_km"]) <= 1e-15


def test_cospatiality_batch_equals_scalar():
    """Packed two-sided cospatiality == scalar kernel per pair: identical
    validity and bit-identical intervals over overlap / partial / distant /
    backtracking / short-line pairs."""
    import numpy as np

    from gtfs_conflation_pipeline_spark import kernels as K

    n = 21
    xs = np.round(np.linspace(-74.0, -73.98, n), 6)
    ys = np.full(n, 42.0)
    back = np.concatenate([xs[: n - 10], xs[n - 12 : n - 12 + 10][::-1]])
    pairs = [
        (xs, ys, xs + 5e-6, ys),                       # near-identical
        (xs, ys, xs, ys + 2.6e-5),                     # offset inside radius
        (xs, ys, xs + 0.01, ys),                       # distant
        (xs, ys, back, ys),                            # B backtracks
        (xs, ys, xs, ys + 1e-5 * np.sin(np.arange(n))),  # wiggly
    ]
    AX = np.stack([p[0] for p in pairs]); AY = np.stack([p[1] for p in pairs])
    BX = np.stack([p[2] for p in pairs]); BY = np.stack([p[3] for p in pairs])
    ok, m = K.cospatiality_two_sided_batch(AX, AY, BX, BY, radius_km=0.005)
    for i, p in enumerate(pairs):
        s = K.cospatiality_two_sided(p[0], p[1], p[2], p[3], radius_km=0.005)
        assert bool(ok[i]) == (s is not None), i
        if s is None:
            continue
        for k in ("a_start_km", "a_end_km", "b_start_km", "b_end_km",
                  "intxn_a_km", "intxn_b_km"):
            assert m[k][i] == s[k], (i, k)


def test_score_batch_kernels_equal_scalar():
    """Batched Fréchet / Hausdorff / mean-dev == their scalar siblings
    (bit-identical DP, <=1-ulp means) on same-shape curve stacks."""
    import numpy as np

    from gtfs_conflation_pipeline_spark import kernels as K

    rng = np.random.default_rng(11)
    n, m, P = 17, 13, 6
    AX = -74.0 + np.cumsum(rng.uniform(1e-5, 1e-4, (P, n)), axis=1)
    AY = 42.0 + rng.uniform(-1e-4, 1e-4, (P, n))
    BX = -74.0 + np.cumsum(rng.uniform(1e-5, 1e-4, (P, m)), axis=1)
    BY = 42.0 + rng.uniform(-1e-4, 1e-4, (P, m))
    fr = K.discrete_frechet_km_batch(AX, AY, BX, BY)
    hd = K.hausdorff_km_batch(AX, AY, BX, BY)
    md = K.mean_dev_km_batch(AX, AY, BX, BY)
    for i in range(P):
        assert fr[i] == K.discrete_frechet_km(AX[i], AY[i], BX[i], BY[i]), i
        assert hd[i] == K.hausdorff_km(AX[i], AY[i], BX[i], BY[i]), i
        want = K.similarity_stats(AX[i], AY[i], BX[i], BY[i])["mean_km"]
        assert abs(md[i] - want) <= 1e-15, i


def _shape_similarity_port(ax, ay, bx, by, est=50, rotations=10,
                           restrict=0.1 * 3.141592653589793):
    """Independent scalar port of curve-matcher shapeSimilarity (plain
    python loops — the test oracle for kernels.shape_similarity)."""
    import math

    def rebalance(xs, ys, n):
        segs = [math.hypot(xs[i + 1] - xs[i], ys[i + 1] - ys[i])
                for i in range(len(xs) - 1)]
        total = sum(segs)
        if total == 0:
            return [xs[0]] * n, [ys[0]] * n
        cum = [0.0]
        for s in segs:
            cum.append(cum[-1] + s)
        out_x, out_y = [], []
        for k in range(n):
            d = total * k / (n - 1)
            i = max(j for j in range(len(cum)) if cum[j] <= d)
            i = min(i, len(segs) - 1)
            f = (d - cum[i]) / segs[i] if segs[i] > 0 else 0.0
            f = min(max(f, 0.0), 1.0)
            out_x.append(xs[i] + f * (xs[i + 1] - xs[i]))
            out_y.append(ys[i] + f * (ys[i + 1] - ys[i]))
        return out_x, out_y

    def normalize(xs, ys):
        xs, ys = rebalance(list(xs), list(ys), est)
        mx = sum(xs) / len(xs); my = sum(ys) / len(ys)
        xs = [x - mx for x in xs]; ys = [y - my for y in ys]
        scale = math.sqrt(sum(x * x + y * y for x, y in zip(xs, ys)) / len(xs))
        if scale > 0:
            xs = [x / scale for x in xs]; ys = [y / scale for y in ys]
        return xs, ys

    def frechet(ax, ay, bx, by):
        n, m = len(ax), len(bx)
        D = [[math.hypot(ax[i] - bx[j], ay[i] - by[j]) for j in range(m)]
             for i in range(n)]
        ca = [[0.0] * m for _ in range(n)]
        ca[0][0] = D[0][0]
        for j in range(1, m):
            ca[0][j] = max(ca[0][j - 1], D[0][j])
        for i in range(1, n):
            ca[i][0] = max(ca[i - 1][0], D[i][0])
            for j in range(1, m):
                ca[i][j] = max(min(ca[i - 1][j], ca[i - 1][j - 1], ca[i][j - 1]),
                               D[i][j])
        return ca[-1][-1]

    nax, nay = normalize(ax, ay)
    nbx, nby = normalize(bx, by)
    la = sum(math.hypot(nax[i + 1] - nax[i], nay[i + 1] - nay[i])
             for i in range(len(nax) - 1))
    lb = sum(math.hypot(nbx[i + 1] - nbx[i], nby[i + 1] - nby[i])
             for i in range(len(nbx) - 1))
    geo = math.sqrt(la * lb)
    num = sum(nby[i] * nax[i] - nbx[i] * nay[i] for i in range(est))
    den = sum(nbx[i] * nax[i] + nby[i] * nay[i] for i in range(est))
    tp = math.atan2(num, den)
    thetas = [0.0]
    if abs(tp) < restrict and tp != 0:
        thetas.append(tp)
    thetas += [-restrict + 2 * i * restrict / (rotations - 1)
               for i in range(rotations)]
    best = float("inf")
    for th in thetas:
        c, s = math.cos(th), math.sin(th)
        rx = [c * x - s * y for x, y in zip(nax, nay)]
        ry = [s * x + c * y for x, y in zip(nax, nay)]
        best = min(best, frechet(rx, ry, nbx, nby))
    if geo == 0:
        return 1.0 if best == 0 else 0.0
    return max(0.0, min(1.0, 1.0 - best / (geo / math.sqrt(2))))


def test_shape_similarity_matches_independent_port():
    """kernels.shape_similarity == an independent plain-python port of the
    published curve-matcher algorithm, on straight / curved / rotated /
    translated+scaled fixture curves."""
    import numpy as np

    from gtfs_conflation_pipeline_spark import kernels as K

    t = np.linspace(0, 1, 23)
    curves = [
        (t, np.zeros_like(t)),                        # straight
        (t, 0.2 * np.sin(3 * t)),                     # curved
        (t * 0.7 + 5.0, 0.2 * np.sin(3 * t) * 0.7),   # scaled+translated curved
        (t * np.cos(0.2) - 0.2 * np.sin(3 * t) * np.sin(0.2),
         t * np.sin(0.2) + 0.2 * np.sin(3 * t) * np.cos(0.2)),  # rotated 0.2rad
        (np.cos(t * 2), np.sin(t * 2)),               # arc
    ]
    for ax, ay in curves:
        for bx, by in curves:
            got = K.shape_similarity(ax, ay, bx, by)
            want = _shape_similarity_port(ax, ay, bx, by)
            assert got == pytest.approx(want, abs=1e-9), (got, want)


def test_shape_similarity_invariances():
    """Similarity semantics: identity = 1; translation+scale invariant;
    a rotation beyond the restriction window is penalized when the window
    is tight."""
    import numpy as np

    from gtfs_conflation_pipeline_spark import kernels as K

    t = np.linspace(0, 1, 30)
    ax, ay = t, 0.3 * np.sin(2.5 * t)
    assert K.shape_similarity(ax, ay, ax, ay) == 1.0
    assert K.shape_similarity(ax, ay, ax * 4 + 9, ay * 4 - 2) == pytest.approx(
        1.0, abs=1e-9
    )
    # rotate by 0.4*pi: outside the reference's 0.1*pi restriction window
    th = 0.4 * np.pi
    rx = ax * np.cos(th) - ay * np.sin(th)
    ry = ax * np.sin(th) + ay * np.cos(th)
    restricted = K.shape_similarity(ax, ay, rx, ry, restrict_rotation=0.1 * np.pi)
    free = K.shape_similarity(ax, ay, rx, ry, restrict_rotation=np.pi)
    assert free > restricted
    assert restricted < 0.95


def test_pair_operators_equal_scalar_across_batches(spark):
    """Operator level, through the mapInArrow pair boundary: refine,
    map_segments_cospatiality and score_matches over pairs that mix vertex
    counts (0- and 1-vertex lines for the corridor kernels, 1-vertex slices
    for scoring), with several Arrow batches per partition and an empty
    partition, emit exactly the rows the scalar kernels give per pair,
    with identical doubles."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from gtfs_conflation_pipeline_spark.functions import udfs as U
    from gtfs_conflation_pipeline_spark.operators import scoring
    from gtfs_conflation_pipeline_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(5)

    def line(n, x0, dy):
        xs = x0 + np.sort(rng.uniform(0.0, 0.004, n))
        return xs.tolist(), (42.0 + dy + rng.uniform(-2e-5, 2e-5, n)).tolist()

    pair_rows = []
    for na in (0, 1, 2, 3, 5, 8):
        for nb in (0, 1, 2, 4, 7):
            for dy in (0.0, 1e-4, 2e-3):  # on, near and off the corridor
                i = len(pair_rows)
                x0 = -74.0 + 0.01 * i
                pair_rows.append(
                    (f"shp_{i:03d}", i, 1000 + i, f"ref_{i}", i % 3,
                     *line(na, x0, 0.0), *line(nb, x0, dy), i % 2)
                )
    pairs = spark.createDataFrame(
        pair_rows,
        "shape_id string, shape_index int, segment_id long, shst_reference string,"
        " networklevel int, g_xs array<double>, g_ys array<double>,"
        " o_xs array<double>, o_ys array<double>, part int",
    ).repartition(4, "part")
    assert pairs.select(F.spark_partition_id()).distinct().count() < 4

    want_refine = {}
    for r in pair_rows:
        m = K.corridor_match(*map(np.asarray, r[5:9]), radius_km=SJ.CORRIDOR_KM)
        if m is not None:
            want_refine[r[1]] = (r, m)
    assert 0 < len(want_refine) < len(pair_rows)

    osm_rows = [
        (2000 + i, *line(n, -73.5 + 0.001 * (i % 7), 1e-5 * (i % 3)))
        for i, n in enumerate((0, 1, 2, 3, 5, 8, 2, 4, 7, 1, 3, 6))
    ]
    osm = spark.createDataFrame(osm_rows, "segment_id long, xs array<double>, ys array<double>")
    want_cosp = {}
    for a in osm_rows:
        for b in osm_rows:
            if a[0] < b[0]:
                c = K.cospatiality_two_sided(*map(np.asarray, (*a[1:], *b[1:])), radius_km=0.005)
                if c is not None:
                    want_cosp[(a[0], b[0])] = c
    assert want_cosp

    # score the refine survivors; every other one gets an empty GTFS
    # interval, whose 1-vertex slice the scalar scorer rejects
    match_rows = [
        (r[0], r[1], r[2], r[3], m["a_start_km"],
         m["a_start_km"] if r[1] % 2 else m["a_end_km"], m["b_start_km"], m["b_end_km"])
        for r, m in want_refine.values()
    ]
    matches = spark.createDataFrame(
        match_rows,
        "shape_id string, shape_index int, segment_id long, shst_reference string,"
        " section_start double, section_end double, osm_start double, osm_end double",
    )
    segments = pairs.select(
        "shape_id", "shape_index", F.col("g_xs").alias("xs"), F.col("g_ys").alias("ys")
    )
    osm_b = pairs.select("segment_id", F.col("o_xs").alias("xs"), F.col("o_ys").alias("ys"))
    want_scores = {}
    for mr in match_rows:
        s = scoring.score_pair(*map(np.asarray, pair_rows[mr[1]][5:9]), *mr[4:8])
        if s is not None:
            want_scores[mr[1]] = s
    assert 0 < len(want_scores) < len(match_rows)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        refined = SJ.refine(pairs).toPandas()
        cosp = SJ.map_segments_cospatiality(osm).toPandas()
        scores = scoring.score_matches(matches, segments, osm_b).toPandas()
    finally:
        spark.conf.set(key, prev)

    assert sorted(refined.shape_index) == sorted(want_refine)
    for g in refined.itertuples(index=False):
        r, m = want_refine[g.shape_index]
        assert (g.shape_id, g.segment_id, g.shst_reference, g.networklevel) == (r[0], *r[2:5])
        _, m1 = K.corridor_match_batch(
            *(np.asarray(a)[None] for a in r[5:9]), radius_km=SJ.CORRIDOR_KM
        )
        for out_c, m_k in SJ._OUT_KEYS:
            assert getattr(g, out_c) == m1[m_k][0], (g.shape_index, out_c)
            if m_k == "mean_dev_km":  # masked batch mean: <= 1 ulp (kernel doc)
                assert abs(g.mean_dev_km - m[m_k]) <= np.spacing(m[m_k]), g.shape_index
            else:
                assert getattr(g, out_c) == m[m_k], (g.shape_index, out_c)

    assert sorted(zip(cosp.segment_id_a, cosp.segment_id_b)) == sorted(want_cosp)
    for g in cosp.itertuples(index=False):
        c = want_cosp[(g.segment_id_a, g.segment_id_b)]
        for k in ("a_start_km", "a_end_km", "b_start_km", "b_end_km", "intxn_a_km", "intxn_b_km"):
            assert getattr(g, k) == c[k], (g.segment_id_a, g.segment_id_b, k)

    assert sorted(scores.shape_index) == sorted(want_scores)
    for g in scores.itertuples(index=False):
        s = want_scores[g.shape_index]
        got = (g.frechet_km, g.hausdorff_km, g.mean_dev_km, g.shape_similarity)
        assert got == s, g.shape_index

    # list offsets are absolute into .values: a sliced batch must see its
    # own rows, not the rows at the start of the buffer
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(("g_xs", "g_ys", "o_xs", "o_ys", "i"), (*r[5:9], r[1]))) for r in pair_rows]
    )
    schema = pa.schema([("i", pa.int64()), ("a_start_km", pa.float64())])
    out = pa.Table.from_batches(
        U.map_pairs(
            [batch.slice(7, 40)], ("g_xs", "g_ys", "o_xs", "o_ys"), schema,
            lambda na, nb: (4 * na - 3) * nb,
            lambda *g: K.corridor_match_batch(*g, radius_km=SJ.CORRIDOR_KM),
        ),
        schema=schema,
    )
    assert sorted(out.column("i").to_pylist()) == [i for i in sorted(want_refine) if 7 <= i < 47]


def _reference_choose(lst):
    """Plain-Python greedy cover + along-index rank over one segment's
    candidate dicts: (kept index, along_idx) pairs, in keep order."""
    from gtfs_conflation_pipeline_spark.operators.spatial_join import OVERLAP_TOL

    order = sorted(
        range(len(lst)),
        key=lambda i: (
            -lst[i]["intxn_len_km"],
            lst[i]["mean_dev_km"],
            lst[i]["shst_reference"],
            lst[i]["segment_id"],
        ),
    )
    intervals: list[tuple[float, float]] = []
    keep: list[int] = []
    for i in order:
        a, b = lst[i]["section_start"], lst[i]["section_end"]
        ov = sum(max(0.0, min(b, hi) - max(a, lo)) for lo, hi in intervals)
        if (b - a) > 0 and ov / (b - a) <= OVERLAP_TOL:
            keep.append(i)
            intervals.append((a, b))
    rk = lambda i: (  # noqa: E731
        lst[i]["section_start"],
        lst[i]["section_end"],
        lst[i]["shst_reference"],
    )
    ordered = sorted(keep, key=rk)
    ranks: dict[int, int] = {}
    for pos, i in enumerate(ordered):
        same = pos > 0 and rk(i) == rk(ordered[pos - 1])
        ranks[i] = ranks[ordered[pos - 1]] if same else pos + 1
    return [(i, ranks[i]) for i in keep]


def test_chain_operators_equal_reference_across_batches(spark):
    """Operator level, through the mapInArrow boundary: assign_tiles,
    snap_and_slice and choose_matches with two rows per Arrow batch emit
    exactly what the per-row references give -- tiles_for_polyline per
    segment, the shape-local slice kernel per shape, and a plain-Python
    greedy cover + rank per GTFS segment -- with identical doubles; the
    kernel bodies also see an empty batch and a sliced one (list offsets
    are absolute into `.values`)."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from gtfs_conflation_pipeline_spark import fixtures as FX
    from gtfs_conflation_pipeline_spark.operators import snap, tiles
    from gtfs_conflation_pipeline_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(11)

    # --- tiles: 0-, 1- and many-vertex polylines at every min zoom
    osm_rows = []
    for i, n in enumerate((0, 1, 2, 3, 7, 12, 0, 1, 5, 40, 2, 9)):
        xs = -74.0 + 0.3 * i + np.cumsum(rng.uniform(0.0, 0.02, n))
        ys = 42.0 + np.cumsum(rng.uniform(-0.02, 0.02, n))
        osm_rows.append((3000 + i, i % 6, xs.tolist(), ys.tolist()))
    osm = spark.createDataFrame(
        osm_rows, "segment_id long, networklevel int, xs array<double>, ys array<double>"
    )
    want_tiles = {
        (sid, int(K.zoom_for_networklevel(np.array([nl]))[0]), int(t))
        for sid, nl, xs, ys in osm_rows
        for t in K.tiles_for_polyline(
            np.asarray(xs), np.asarray(ys), int(K.zoom_for_networklevel(np.array([nl]))[0])
        )
    }

    # --- net_segments: fixture shapes with a null stop_dists list, a null
    # element, usable distances, 0- and 1-vertex shapes and a 1-stop shape
    pts = np.arange(0, FX.PTS_PER_SHAPE)
    stops = pts[:: FX.STOP_EVERY]

    def shape(s, dists):
        _, _, lon, lat = FX.shape_point(s * FX.PTS_PER_SHAPE + pts)
        sx, sy = lon[stops] + 2e-5, lat[stops] - 1e-5
        ids = [f"stop_{s}_{q}" for q in stops]
        return (f"shp_{s}", lon.tolist(), lat.tolist(), ids, sx.tolist(), sy.tolist(), dists)

    _, _, lon0, lat0 = FX.shape_point(pts)
    cum = np.r_[0.0, np.cumsum(K.haversine_km(lon0[:-1], lat0[:-1], lon0[1:], lat0[1:]))]
    shape_rows = [
        shape(0, None),
        shape(1, [None, 1.0, 2.0, 3.0, 4.0]),
        # meters, last stop at the shape's end: a 'dist' row
        shape(0, (cum[stops] * 1000.0 * cum[-1] / cum[stops[-1]]).tolist()),
        shape(2, [0.0, 1.0, 2.0, 3.0, 400.0]),  # +-10% miss: 'fallback'
        shape(3, None),
        ("shp_empty", [], [], ["a", "b"], [-74.0, -74.1], [42.0, 42.1], None),
        ("shp_one", [-74.0], [42.0], ["a", "b"], [-74.0, -74.1], [42.0, 42.1], None),
        ("shp_1stop", shape(4, None)[1], shape(4, None)[2], ["a"], [-74.0], [42.0], None),
    ]
    shape_rows[2] = ("shp_dist", *shape_rows[2][1:])
    shapes = spark.createDataFrame(
        shape_rows,
        "shape_id string, xs array<double>, ys array<double>, stop_ids array<string>,"
        " stop_lons array<double>, stop_lats array<double>, stop_dists array<double>",
    )

    def want_net(rows):
        out = {}
        for sid, xs, ys, ids, sx, sy, d in rows:
            dd = None if d is None else np.array([np.nan if v is None else v for v in d])
            src, slices = snap._slice_shape(*map(np.asarray, (xs, ys, sx, sy)), dd)
            for i, lo, ln, gx, gy in slices:
                out[(sid, i)] = (ids[i], ids[i + 1], lo, ln, gx.tolist(), gy.tolist(), src)
        return out

    wn = want_net(shape_rows)
    assert {v[-1] for v in wn.values()} == {"geom", "dist", "fallback"}
    assert {k[0] for k in wn} == {"shp_0", "shp_1", "shp_dist", "shp_2", "shp_3"}
    assert {v[-1] for k, v in wn.items() if k[0] in ("shp_0", "shp_1")} == {"geom"}

    # --- chooser: tie-heavy candidates (shared intervals, overlap
    # lengths, deviations and references, non-ASCII references)
    refs = ["ref_a", "ref_b", "ref_é", "ref_z", "REF"]
    cand_rows = []
    for g in range(40):
        for j in range(int(rng.integers(1, 9))):
            a = float(rng.choice([0.0, 0.25, 0.5, 0.1 + 0.2, rng.uniform(0, 1)]))
            b = a + float(rng.choice([0.0, 0.25, 0.5, 0.3, rng.uniform(0, 1)]))
            cand_rows.append((
                f"shp_{g % 7}", g, 100 * g + j, str(rng.choice(refs)), j % 3, a, b,
                0.0, 1.0, float(rng.choice([0.25, 0.5, b - a])),
                float(rng.choice([0.001, 0.002, rng.uniform(0, 0.01)])), 0.01, 1.0,
            ))
    refined = spark.createDataFrame(
        cand_rows,
        "shape_id string, shape_index int, segment_id long, shst_reference string,"
        " networklevel int, section_start double, section_end double, osm_start double,"
        " osm_end double, intxn_len_km double, mean_dev_km double, max_dev_km double,"
        " g_len_km double",
    )
    cols = [f.name for f in SJ.REFINE_SCHEMA.fields]

    def want_choose(rows, cap=None):
        groups: dict = {}
        for r in rows:
            if r[9] / r[12] >= SJ.MIN_COVER_RATIO:
                groups.setdefault((r[0], r[1]), []).append(dict(zip(cols, r)))
        out = {}
        for lst in groups.values():
            if cap is not None:
                lst = sorted(lst, key=lambda c: (-c["intxn_len_km"], c["mean_dev_km"],
                                                 c["shst_reference"], c["segment_id"]))[:cap]
            for i, rank in _reference_choose(lst):
                out[lst[i]["segment_id"]] = (*(lst[i][c] for c in cols), rank)
        return out

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got_tiles = tiles.assign_tiles(osm.select("segment_id", "networklevel"), osm).collect()
        got_net = snap.snap_and_slice(shapes).collect()
        got_choose = SJ.choose_matches(refined).collect()
        got_cap = SJ.choose_matches(refined, max_candidates_per_segment=2).collect()
    finally:
        spark.conf.set(key, prev)

    assert {tuple(r) for r in got_tiles} == want_tiles
    assert len(got_tiles) == len(want_tiles)

    got = {(r.shape_id, r.shape_index): (r.from_stop_id, r.to_stop_id, r.start_dist_km,
                                         r.length_km, r.xs, r.ys, r.dist_source) for r in got_net}
    assert len(got_net) == len(got) and got == wn

    # the cover both rejects candidates and keeps several per segment
    want = want_choose(cand_rows)
    assert len(want) < len([r for r in cand_rows if r[9] / r[12] >= SJ.MIN_COVER_RATIO])
    assert max(v[-1] for v in want.values()) >= 3
    for rows, cap in ((got_choose, None), (got_cap, 2)):
        want = want_choose(cand_rows, cap)
        assert {r.segment_id: tuple(r) for r in rows} == want
        assert len(rows) == len(want)

    # kernel bodies on an empty and a sliced batch
    osm_b = pa.RecordBatch.from_pylist([
        {"segment_id": s, "min_zoom": int(K.zoom_for_networklevel(np.array([nl]))[0]),
         "xs": xs, "ys": ys} for s, nl, xs, ys in osm_rows
    ])
    t_schema = to_arrow_schema(T.DataType.fromDDL(tiles.TILES_SCHEMA))
    assert pa.Table.from_batches(tiles._tiles([osm_b.slice(0, 0)], t_schema)).num_rows == 0
    part = pa.Table.from_batches(tiles._tiles([osm_b.slice(3, 6)], t_schema))
    sliced = {s for s, *_ in osm_rows[3:9]}
    assert set(zip(*part.to_pydict().values())) == {t for t in want_tiles if t[0] in sliced}

    sh_b = pa.RecordBatch.from_pylist([
        dict(zip(("shape_id", "xs", "ys", "stop_ids", "stop_lons", "stop_lats", "stop_dists"), r))
        for r in shape_rows
    ])
    n_schema = to_arrow_schema(T.DataType.fromDDL(snap.SEGMENTS_SCHEMA))
    assert pa.Table.from_batches(snap._fit_and_slice([sh_b.slice(0, 0)], n_schema)).num_rows == 0
    part = pa.Table.from_batches(snap._fit_and_slice([sh_b.slice(1, 3)], n_schema)).to_pylist()
    assert {(r["shape_id"], r["shape_index"]): tuple(list(r.values())[2:]) for r in part} == (
        want_net(shape_rows[1:4])
    )

    groups: dict = {}
    for r in cand_rows:
        groups.setdefault((r[0], r[1]), []).append(dict(zip(cols[2:], r[2:12])))
    ch_b = pa.RecordBatch.from_pylist(
        [{"shape_id": k[0], "shape_index": k[1], "cands": v} for k, v in groups.items()]
    )
    c_schema = to_arrow_schema(SJ.CHOSEN_SCHEMA)
    assert pa.Table.from_batches(SJ._choose([ch_b.slice(0, 0)], c_schema)).num_rows == 0
    part = pa.Table.from_batches(SJ._choose([ch_b.slice(5, 9)], c_schema)).to_pylist()
    want = {}
    for (sid, si), lst in list(groups.items())[5:14]:
        for i, rank in _reference_choose(lst):
            want[lst[i]["segment_id"]] = (sid, si, *lst[i].values(), rank)
    assert {r["segment_id"]: tuple(r.values()) for r in part} == want


def test_chooser_rejects_nan_sort_key():
    """A NaN sort key has no place in the greedy order (Python sorted()
    and a lexsort would disagree on it): the chooser raises instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from gtfs_conflation_pipeline_spark.operators import spatial_join as SJ

    cand = {"segment_id": 1, "shst_reference": "r", "networklevel": 0,
            "section_start": 0.0, "section_end": 1.0, "osm_start": 0.0,
            "osm_end": 1.0, "intxn_len_km": 1.0, "mean_dev_km": float("nan"),
            "max_dev_km": 0.0}
    batch = pa.RecordBatch.from_pylist([{"shape_id": "s", "shape_index": 0, "cands": [cand]}])
    with pytest.raises(ValueError, match="non-finite"):
        list(SJ._choose([batch], to_arrow_schema(SJ.CHOSEN_SCHEMA)))
