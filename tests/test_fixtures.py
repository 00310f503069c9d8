"""Fixture determinism + the per-row payload invariants from
BASELINE.json input_hint: decoded-pixel allclose + caption equality."""

import numpy as np

from gtfs_conflation_pipeline_spark import fixtures as FX
from gtfs_conflation_pipeline_spark import kernels as K


def test_phash_roundtrip():
    i = np.arange(500)
    _, _, lon, lat = FX.shape_point(i)
    ph = FX.phash_from_lonlat(lon, lat)
    lon2, lat2 = FX.lonlat_from_phash(ph)
    assert np.allclose(lon, lon2, atol=1e-5)
    assert np.allclose(lat, lat2, atol=1e-5)


def test_images_batch_deterministic_and_partition_invariant():
    a = FX.images_batch(np.arange(100))
    b = FX.images_batch(np.arange(100))
    assert a.equals(b)
    # partition invariance: generating rows in two halves == one batch
    c1 = FX.images_batch(np.arange(0, 50))
    c2 = FX.images_batch(np.arange(50, 100))
    import pandas as pd

    c = pd.concat([c1, c2], ignore_index=True)
    assert (a["image_id"] == c["image_id"]).all()
    assert (a["phash"] == c["phash"]).all()
    assert all(x == y for x, y in zip(a["bytes"], c["bytes"]))


def test_pixel_decode_invariant():
    # input_hint: decode(bytes) allclose vs regenerated pixels (fmt=raw -> exact)
    df = FX.images_batch(np.arange(20))
    for k in range(20):
        pix = np.frombuffer(df["bytes"][k], dtype=np.uint8).reshape(
            df["w"][k], df["h"][k], 3
        )
        assert np.array_equal(pix, FX.image_pixels(k))


def test_payload_ramp_matches_formula():
    """The _RAMP slice path must stay byte-identical to the FIXTURES.md
    closed-form rule (arange(n) + splitmix64(i)&0xFF) & 0xFF — an
    independent transcription, not a comparison of two _RAMP consumers."""
    ids = np.array([0, 1, 7, 12345, 999_999, 7_999_999], dtype=np.int64)
    df = FX.images_batch(ids)
    h64, w, hh = FX.image_dims(ids)
    for k in range(ids.size):
        n = int(w[k]) * int(hh[k]) * 3
        formula = (
            (np.arange(n, dtype=np.uint64) + (h64[k] & np.uint64(0xFF)))
            & np.uint64(0xFF)
        ).astype(np.uint8)
        assert df["bytes"][k] == formula.tobytes()
    # video frames add the frame index before the mask
    for idx, fr in [(0, 0), (0, 3), (12345, 11)]:
        h64, w, hh = FX.image_dims(np.array([idx]))
        n = int(w[0]) * int(hh[0]) * 3
        formula = (
            (np.arange(n, dtype=np.uint64) + (h64[0] & np.uint64(0xFF)) + np.uint64(fr))
            & np.uint64(0xFF)
        ).astype(np.uint8)
        assert np.array_equal(FX.video_frame(idx, fr).ravel(), formula)


def test_caption_format():
    df = FX.images_batch(np.array([0, 7, 61]), with_bytes=False)
    assert df["caption"][0] == "shape shp_00000 seg 0 pt 0"
    assert df["caption"][1] == "shape shp_00000 seg 0 pt 7"
    assert df["caption"][2] == "shape shp_00001 seg 1 pt 11"


def test_shapes_are_smooth_and_long_enough():
    # shapes should be a few km and smooth (at most 3 vertices where the
    # bearing turns by more than 67.5 deg)
    i = np.arange(FX.PTS_PER_SHAPE)
    _, _, lon, lat = FX.shape_point(i)
    L = K.polyline_length_km(lon, lat)
    assert 1.0 < L < 10.0
    b = K.bearing_deg(lon[:-1], lat[:-1], lon[1:], lat[1:])
    assert (np.abs((np.diff(b) + 180.0) % 360.0 - 180.0) > 67.5).sum() <= 3


def test_osm_segments_modes():
    n_chunks = FX.PTS_PER_SHAPE // FX.CHUNK
    df = FX.osm_segment_batch(np.arange(20 * n_chunks)).to_pandas()
    # dropped segments exist: slots where (s+c)%10==0 are absent
    slots = set()
    for g in np.arange(20 * n_chunks):
        s, c = g // n_chunks, g % n_chunks
        if (s + c) % 10 != 0:
            slots.add(g * 2)
    assert set(df[df.segment_id % 2 == 0].segment_id) == slots
    # distractors exist and are ~300m offset
    d = df[df.segment_id % 2 == 1]
    assert len(d) > 0
    assert df.length_km.min() > 0.1


def test_spark_generators_match_numpy(spark):
    img = FX.images_table(spark, 200, partitions=4).orderBy("image_id").toPandas()
    ref = FX.images_batch(np.arange(200))
    assert (img["image_id"].values == ref["image_id"].values).all()
    assert (img["phash"].values == ref["phash"].values).all()
    assert (img["caption"].values == ref["caption"].values).all()
    assert all(bytes(x) == y for x, y in zip(img["bytes"], ref["bytes"]))


def test_raw_tables_consistent(spark):
    img = FX.images_table(spark, 500, partitions=4, with_bytes=False)
    raw = FX.raw_tables(spark, img)
    shapes = raw["shapes"].toPandas()
    assert len(shapes) == 500
    # Spark-derived coords equal numpy closed form (phash round-trip)
    i = np.arange(500)
    _, _, lon, lat = FX.shape_point(i)
    sh = shapes.sort_values(["shape_id", "shape_pt_sequence"]).reset_index(drop=True)
    assert np.allclose(sh["shape_pt_lon"].values, lon, atol=1.1e-5)
    assert np.allclose(sh["shape_pt_lat"].values, lat, atol=1.1e-5)
    stops = raw["stops"].toPandas()
    assert len(stops) == 500 // FX.STOP_EVERY
    st = raw["stop_times"].toPandas()
    trips = raw["trips"].toPandas()
    assert len(trips) == (500 // FX.PTS_PER_SHAPE) * FX.TRIPS_PER_SHAPE
    assert len(st) == len(trips) * (FX.PTS_PER_SHAPE // FX.STOP_EVERY)
    assert set(st.trip_id) == set(trips.trip_id)


def test_literal_raw_tables_are_jvm_local(spark):
    """calendar, calendar_dates and feed_info keep the rows and types of
    their GTFS literals, and run as a JVM LocalTableScan: no RDD scan, so
    no PythonRDD and no Python worker is involved."""
    img = FX.images_table(spark, 100, partitions=2, with_bytes=False)
    raw = FX.raw_tables(spark, img)
    expected = {
        "calendar": (
            [
                ("svc_wk", 1, 1, 1, 1, 1, 0, 0, "20240101", "20240128"),
                ("svc_we", 0, 0, 0, 0, 0, 1, 1, "20240101", "20240128"),
            ],
            "service_id string, monday int, tuesday int, wednesday int, thursday int,"
            " friday int, saturday int, sunday int, start_date string, end_date string",
        ),
        "calendar_dates": (
            [("svc_wk", "20240115", 2), ("svc_we", "20240116", 1)],
            "service_id string, date string, exception_type int",
        ),
        "feed_info": (
            [("synthetic-fixture", "20240101", "20240128")],
            "feed_publisher_name string, feed_start_date string, feed_end_date string",
        ),
    }
    for name, (rows, ddl) in expected.items():
        df = raw[name]
        want = [c.strip().split(" ") for c in ddl.split(",")]
        assert [list(t) for t in df.dtypes] == want, name
        assert [tuple(r) for r in df.collect()] == rows, name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, name
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, name


def test_disk_layout_back_compat_and_window_bounds():
    """0.8.1 constant-density disks: disk 0 must reproduce the pre-0.8.1
    single-disk layout BIT-EXACTLY (every test/bench scale <= 4M images
    lives there — n_matches at 1M has been 90,065 since round 1), and far
    shapes must land inside the 21-bit phash window with an exact
    encode/decode round-trip (a wrap would silently corrupt coordinates)."""
    # (a) disk 0 == the legacy formula (independent transcription, with the
    # old np.minimum cap that was the 0.8.0 behavior below the cap)
    i = np.concatenate(
        [np.arange(500), np.arange(FX.SHAPES_PER_DISK - 2, FX.SHAPES_PER_DISK) * FX.PTS_PER_SHAPE]
    )
    s = i // FX.PTS_PER_SHAPE
    j = i % FX.PTS_PER_SHAPE
    h = FX.K.splitmix64(s.astype(np.uint64))
    u1 = (h & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    u2 = (h >> np.uint64(32)).astype(np.float64) / 2**32
    golden = 2.399963229728653
    r_old = np.minimum(0.018 * np.sqrt(s.astype(np.float64) + 0.5), 5.2)
    lon_b = FX.LON0 + 5.24 + r_old * np.cos(s * golden) + (u1 - 0.5) * 0.01
    lat_b = FX.LAT0 + 5.24 + r_old * np.sin(s * golden) + (u2 - 0.5) * 0.01
    theta, phase = u1 * 2 * np.pi, u2 * 2 * np.pi
    jj = j.astype(np.float64)
    lon_o = lon_b + 6.0e-4 * jj * np.cos(theta) + 2.5e-4 * np.sin(jj / 5.0 + phase)
    lat_o = lat_b + 4.5e-4 * jj * np.sin(theta) + 2.5e-4 * np.cos(jj / 7.0 + phase)
    lon_o = FX.LON0 + np.round((lon_o - FX.LON0) * 1e5).astype(np.int64) * 1e-5
    lat_o = FX.LAT0 + np.round((lat_o - FX.LAT0) * 1e5).astype(np.int64) * 1e-5
    _, _, lon_n, lat_n = FX.shape_point(i)
    assert (lon_n == lon_o).all() and (lat_n == lat_o).all()

    # (b) all four disks + the wrap lap: offsets strictly inside the 21-bit
    # window, and phash encode/decode is an exact fixed point
    far = []
    for d in range(5):  # disk 0..3 plus first wrapped disk
        s0 = d * FX.SHAPES_PER_DISK
        far.append(np.arange(s0 * FX.PTS_PER_SHAPE, s0 * FX.PTS_PER_SHAPE + 200))
        s1 = (d + 1) * FX.SHAPES_PER_DISK - 1  # outermost ring of the disk
        far.append(np.arange(s1 * FX.PTS_PER_SHAPE, (s1 + 1) * FX.PTS_PER_SHAPE))
    i = np.concatenate(far)
    _, _, lon, lat = FX.shape_point(i)
    q_lon = np.round((lon - FX.LON0) * 1e5).astype(np.int64)
    q_lat = np.round((lat - FX.LAT0) * 1e5).astype(np.int64)
    # distractor offset (+3e-3 lat) and stop jitter (1e-4) must also fit
    assert q_lon.min() > 0 and q_lat.min() > 0
    assert q_lon.max() + 300 < 2**21 and q_lat.max() + 300 < 2**21
    p = FX.phash_from_lonlat(lon, lat)
    lon2, lat2 = FX.lonlat_from_phash(p)
    # decode == round6 of the generator coords (the one decode path), and
    # re-encoding the decoded coords is a FIXED POINT (no drift across
    # encode/decode laps even in the new 21-bit range)
    assert (lon2 == FX.K.round6(lon)).all() and (lat2 == FX.K.round6(lat)).all()
    assert (FX.phash_from_lonlat(lon2, lat2) == p).all()

    # (c) disks 1..3 are genuinely disjoint in space from disk 0 (constant
    # density, not a pile-up): bounding boxes per disk do not overlap
    s_disk = (i // FX.PTS_PER_SHAPE // FX.SHAPES_PER_DISK) % 4
    for a in range(4):
        for b in range(a + 1, 4):
            la, lb = lon[s_disk == a], lon[s_disk == b]
            ta, tb = lat[s_disk == a], lat[s_disk == b]
            sep_lon = la.max() < lb.min() or lb.max() < la.min()
            sep_lat = ta.max() < tb.min() or tb.max() < ta.min()
            assert sep_lon or sep_lat
