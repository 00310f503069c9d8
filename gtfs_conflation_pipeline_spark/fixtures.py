"""Deterministic synthetic fixtures (FIXTURES.md §2-3).

One numpy source of truth: every value is a closed-form function of the row
index `i` (no RNG state, no wall clock), so the Spark generators
(mapInPandas over spark.range) and the single-process numpy oracle produce
bit-identical tables at any scale, in any partitioning.

The primary table is `images` — the BASELINE.json input_hint shape:
  (image_id string, bytes binary, w int, h int, fmt string, caption string,
   phash int64)
Each image row is one GTFS shape-point observation; its coordinates are
recoverable from `phash` (invertible bit-pack), which is how the geo pipeline
derives the GTFS-analog tables from the image table without ever reading the
pixel payload (Parquet column pruning keeps `bytes` out of the scan).

Geometry domain ≈ NYS (lon -74.5±, lat 42±), matching the reference's
"all of NYS's GTFS" domain (GeoJsonGtfsDAO/generators.js:204-226).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import kernels as K

PTS_PER_SHAPE = 50
STOP_EVERY = 10  # every 10th shape point is a stop
CHUNK = 10  # OSM segment = chunk of 10 shape-point steps
TRIPS_PER_SHAPE = 3
LON0, LAT0 = -74.5, 41.8
# 21-bit quantized lon/lat offsets (1e-5 deg grid) packed as (lon << 32) | lat:
# a 20.97-deg window. Widened from 20 bits in 0.8.1 — existing phashes decode
# identically (their bit 20 is 0); the extra bit hosts disks 1-3 below.
PHASH_MASK = np.uint64(0x1FFFFF)
# Shapes per constant-density disk: radius 0.018*sqrt(m+0.5) stays under the
# 5.2-deg disk radius for m < floor((5.2/0.018)^2). Four disks tile the 2x2
# grid of the 21-bit window, so spatial density is CONSTANT out to
# 4*83,456 shapes (~16.7M images); beyond that, disks wrap (d % 4) and
# density doubles per lap — explicit, like the old single-disk cap at 4M.
SHAPES_PER_DISK = 83_456
DISK_PITCH_DEG = 10.48  # disk-center spacing; 5.24 + 10.48 + 5.2 + drift < 20.97

# ---------------------------------------------------------------------------
# closed-form numpy core (shared by Spark generators and the e2e oracle)
# ---------------------------------------------------------------------------


def shape_point(i: np.ndarray):
    """(shape_idx, pt_seq, lon, lat) for image rows i — closed-form smooth
    polylines: per-shape base point + parametric curve.

    Coordinates are quantized to the phash grid (1e-5 deg) THROUGH the same
    decode arithmetic as `lonlat_from_phash` / the engine's phash-decoding
    column expressions (LON0 + q*1e-5 with integer q), so every consumer —
    numpy oracle, Spark generator, phash round-trip — produces bit-identical
    doubles. Bases are clamped 0.05 deg inside the domain so the curve drift
    (<0.03 deg) can never go negative relative to (LON0, LAT0), which would
    wrap the 21-bit phash offsets.
    """
    i = np.asarray(i, dtype=np.int64)
    s = i // PTS_PER_SHAPE
    j = i % PTS_PER_SHAPE
    h = K.splitmix64(s.astype(np.uint64))
    u1 = (h & np.uint64(0xFFFFFFFF)).astype(np.float64) / 2**32
    u2 = (h >> np.uint64(32)).astype(np.float64) / 2**32
    # sunflower (golden-angle) layout: shape s sits at radius ~ sqrt(m) in
    # its disk, so the covered area grows linearly with the data and SPATIAL
    # DENSITY IS CONSTANT at any scale — like a growing real-world corpus,
    # and the reason candidate-pair counts scale linearly rather than
    # quadratically. Disk 0 (s < SHAPES_PER_DISK, i.e. every scale <= 4M
    # images) is bit-identical to the pre-0.8.1 single-disk layout; shapes
    # past it fill disks 1-3 of a 2x2 grid instead of piling onto the old
    # 5.2-deg ring (which made candidate pairs quadratic past 4M: the 16M
    # local[4] match stage measured 6.5x the 8M one for 2x the data).
    golden = 2.399963229728653
    d = (s // SHAPES_PER_DISK) % 4
    m = s % SHAPES_PER_DISK
    r = 0.018 * np.sqrt(m.astype(np.float64) + 0.5)
    lon_base = (
        LON0 + 5.24 + (d & 1) * DISK_PITCH_DEG
        + r * np.cos(s * golden) + (u1 - 0.5) * 0.01
    )
    lat_base = (
        LAT0 + 5.24 + ((d >> 1) & 1) * DISK_PITCH_DEG
        + r * np.sin(s * golden) + (u2 - 0.5) * 0.01
    )
    theta = u1 * 2 * np.pi
    phase = u2 * 2 * np.pi
    jj = j.astype(np.float64)
    # ~60 m steps + gentle curvature -> shape length ~3 km (>2 km split case)
    lon = lon_base + 6.0e-4 * jj * np.cos(theta) + 2.5e-4 * np.sin(jj / 5.0 + phase)
    lat = lat_base + 4.5e-4 * jj * np.sin(theta) + 2.5e-4 * np.cos(jj / 7.0 + phase)
    q_lon = np.round((lon - LON0) * 1e5).astype(np.int64)
    q_lat = np.round((lat - LAT0) * 1e5).astype(np.int64)
    return s, j, LON0 + q_lon * 1e-5, LAT0 + q_lat * 1e-5


def phash_from_lonlat(lon, lat) -> np.ndarray:
    """Invertible pack: bits 32..51 = lon offset at 1e-5 deg, bits 0..19 =
    lat offset (FIXTURES.md: phash <-> location fixed invertible mapping)."""
    lon_q = np.round((np.asarray(lon) - LON0) * 1e5).astype(np.int64).astype(np.uint64)
    lat_q = np.round((np.asarray(lat) - LAT0) * 1e5).astype(np.int64).astype(np.uint64)
    return (((lon_q & PHASH_MASK) << np.uint64(32)) | (lat_q & PHASH_MASK)).astype(np.int64)


def lonlat_from_phash(phash) -> tuple[np.ndarray, np.ndarray]:
    p = np.asarray(phash).astype(np.uint64)
    lon = LON0 + ((p >> np.uint64(32)) & PHASH_MASK).astype(np.float64) * 1e-5
    lat = LAT0 + (p & PHASH_MASK).astype(np.float64) * 1e-5
    return K.round6(lon), K.round6(lat)


def image_dims(i: np.ndarray):
    h64 = K.splitmix64(np.asarray(i, dtype=np.int64).astype(np.uint64))
    w = (16 + ((h64 >> np.uint64(8)) % np.uint64(49))).astype(np.int32)
    hh = (16 + ((h64 >> np.uint64(16)) % np.uint64(49))).astype(np.int32)
    return h64, w, hh


# The payload rule (arange(n) + b) & 0xFF is a cyclic 0..255 ramp starting at
# byte b, so every payload is a slice of ONE tiled pattern. Slicing _RAMP is
# byte-identical to the formula but allocation-light: the formula's uint64
# intermediates cost ~200 MB of fresh pages per 20k-row Arrow batch, and this
# box page-faults fresh multi-100MB allocations at MB/s rates under co-tenant
# load (measured: the np.repeat alone swung 2 s -> 130 s). Required size:
# max start offset 255 (both images' b and video frames' (b + frame) % 256
# are < 256) + max payload 64*64*3 = 12543; the "+2" tiles give 12800
# (512 bytes of slack). images_batch bounds-asserts against _RAMP.size
# because numpy slicing would silently CLAMP a too-short pattern.
_RAMP = np.tile(np.arange(256, dtype=np.uint8), (64 * 64 * 3) // 256 + 2)


def image_pixels(i: int) -> np.ndarray:
    """Deterministic pixel payload for row i (FIXTURES.md generation rule)."""
    h64, w, hh = image_dims(np.array([i]))
    n = int(w[0]) * int(hh[0]) * 3
    b = int(h64[0] & np.uint64(0xFF))
    return _RAMP[b : b + n].reshape(int(w[0]), int(hh[0]), 3).copy()


def images_batch(i: np.ndarray, with_bytes: bool = True) -> pd.DataFrame:
    """One Arrow batch of the images table for row ids i."""
    i = np.asarray(i, dtype=np.int64)
    s, j, lon, lat = shape_point(i)
    h64, w, hh = image_dims(i)
    seg = j // STOP_EVERY
    caption = np.char.add(
        np.char.add(
            np.char.add("shape shp_", np.char.zfill(s.astype(str), 5)),
            np.char.add(" seg ", seg.astype(str)),
        ),
        np.char.add(" pt ", j.astype(str)),
    )
    out = {
        "image_id": np.char.add("img_", np.char.zfill(i.astype(str), 12)),
        "w": w,
        "h": hh,
        "fmt": np.full(i.size, "raw", dtype=object),
        "caption": caption,
        "phash": phash_from_lonlat(lon, lat),
    }
    if with_bytes:
        lens = (w.astype(np.int64) * hh.astype(np.int64) * 3).astype(np.int64)
        b0 = (h64 & np.uint64(0xFF)).astype(np.int64)
        if i.size:
            # numpy slicing clamps out-of-range stops silently — fail loudly
            # if image_dims' size caps ever outgrow the precomputed pattern
            assert int((b0 + lens).max()) <= _RAMP.size, "resize fixtures._RAMP"
        ramp = _RAMP
        out["bytes"] = [
            ramp[b0[k] : b0[k] + lens[k]].tobytes() for k in range(i.size)
        ]
    else:
        out["bytes"] = [b""] * i.size
    return pd.DataFrame(
        {c: out[c] for c in ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]}
    )


def osm_segment_batch(seg_ids: np.ndarray) -> pa.RecordBatch:
    """OSM-side segments (the conflation-map / SharedStreets analog,
    reference ConflationMapDAO/createTableFns.js:3-22), as an Arrow batch
    of OSM_SCHEMA.

    Segment c of shape s covers shape points [c*CHUNK, (c+1)*CHUNK].
    Deterministic perturbations exercise the matcher (FIXTURES.md §3):
      (s + c) % 10 == 0 -> segment dropped            (candidate miss)
      (s + c) % 10 == 1 -> coords shifted ~3 m        (kNN tolerance)
      (s + c) % 10 == 2 -> an EXTRA distractor 300 m north is added
    """
    rows = []
    n_chunks = PTS_PER_SHAPE // CHUNK
    for g in np.asarray(seg_ids, dtype=np.int64):
        s, c = g // n_chunks, g % n_chunks
        j0 = c * CHUNK
        j1 = min(j0 + CHUNK, PTS_PER_SHAPE - 1)
        idx = s * PTS_PER_SHAPE + np.arange(j0, j1 + 1)
        _, _, lon, lat = shape_point(idx)
        mode = int((s + c) % 10)
        if mode == 0:
            continue  # dropped segment
        if mode == 1:
            lon = K.round6(lon + 3e-5)
        rows.append((int(g), s, c, lon, lat, 0))
        if mode == 2:
            rows.append((int(g), s, c, lon, K.round6(lat + 3e-3), 1))
    out = {f.name: [] for f in OSM_SCHEMA.fields}
    for g, s, c, lon, lat, distractor in rows:
        out["segment_id"].append(g * 2 + distractor)
        out["shst_reference"].append(
            f"shst_{s:05d}_{c}" if not distractor else f"shst_x_{s:05d}_{c}"
        )
        out["networklevel"].append(int((s + c) % 7))
        out["length_km"].append(K.polyline_length_km(lon, lat))
        out["xs"].append(lon)
        out["ys"].append(lat)
    return pa.RecordBatch.from_pydict(out, schema=_OSM_ARROW)


def n_shapes_for(n_images: int) -> int:
    return max(1, n_images // PTS_PER_SHAPE)


def stop_jitter(s: np.ndarray, seq: np.ndarray):
    """Numpy twin of the stop-jitter arithmetic in raw_tables()."""
    h = np.asarray(s, dtype=np.int64) * 37 + np.asarray(seq, dtype=np.int64) * 101
    dlat = ((h % 21) - 10) * 1e-5
    dlon = ((h % 19) - 9) * 1e-5
    return dlon, dlat


# ---------------------------------------------------------------------------
# Spark generators (mapInPandas over spark.range — embarrassingly parallel,
# no shuffle; scales to 10^12 rows by partition count alone)
# ---------------------------------------------------------------------------

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

OSM_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("shst_reference", T.StringType(), False),
        T.StructField("networklevel", T.IntegerType(), False),
        T.StructField("length_km", T.DoubleType(), False),
        T.StructField("xs", T.ArrayType(T.DoubleType()), False),
        T.StructField("ys", T.ArrayType(T.DoubleType()), False),
    ]
)
_OSM_ARROW = to_arrow_schema(OSM_SCHEMA)


def images_table(
    spark: SparkSession,
    n_images: int,
    partitions: int | None = None,
    with_bytes: bool = True,
) -> DataFrame:
    parts = partitions or max(4, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield images_batch(pdf["id"].values, with_bytes=with_bytes)

    return spark.range(0, n_images, numPartitions=parts).mapInPandas(gen, IMAGES_SCHEMA)


def osm_segments_table(
    spark: SparkSession, n_images: int, partitions: int | None = None
) -> DataFrame:
    parts = partitions or max(4, spark.sparkContext.defaultParallelism)
    n_chunks = PTS_PER_SHAPE // CHUNK
    n_seg_slots = n_shapes_for(n_images) * n_chunks

    def gen(batches):
        for batch in batches:
            yield osm_segment_batch(batch.column("id").to_numpy())

    return spark.range(0, n_seg_slots, numPartitions=parts).mapInArrow(gen, OSM_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)

AUDIO_RATE = 8000  # Hz


def audio_clip(i: int) -> np.ndarray:
    """Deterministic mono PCM16 clip for row i: a two-tone mixture whose
    frequencies/amplitudes derive from splitmix64(i), 0.25-1.0 s long —
    enough spectral structure for feature extraction to be meaningful."""
    h = int(K.splitmix64(np.array([i], dtype=np.uint64))[0])
    n = AUDIO_RATE // 4 + (h & 0xFFF) % (3 * AUDIO_RATE // 4)
    f1 = 100.0 + ((h >> 12) & 0xFFF) % 2900  # 100..3000 Hz (< Nyquist)
    f2 = 100.0 + ((h >> 24) & 0xFFF) % 2900
    a2 = (((h >> 36) & 0xFF) / 255.0) * 0.5
    t = np.arange(n, dtype=np.float64) / AUDIO_RATE
    x = 0.6 * np.sin(2 * np.pi * f1 * t) + a2 * np.sin(2 * np.pi * f2 * t)
    return np.clip(np.round(x * 20000.0), -32768, 32767).astype(np.int16)


def audio_batch(i: np.ndarray) -> pd.DataFrame:
    clips = [audio_clip(int(k)) for k in i]
    return pd.DataFrame(
        {
            "audio_id": np.char.add("aud_", np.char.zfill(i.astype(str), 12)),
            "bytes": [c.tobytes() for c in clips],
            "sample_rate": np.full(i.size, AUDIO_RATE, dtype=np.int32),
            "n_samples": np.array([c.size for c in clips], dtype=np.int32),
            "fmt": np.full(i.size, "pcm16", dtype=object),
        }
    )


def audio_table(
    spark: SparkSession, n_clips: int, partitions: int | None = None
) -> DataFrame:
    """Deterministic audio analog of images_table (opaque binary + typed
    metadata; generated map-side, no shuffle)."""
    parts = partitions or max(4, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield audio_batch(pdf["id"].values)

    return spark.range(0, n_clips, numPartitions=parts).mapInPandas(gen, AUDIO_SCHEMA)


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("fps", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
    ]
)


def video_frame(i: int, frame: int) -> np.ndarray:
    """Deterministic frame `frame` of clip i: the base image pattern
    drifting by one intensity step per frame (non-zero motion by
    construction, frame 0 == the still pattern)."""
    h64, w, hh = image_dims(np.array([i]))
    n = int(w[0]) * int(hh[0]) * 3
    b = (int(h64[0] & np.uint64(0xFF)) + frame) % 256
    return _RAMP[b : b + n].reshape(int(w[0]), int(hh[0]), 3).copy()


def video_batch(i: np.ndarray) -> pd.DataFrame:
    h64, w, hh = image_dims(i)
    nf = (4 + ((h64 >> np.uint64(40)) % np.uint64(9))).astype(np.int32)  # 4..12
    lens = w.astype(np.int64) * hh.astype(np.int64) * 3
    b0 = (h64 & np.uint64(0xFF)).astype(np.int64)
    out_b = []
    for k in range(i.size):
        n, b = int(lens[k]), int(b0[k])
        # frame f == video_frame(i, f): the ramp slice starting (b+f)%256
        out_b.append(
            b"".join(
                _RAMP[(b + f) % 256 : (b + f) % 256 + n].tobytes()
                for f in range(int(nf[k]))
            )
        )
    return pd.DataFrame(
        {
            "video_id": np.char.add("vid_", np.char.zfill(i.astype(str), 12)),
            "bytes": out_b,
            "w": w,
            "h": hh,
            "n_frames": nf,
            "fps": np.full(i.size, 10, dtype=np.int32),
            "fmt": np.full(i.size, "rawv", dtype=object),
        }
    )


def video_table(
    spark: SparkSession, n_videos: int, partitions: int | None = None
) -> DataFrame:
    """Deterministic video analog (raw-concatenated frames + typed
    metadata; generated map-side, no shuffle)."""
    parts = partitions or max(4, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield video_batch(pdf["id"].values)

    return spark.range(0, n_videos, numPartitions=parts).mapInPandas(gen, VIDEO_SCHEMA)


# ---------------------------------------------------------------------------
# GTFS-analog relational tables (derived from the images table — the pipeline
# input side; schemas mirror reference RawGtfsDAO/createTableFns.js)
# ---------------------------------------------------------------------------


def raw_tables(spark: SparkSession, images: DataFrame) -> dict[str, DataFrame]:
    """Derive raw.{shapes,stops,trips,stop_times,routes,calendar,
    calendar_dates,feed_info} from the images table.

    Only (image_id, phash) are read — Parquet column pruning drops `bytes`.
    """
    i_col = F.substring("image_id", 5, 12).cast("long")
    s_col = (i_col / PTS_PER_SHAPE).cast("long")
    j_col = i_col % PTS_PER_SHAPE
    lon_col = F.lit(LON0) + F.shiftright("phash", 32).bitwiseAND(0x1FFFFF) * 1e-5
    lat_col = F.lit(LAT0) + F.col("phash").bitwiseAND(0x1FFFFF) * 1e-5

    # NOTE no rounding: coords are already 1e-5-quantized by construction and
    # the decode arithmetic (LON0 + q*1e-5) is the bit-exact contract between
    # Spark and the numpy oracle — rounding functions differ between engines.
    base = images.select(
        F.format_string("shp_%05d", s_col).alias("shape_id"),
        s_col.alias("s"),
        j_col.alias("shape_pt_sequence"),
        lon_col.alias("shape_pt_lon"),
        lat_col.alias("shape_pt_lat"),
    )

    shapes = base.select(
        "shape_id",
        "shape_pt_lat",
        "shape_pt_lon",
        F.col("shape_pt_sequence").cast("int").alias("shape_pt_sequence"),
        F.lit(None).cast("double").alias("shape_dist_traveled"),
    )

    # stops: every STOP_EVERY-th point, deterministic <=20 m jitter — plain
    # arithmetic so the numpy oracle reproduces it exactly (stop_jitter())
    stop_base = base.filter(F.col("shape_pt_sequence") % STOP_EVERY == 0)
    h = F.col("s") * 37 + F.col("shape_pt_sequence") * 101
    stops = stop_base.select(
        F.format_string("stop_%05d_%d", F.col("s"), F.col("shape_pt_sequence")).alias(
            "stop_id"
        ),
        F.format_string("Stop %d of %d", F.col("shape_pt_sequence"), F.col("s")).alias(
            "stop_name"
        ),
        (F.col("shape_pt_lat") + ((h % 21) - 10) * 1e-5).alias("stop_lat"),
        (F.col("shape_pt_lon") + ((h % 19) - 9) * 1e-5).alias("stop_lon"),
    )

    n_shapes = images.count() // PTS_PER_SHAPE or 1
    shape_ids = spark.range(0, n_shapes).select(
        F.col("id").alias("s"), F.format_string("shp_%05d", "id").alias("shape_id")
    )

    trips = (
        shape_ids.crossJoin(spark.range(0, TRIPS_PER_SHAPE).select(F.col("id").alias("t")))
        .select(
            F.format_string("route_%04d", (F.col("s") / 4).cast("long")).alias("route_id"),
            F.when(F.col("t") < 2, "svc_wk").otherwise("svc_we").alias("service_id"),
            F.format_string("trip_%05d_%d", "s", "t").alias("trip_id"),
            (F.col("t") % 2).cast("string").alias("direction_id"),
            "shape_id",
        )
    )

    # stop_times: for each trip, visit that shape's stops in order; trip t
    # starts at 06:00 + t*90min; 5 min between stops
    stop_seq = spark.range(0, PTS_PER_SHAPE // STOP_EVERY).select(F.col("id").alias("k"))
    st_base = (
        shape_ids.crossJoin(spark.range(0, TRIPS_PER_SHAPE).select(F.col("id").alias("t")))
        .crossJoin(stop_seq)
    )
    dep_sec = (6 * 3600) + F.col("t") * 5400 + F.col("k") * 300
    hhmmss = F.format_string(
        "%02d:%02d:%02d", (dep_sec / 3600).cast("long"), (dep_sec % 3600 / 60).cast("long"), dep_sec % 60
    )
    stop_times = st_base.select(
        F.format_string("trip_%05d_%d", "s", "t").alias("trip_id"),
        hhmmss.alias("arrival_time"),
        hhmmss.alias("departure_time"),
        F.format_string("stop_%05d_%d", F.col("s"), F.col("k") * STOP_EVERY).alias("stop_id"),
        (F.col("k") + 1).cast("int").alias("stop_sequence"),
        F.lit(None).cast("double").alias("shape_dist_traveled"),
    )

    routes = (
        shape_ids.select((F.col("s") / 4).cast("long").alias("r"))
        .distinct()
        .select(
            F.format_string("route_%04d", "r").alias("route_id"),
            F.format_string("R%d", "r").alias("route_short_name"),
            (F.col("r") % 4).cast("int").alias("route_type"),
        )
    )

    # the literal tables are VALUES relations: a LocalTableScan in the JVM,
    # with no RDD and no Python worker behind it
    calendar = spark.sql(
        "SELECT * FROM VALUES"
        " ('svc_wk', 1, 1, 1, 1, 1, 0, 0, '20240101', '20240128'),"
        " ('svc_we', 0, 0, 0, 0, 0, 1, 1, '20240101', '20240128')"
        " AS t(service_id, monday, tuesday, wednesday, thursday, friday, saturday,"
        " sunday, start_date, end_date)"
    )
    calendar_dates = spark.sql(
        "SELECT * FROM VALUES ('svc_wk', '20240115', 2), ('svc_we', '20240116', 1)"
        " AS t(service_id, date, exception_type)"
    )
    feed_info = spark.sql(
        "SELECT * FROM VALUES ('synthetic-fixture', '20240101', '20240128')"
        " AS t(feed_publisher_name, feed_start_date, feed_end_date)"
    )

    return {
        "shapes": shapes,
        "stops": stops,
        "trips": trips,
        "stop_times": stop_times,
        "routes": routes,
        "calendar": calendar,
        "calendar_dates": calendar_dates,
        "feed_info": feed_info,
    }
