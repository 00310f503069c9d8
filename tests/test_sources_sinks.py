"""Round-trip tests: GTFS zip source, ND-GeoJSON sink, polygon query."""

import json
import os
import zipfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from gtfs_conflation_pipeline_spark import fixtures as FX
from gtfs_conflation_pipeline_spark.operators.pip_query import (
    segments_overlapping_polygon,
)
from gtfs_conflation_pipeline_spark.sources.gtfs import read_gtfs_zip, typed_raw_tables
from gtfs_conflation_pipeline_spark.sources.sinks import export_layers, write_ndgeojson


@pytest.fixture(scope="module")
def raw(spark):
    img = FX.images_table(spark, 500, partitions=4, with_bytes=False)
    return FX.raw_tables(spark, img)


def test_gtfs_zip_roundtrip(spark, raw, tmp_path):
    """Write fixture raw tables as a GTFS zip, read back via the source,
    recover identical row counts + values."""
    zpath = str(tmp_path / "feed.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for name in ["shapes", "stops", "trips", "stop_times", "routes", "calendar"]:
            pdf = raw[name].toPandas()
            z.writestr(f"{name}.txt", pdf.to_csv(index=False))
    feed = read_gtfs_zip(spark, zpath)
    assert set(feed) == {"shapes", "stops", "trips", "stop_times", "routes", "calendar"}
    typed = typed_raw_tables(feed)
    assert typed["shapes"].count() == 500
    a = (
        typed["shapes"]
        .orderBy("shape_id", "shape_pt_sequence")
        .select("shape_pt_lon")
        .toPandas()
    )
    b = (
        raw["shapes"]
        .orderBy("shape_id", "shape_pt_sequence")
        .select("shape_pt_lon")
        .toPandas()
    )
    assert np.allclose(a.values, b.values)
    # dtypes came back typed
    assert dict(typed["stop_times"].dtypes)["stop_sequence"] == "int"


def test_empty_string_normalized_to_null(spark, tmp_path):
    zpath = str(tmp_path / "feed2.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("trips.txt", "route_id,service_id,trip_id,shape_id\nr1,s1,t1,\n")
    feed = read_gtfs_zip(spark, zpath)
    row = feed["trips"].collect()[0]
    assert row.shape_id is None


def test_ndgeojson_sink_valid_features(spark, raw, tmp_path):
    from gtfs_conflation_pipeline_spark.plans.pipeline import geo_shapes_from_raw

    shapes = geo_shapes_from_raw(raw["shapes"])
    path = str(tmp_path / "shapes.ndjson")
    write_ndgeojson(shapes.select("shape_id", "length_km", "xs", "ys"), path, kind="line")
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    assert files
    line = open(os.path.join(path, files[0])).readline()
    feat = json.loads(line)
    assert feat["type"] == "Feature"
    assert feat["geometry"]["type"] == "LineString"
    assert len(feat["geometry"]["coordinates"]) >= 2
    assert "shape_id" in feat["properties"]


def test_export_layers(spark, tmp_path):
    from gtfs_conflation_pipeline_spark.plans.pipeline import run_pipeline

    out = run_pipeline(spark, 500, str(tmp_path / "ck"), partitions=4)
    written = export_layers(out, str(tmp_path / "layers"))
    assert set(written) == {
        "stops",
        "shapes",
        "shape_segments",
        "conflation_matches",
        "match_scores",
        "conflation_join",
    }
    back = spark.read.parquet(written["conflation_matches"] + ".parquet")
    assert back.count() == out["matches"].count()


def test_polygon_query_matches_bruteforce(spark):
    osm = FX.osm_segments_table(spark, 1000, partitions=4)
    pdf = osm.toPandas()
    # query ring = bbox around the first segment, padded
    xs0 = np.asarray(pdf.iloc[0]["xs"])
    ys0 = np.asarray(pdf.iloc[0]["ys"])
    pad = 0.003
    rx = np.array([xs0.min() - pad, xs0.max() + pad, xs0.max() + pad, xs0.min() - pad, xs0.min() - pad])
    ry = np.array([ys0.min() - pad, ys0.min() - pad, ys0.max() + pad, ys0.max() + pad, ys0.min() - pad])
    got = segments_overlapping_polygon(osm, rx, ry).toPandas()
    # brute force
    expect = set()
    for r in pdf.itertuples(index=False):
        x, y = np.asarray(r.xs), np.asarray(r.ys)
        if (
            (x >= rx.min()) & (x <= rx.max()) & (y >= ry.min()) & (y <= ry.max())
        ).any():
            expect.add(r.segment_id)
    assert set(got.segment_id) == expect
    assert pdf.iloc[0].segment_id in expect


def test_cli_stage_commands_roundtrip(spark, raw, tmp_path):
    """Reference-parity CLI smoke: load a GTFS zip + OSM parquet into a work
    dir, run the stage commands in reference order, and check every stage
    the command claims to materialize has a complete manifest (the
    reference's per-stage SQLite resumability analog)."""
    from types import SimpleNamespace

    from gtfs_conflation_pipeline_spark import cli
    from gtfs_conflation_pipeline_spark.checkpoint import CheckpointManager

    work = str(tmp_path / "work")
    zpath = str(tmp_path / "feed.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for name in [
            "shapes", "stops", "trips", "stop_times", "routes",
            "calendar", "calendar_dates", "feed_info",
        ]:
            z.writestr(f"{name}.txt", raw[name].toPandas().to_csv(index=False))
    cli.cmd_load_raw_gtfs(spark, SimpleNamespace(gtfs_zip=zpath, work_dir=work))

    osm_path = str(tmp_path / "osm.parquet")
    FX.osm_segments_table(spark, 500, partitions=4).write.parquet(osm_path)
    cli.cmd_load_conflation_map(
        spark, SimpleNamespace(osm_parquet=osm_path, work_dir=work)
    )

    args = SimpleNamespace(work_dir=work)
    ck = CheckpointManager(f"{work}/stages")

    def materialized():
        return {s for s in os.listdir(ck.root) if ck.is_complete(s)}

    # each command commits the stages declared up to its last one, no more
    cli._run_stages(spark, args, "gtfs_as_geojson")
    assert materialized() == {"geo_shapes", "geo_stops"}
    cli._run_stages(spark, args, "gtfs_osm_network")
    for st in ["geo_shapes", "net_segments", "matches", "match_paths", "match_scores"]:
        assert ck.is_complete(st), st
    for st in ["service_dates", "scheduled_traffic"]:
        assert not os.path.exists(os.path.join(ck.root, st, "_manifest.json")), st
    # resume + widen: the map-join command reuses completed stages
    cli._run_stages(spark, args, "gtfs_conflation_map_join")
    assert ck.is_complete("tiles") and ck.is_complete("cospatiality")
    assert ck.read(spark, "matches").count() > 0
    assert ck.read(spark, "match_paths").count() > 0

    from gtfs_conflation_pipeline_spark.plans.pipeline import run_from_raw

    with pytest.raises(ValueError, match="unknown stage"):
        run_from_raw(spark, {}, ck.read(spark, "matches"), ck, upto="no_such_stage")


def test_bucketed_join_is_shuffle_free(spark, raw, tmp_path):
    """Both sides written bucketed on the join key => the equi-join runs
    with NO Exchange (co-located storage join), and results equal the
    plain-join baseline."""
    from pyspark.sql import functions as F2

    from gtfs_conflation_pipeline_spark.sources import bucketed

    trips = raw["trips"]
    st = raw["stop_times"]
    bucketed.write_bucketed(trips, "b_trips", ["trip_id"], n_buckets=8, sort_cols=["trip_id"])
    bucketed.write_bucketed(st, "b_stop_times", ["trip_id"], n_buckets=8, sort_cols=["trip_id"])
    bt = bucketed.read_table(spark, "b_trips")
    bs = bucketed.read_table(spark, "b_stop_times")
    joined = bs.join(bt, "trip_id").groupBy("route_id").agg(F2.count(F2.lit(1)).alias("n"))
    assert bucketed.join_is_shuffle_free(bs.join(bt, "trip_id"))
    base = (
        st.join(trips, "trip_id").groupBy("route_id").agg(F2.count(F2.lit(1)).alias("n"))
        .orderBy("route_id").collect()
    )
    got = joined.orderBy("route_id").collect()
    assert got == base
