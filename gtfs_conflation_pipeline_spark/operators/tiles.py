"""Raster-tile <-> vector-segment assignment (stage 9 tiling analog).

The reference dumps the conflation map to ND-GeoJSON and lets tippecanoe cut
mbtiles, filtering features into zoom ranges by OSM network level
(tasks/conflation_map_into_mapbox/bin/createMBTilesNDGeoJSON FILTER block).
The tile ASSIGNMENT — which (zoom, x, y) tiles each matched segment lands
in — is the part with query semantics, reproduced here as a DataFrame op:

  matched segments ⋈ osm geometry -> zoom = f(networklevel)
                                  -> web-mercator tiles of the polyline
                                     (mapInArrow, functions.udfs boundary)

Output: one row per (segment_id, tile_id, zoom) — the second half of the
BASELINE flagship metric (join rows + tile assignments).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels as K
from ..functions import udfs as U

TILES_SCHEMA = "segment_id long, min_zoom int, tile_id long"


def _tiles(batches: Iterator[pa.RecordBatch], schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: one row per (input row, tile its vertices touch).

    Per batch and distinct min_zoom (<= 6 exist), ONE lonlat_to_tile +
    tile_key pass over the flat vertex buffers and ONE lexsort-unique pass
    over (row, key). Per-row tile sets equal tiles_for_polyline: tile_key
    is injective on (fixed zoom, xt, yt) and monotone in (xt, yt), so
    key-sorted unique == pair-lexsorted unique."""
    for batch in batches:
        xv, xo = U.list_buffers(batch.column("xs"))
        yv, yo = U.list_buffers(batch.column("ys"))
        zoom = batch.column("min_zoom").to_numpy(zero_copy_only=False)
        rows, outs = [], []
        for z in np.unique(zoom):
            sel = np.flatnonzero(zoom == z)
            xt, yt = K.lonlat_to_tile(xv[U.flat_index(xo, sel)], yv[U.flat_index(yo, sel)], z)
            key = K.tile_key(z, xt, yt)
            row = np.repeat(sel, xo[sel + 1] - xo[sel])
            order = np.lexsort((key, row))
            row, key = row[order], key[order]
            new = np.ones(row.size, bool)
            new[1:] = (row[1:] != row[:-1]) | (key[1:] != key[:-1])
            rows.append(row[new])
            outs.append({"tile_id": key[new]})
        yield U.emit(batch, schema, rows, outs)


def assign_tiles(matches: DataFrame, osm: DataFrame) -> DataFrame:
    """matches: chosen conflation matches (must carry segment_id,
    networklevel). osm: osm.segments with (segment_id, xs, ys).
    Returns (segment_id, min_zoom, tile_id) distinct — tiles are cut at the
    feature's MIN zoom; the reference FILTER admits it at every zoom >=
    min_zoom (range semantics, derivable from this compact form)."""
    matched_segments = matches.select("segment_id", "networklevel").distinct()
    # min-zoom rules by network level: the reference tippecanoe FILTER
    # thresholds, literally (createMBTilesNDGeoJSON:13-39; same constants
    # as kernels.zoom_for_networklevel — JVM-side so only the tile cover
    # needs Python)
    nl = F.col("networklevel")
    min_zoom = (
        F.when(nl < 1, 0)
        .when(nl == 1, 3)
        .when(nl == 2, 4)
        .when(nl == 3, 10)
        .when(nl == 4, 13)
        .otherwise(14)
        .cast("int")
    )
    # No repartition before the tile kernel (round 7): the geometry side is
    # a stage checkpoint written with >= max-parallelism files/buckets, so
    # the broadcast join's output already carries the scan's full task
    # count — the old round-robin exchange re-shuffled every coordinate
    # array (~150 MB at 4M images) to arrange parallelism the scan already
    # had.
    geom = osm.select("segment_id", "xs", "ys")
    located = matched_segments.join(geom, "segment_id").select(
        "segment_id", min_zoom.alias("min_zoom"), "xs", "ys"
    )
    return U.map_arrow(located, _tiles, TILES_SCHEMA).distinct()
