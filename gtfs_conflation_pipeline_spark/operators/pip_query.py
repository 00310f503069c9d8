"""Polygon containment/overlap query — the geopoly index analog.

Reference: ConflationMapDAO keeps a SQLite geopoly R-tree over 5 m-buffered
segment polygons (createTableFns.js:18-21, loaders.js:104-133) and answers
"segments overlapping this query polygon" with geopoly_overlap
(generators.js:24-40).

Spark shape (filter-refine, same as the conflation join):
  coarse  query polygon -> cover cells (driver-side numpy, polygon is one
          object) broadcast -> equi-join against segment cover cells
          (the JVM spatial_join.cover_cells_col keys)
  refine  vertex-in-ring PIP (Arrow kernel) on the candidates

At 10^12 scale the coarse join prunes by Iceberg/parquet partition stats on
the cell column; only candidate partitions are scanned.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels as K
from .spatial_join import CELL_DEG, cover_cells_col


def polygon_cover_cells(ring_x, ring_y, cell_deg: float = CELL_DEG) -> list[int]:
    """All cells intersecting the polygon's bbox, filtered to those whose
    center or corners fall inside (coarse, superset-safe: bbox cells whose
    cell-square intersects the ring's bbox are kept; exactness comes from
    the refine step). Keys are the packed (ix << 32) + iy grid cells of
    spatial_join.cover_cells_col."""
    ring_x = np.asarray(ring_x, dtype=np.float64)
    ring_y = np.asarray(ring_y, dtype=np.float64)
    ix0 = int(np.floor((ring_x.min() + 180.0) / cell_deg))
    ix1 = int(np.floor((ring_x.max() + 180.0) / cell_deg))
    iy0 = int(np.floor((ring_y.min() + 90.0) / cell_deg))
    iy1 = int(np.floor((ring_y.max() + 90.0) / cell_deg))
    xs, ys = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1))
    return ((xs.astype(np.int64) << 32) + ys).ravel().tolist()


PARTITION_CELL_DEG = 0.128  # coarse hive-partition grid (64x the fine cells)


def partition_cell_of(lon_col, lat_col):
    """Coarse partition-cell id as a pure column expression (packed grid
    key, not Morton — partition values don't need locality ordering)."""
    ix = F.floor((lon_col + 180.0) / PARTITION_CELL_DEG).cast("long")
    iy = F.floor((lat_col + 90.0) / PARTITION_CELL_DEG).cast("long")
    return ix * (1 << 21) + iy


def polygon_partition_cells(ring_x, ring_y) -> list[int]:
    """Coarse partition cells covering the query polygon's bbox."""
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    ix0 = int(np.floor((rx.min() + 180.0) / PARTITION_CELL_DEG))
    ix1 = int(np.floor((rx.max() + 180.0) / PARTITION_CELL_DEG))
    iy0 = int(np.floor((ry.min() + 90.0) / PARTITION_CELL_DEG))
    iy1 = int(np.floor((ry.max() + 90.0) / PARTITION_CELL_DEG))
    return [
        ix * (1 << 21) + iy
        for ix in range(ix0, ix1 + 1)
        for iy in range(iy0, iy1 + 1)
    ]


def segments_overlapping_polygon(
    osm: DataFrame, ring_x, ring_y, cell_deg: float = CELL_DEG
) -> DataFrame:
    """Segments with at least one vertex inside the query ring
    (geopoly_overlap observable semantics for the reference's 5 m-buffered
    segments: vertex membership, since buffering is symmetric).

    If `osm` carries a `p_cell` partition column (written via
    CheckpointManager partition_by — the Iceberg partition-spec analog), an
    isin filter on the polygon's coarse cells is applied FIRST so the
    parquet scan prunes whole partitions (PartitionFilters in the plan):
    at 10^12 rows only the touched partition directories are read.

    NOTE: segments near a partition boundary may have vertices in a
    neighboring partition; p_cell is assigned from the FIRST vertex, so the
    pruning filter includes a 1-cell ring margin (coarse cells are 64x the
    segment length — a segment never spans more than 2 coarse cells).
    """
    spark = osm.sparkSession
    if "p_cell" in osm.columns:
        base = set(polygon_partition_cells(ring_x, ring_y))
        with_margin = set()
        for c in base:
            ix, iy = divmod(c, 1 << 21)
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    with_margin.add((ix + dx) * (1 << 21) + (iy + dy))
        osm = osm.filter(F.col("p_cell").isin(sorted(with_margin)))
    cells_df = spark.createDataFrame(
        [(c,) for c in polygon_cover_cells(ring_x, ring_y, cell_deg)], "cell long"
    )
    cands = (
        osm.select(
            "segment_id",
            "shst_reference",
            "xs",
            "ys",
            F.explode(cover_cells_col(F.col("xs"), F.col("ys"), cell_deg, 0)).alias("cell"),
        )
        .join(F.broadcast(cells_df), "cell")
        .dropDuplicates(["segment_id"])
    )

    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    schema = T.StructType(
        [
            T.StructField("segment_id", T.LongType()),
            T.StructField("shst_reference", T.StringType()),
            T.StructField("n_vertices_inside", T.IntegerType()),
        ]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"segment_id": [], "shst_reference": [], "n_vertices_inside": []}
            for r in pdf.itertuples(index=False):
                inside = K.point_in_ring(np.asarray(r.xs), np.asarray(r.ys), rx, ry)
                n = int(inside.sum())
                if n > 0:
                    rows["segment_id"].append(r.segment_id)
                    rows["shst_reference"].append(r.shst_reference)
                    rows["n_vertices_inside"].append(n)
            yield pd.DataFrame(rows)

    return cands.mapInPandas(refine, schema)
