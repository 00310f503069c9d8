"""Pass C — chosen-match scoring (reference stage 4, loadChosenShstMatchesScores).

The reference re-joins chosen matches to their geometries and scores each
(GTFS segment, chosen path) pair with a resampled curve-similarity metric
(scoreChosenPaths/frechet.js:6-35: resample both curves to
min(max(|S|,|T|), ceil(maxLen_km * 50)) points, then curve-matcher
shapeSimilarity with restrictRotationAngle = 0.1*pi). We emit that
reference-parity `shape_similarity` (kernels.shape_similarity — Procrustes
normalize + rotation-restricted minimum planar Fréchet) PLUS the
numerically defined discrete Fréchet distance and symmetric Hausdorff.

Arrow-batched mapInArrow with CROSS-PAIR PACKING (round-3; the shared
functions.udfs boundary): within each Arrow batch, pairs are grouped by
(slice-vertex-counts, resample-n) and each group runs through ONE
vectorized kernel call per metric
(discrete_frechet_km_batch / hausdorff_km_batch / mean_dev_km_batch /
shape_similarity_batch) over (P, n) stacks — per-pair numpy on ~20-50
point arrays is dispatch-overhead-bound, and the Fréchet DP in particular
drops from P*n*m python iterations to n*m. Outputs are value-identical to
the scalar score_pair (same op order; asserted in tests), which remains
the oracle-side reference implementation. Geometry slices are cut with the
same line_slice_along kernel the net stage used, so score inputs are
exactly the matched sub-geometries.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels as K
from ..functions import udfs as U

POINTS_PER_KM = 50  # frechet.js:6 pointsPerKm

SCORES_SCHEMA = T.StructType(
    [
        T.StructField("shape_id", T.StringType()),
        T.StructField("shape_index", T.IntegerType()),
        T.StructField("segment_id", T.LongType()),
        T.StructField("shst_reference", T.StringType()),
        T.StructField("frechet_km", T.DoubleType()),
        T.StructField("hausdorff_km", T.DoubleType()),
        T.StructField("mean_dev_km", T.DoubleType()),
        T.StructField("shape_similarity", T.DoubleType()),
    ]
)


def _slice_and_n(gx, gy, ox, oy, a0, a1, b0, b1):
    """Shared slice + resample-count step (frechet.js:25-30 numPoints)."""
    sx, sy = K.line_slice_along(gx, gy, a0, a1)
    tx, ty = K.line_slice_along(ox, oy, b0, b1)
    if sx.size < 2 or tx.size < 2:
        return None
    max_len = max(a1 - a0, b1 - b0)
    n = int(min(max(sx.size, tx.size), max(2, np.ceil(max_len * POINTS_PER_KM))))
    return sx, sy, tx, ty, n


def score_pair(gx, gy, ox, oy, a0, a1, b0, b1):
    """Score one chosen match: slice both geometries to the matched
    intervals, resample (frechet.js semantics), Fréchet + Hausdorff +
    mean bidirectional snap deviation + reference-parity shapeSimilarity.
    Scalar reference implementation (the numpy-oracle path); the Spark
    kernel packs the same ops across pairs."""
    sl = _slice_and_n(gx, gy, ox, oy, a0, a1, b0, b1)
    if sl is None:
        return None
    sx, sy, tx, ty, n = sl
    rsx, rsy = K.resample_polyline(sx, sy, n)
    rtx, rty = K.resample_polyline(tx, ty, n)
    fr = K.discrete_frechet_km(rsx, rsy, rtx, rty)
    hd = K.hausdorff_km(sx, sy, tx, ty)
    stats = K.similarity_stats(sx, sy, tx, ty)
    ss = K.shape_similarity(rsx, rsy, rtx, rty)
    return fr, hd, stats["mean_km"], ss


def score_matches(matches: DataFrame, segments: DataFrame, osm: DataFrame) -> DataFrame:
    """matches: chosen conflation matches; segments: net.shape_segments
    (xs, ys); osm: osm.segments (xs, ys). Returns match.scores."""
    g = segments.select(
        "shape_id", "shape_index", F.col("xs").alias("g_xs"), F.col("ys").alias("g_ys")
    )
    o = osm.select("segment_id", F.col("xs").alias("o_xs"), F.col("ys").alias("o_ys"))
    inp = (
        matches.select(
            "shape_id",
            "shape_index",
            "segment_id",
            "shst_reference",
            "section_start",
            "section_end",
            "osm_start",
            "osm_end",
        )
        .join(g, ["shape_id", "shape_index"])
        .join(o, "segment_id")
    )
    par = matches.sparkSession.sparkContext.defaultParallelism
    inp = inp.repartition(par)

    def kernel(batches: Iterator[pa.RecordBatch], schema: pa.Schema) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            geo = [U.list_buffers(batch.column(c)) for c in ("g_xs", "g_ys", "o_xs", "o_ys")]
            ends = [
                batch.column(c).to_numpy()
                for c in ("section_start", "section_end", "osm_start", "osm_end")
            ]
            # slice per row (variable-size output) into flat buffers, then
            # PACK pairs whose (slice sizes, resample n) agree into one
            # kernel call per slab
            kept, keys, pieces = [], [], ([], [], [], [])
            for i in range(batch.num_rows):
                sl = _slice_and_n(
                    *(v[o[i] : o[i + 1]] for v, o in geo), *(e[i] for e in ends)
                )
                if sl is None:
                    continue
                kept.append(i)
                keys.append((sl[0].size, sl[2].size, sl[4]))
                for acc, a in zip(pieces, sl[:4]):
                    acc.append(a)
            kept = np.array(kept, dtype=np.int64)
            keys = np.array(keys, dtype=np.int64).reshape(-1, 3)
            sx, sy, tx, ty = (np.concatenate([np.empty(0), *p]) for p in pieces)
            s_off = np.r_[0, np.cumsum(keys[:, 0])]
            t_off = np.r_[0, np.cumsum(keys[:, 1])]
            rows, outs = [], []
            # slab cap: the Fréchet DP / snap tensors are (slab, n, n) and
            # (slab, ns, nt) float64 — bounded slabs keep them cache-resident
            # (see udfs.KERNEL_SLAB_ELEMS)
            for (ns, nt, n), sl in U.pack_slabs(
                keys, lambda ns, nt, n: max(n * n, ns * nt, 50 * 50)
            ):
                SX, SY = U.gather(sx, s_off, sl, ns), U.gather(sy, s_off, sl, ns)
                TX, TY = U.gather(tx, t_off, sl, nt), U.gather(ty, t_off, sl, nt)
                R = np.empty((4, sl.size, n))  # resampled S x, S y, T x, T y
                for j in range(sl.size):
                    R[0, j], R[1, j] = K.resample_polyline(SX[j], SY[j], n)
                    R[2, j], R[3, j] = K.resample_polyline(TX[j], TY[j], n)
                rows.append(kept[sl])
                outs.append(
                    {
                        "frechet_km": K.discrete_frechet_km_batch(*R),
                        "hausdorff_km": K.hausdorff_km_batch(SX, SY, TX, TY),
                        "mean_dev_km": K.mean_dev_km_batch(SX, SY, TX, TY),
                        "shape_similarity": K.shape_similarity_batch(*R),
                    }
                )
            yield U.emit(batch, schema, rows, outs)

    return U.map_arrow(inp, kernel, SCORES_SCHEMA)
