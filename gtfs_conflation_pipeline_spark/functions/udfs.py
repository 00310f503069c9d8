"""Arrow-vectorized UDF wrappers and the packed-pair kernel boundary.

These are the ONLY Python entry points on the hot path — every one receives
Arrow batches and runs numpy kernels; no per-row Python UDFs exist in this
engine (north-rule requirement; enforced by tests/test_no_row_udfs.py).

Pair kernels (refine, cospatiality, scoring) run under mapInArrow and share
one boundary: `pack_slabs` groups a batch's rows by vertex counts read off
the Arrow list offsets, `gather` stacks each slab straight out of the flat
list buffer, and `emit` builds the output batch with passthrough columns
taken in Arrow (strings and ids never become Python objects).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels as K

# Slab cap for packed geometry kernels: each vectorized call materializes
# ~(slab, ~4*na, nb) float64 projection tensors; capping the element count
# keeps the working set L2-resident (~1.5 MB/tensor) instead of streaming
# multi-100MB transients through DRAM — measured 3-60x on the 32-vCPU
# development host, where large fresh allocations additionally page-fault at
# MB/s rates (CLAUDE.md memory-noise rule). Generic cache-locality win, not
# just a host quirk.
KERNEL_SLAB_ELEMS = 200_000


def _slab_rows(per_pair_elems: int) -> int:
    return max(32, KERNEL_SLAB_ELEMS // max(per_pair_elems, 1))


def list_buffers(col: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """(flat float64 values, row offsets) of a list<double> column. The
    offsets are absolute into `.values`, also on sliced batches — never
    pair them with `.flatten()`, which drops the slice prefix."""
    return col.values.to_numpy(zero_copy_only=False), col.offsets.to_numpy()


def pack_slabs(
    keys: np.ndarray, per_row_elems: Callable[..., int]
) -> Iterator[tuple[tuple[int, ...], np.ndarray]]:
    """Group row indices by their (R, k) integer key rows and yield
    (key, rows) slabs of at most _slab_rows(per_row_elems(*key)) rows.

    Rows with any key < 2 are dropped: a polyline under two vertices never
    passes a kernel's short-line cutoff (scalar parity). One stable lexsort
    keeps each group in batch order, so slab membership is the same as a
    first-seen grouping; only the order of the groups differs."""
    rows = np.flatnonzero((keys >= 2).all(axis=1))
    if rows.size == 0:
        return
    k = keys[rows]
    order = np.lexsort(k.T[::-1])
    rows, k = rows[order], k[order]
    starts = np.flatnonzero(np.r_[True, (k[1:] != k[:-1]).any(axis=1)])
    for s, e in zip(starts, np.r_[starts[1:], rows.size]):
        key = tuple(int(v) for v in k[s])
        slab = _slab_rows(per_row_elems(*key))
        for s0 in range(s, e, slab):
            yield key, rows[s0 : min(s0 + slab, e)]


def gather(values: np.ndarray, offsets: np.ndarray, rows: np.ndarray, n: int) -> np.ndarray:
    """(P, n) stack of the n-element lists at `rows`: one fancy index into
    the flat list buffer."""
    return values[offsets[rows, None] + np.arange(n)]


def emit(
    batch: pa.RecordBatch, schema: pa.Schema, rows: list, outs: list
) -> pa.RecordBatch:
    """Kernel output batch. `rows` are the kept input-row indices per slab,
    `outs` the matching dicts of kernel output arrays. Schema fields that
    the input batch carries are passed through with Arrow `take` (cast to
    the schema type: with spark.sql.execution.arrow.useLargeVarTypes on,
    strings arrive as large_string); the rest are the concatenated kernel
    outputs."""
    idx = np.concatenate([np.empty(0, np.int64), *rows])
    return pa.RecordBatch.from_arrays(
        [
            batch.column(f.name).take(idx).cast(f.type)
            if f.name in batch.schema.names
            else pa.array(np.concatenate([np.empty(0), *(o[f.name] for o in outs)]), f.type)
            for f in schema
        ],
        schema=schema,
    )


def map_pairs(
    batches: Iterator[pa.RecordBatch],
    geo_cols: tuple[str, str, str, str],
    schema: pa.Schema,
    per_pair_elems: Callable[[int, int], int],
    kernel: Callable[..., tuple[np.ndarray, dict]],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow body of a same-shape pair kernel: per batch, pack pairs by
    (len A, len B) read off the offsets of geo_cols = (A xs, A ys, B xs,
    B ys), run `kernel(AX, AY, BX, BY) -> (valid mask, {column: (P,)
    array})` once per slab and emit the valid rows."""
    for batch in batches:
        geo = [list_buffers(batch.column(c)) for c in geo_cols]
        keys = np.stack([np.diff(geo[0][1]), np.diff(geo[2][1])], axis=1)
        rows, outs = [], []
        for (na, nb), sl in pack_slabs(keys, per_pair_elems):
            ok, m = kernel(*(gather(v, o, sl, n) for (v, o), n in zip(geo, (na, na, nb, nb))))
            rows.append(sl[ok])
            outs.append({k: v[ok] for k, v in m.items()})
        yield emit(batch, schema, rows, outs)


def arrow_frame(out: dict, object_cols: tuple[str, ...] = ("xs", "ys")) -> pd.DataFrame:
    """Build a kernel-output DataFrame whose array columns survive Arrow
    conversion even when EMPTY: a zero-row dict-of-lists otherwise yields
    float64 columns that Arrow cannot cast to list<double>."""
    df = pd.DataFrame({k: v for k, v in out.items() if k not in object_cols})
    for c in object_cols:
        if c in out:
            df[c] = pd.Series(out[c], dtype=object)
    return df[list(out.keys())]


@F.pandas_udf(T.DoubleType())
def length_km(xs: pd.Series, ys: pd.Series) -> pd.Series:
    """Polyline haversine length (turf.length) per row."""
    return pd.Series(
        [K.polyline_length_km(np.asarray(x), np.asarray(y)) for x, y in zip(xs, ys)]
    )


@F.pandas_udf(T.LongType())
def cell_of(lon: pd.Series, lat: pd.Series, cell_deg: pd.Series) -> pd.Series:
    """Morton cell id of a point at the given resolution."""
    return pd.Series(K.cell_id(lon.values, lat.values, float(cell_deg.iloc[0])))


def make_tiles_udf(zoom_by_row: bool = True):
    """Tile keys covering a polyline at its per-row zoom.

    Batch-vectorized (round 7): rows are grouped by zoom (<= 6 distinct
    min-zoom values exist) and each group runs ONE lonlat_to_tile +
    lexsort-unique pass over the concatenated vertices — the per-row loop
    with a structured np.unique(axis=0) per polyline was dispatch-bound
    (same disease as the round-2 cover-cell fix). Per-row tile SETS and
    their order are identical to tiles_for_polyline: tile_key is injective
    on (fixed zoom, xt, yt) and monotone in (xt, yt), so key-sorted unique
    == pair-lexsorted unique."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def tiles_of(xs: pd.Series, ys: pd.Series, zoom: pd.Series) -> pd.Series:
        out: list = [None] * len(xs)
        by_zoom: dict[int, list[int]] = {}
        for i, z in enumerate(zoom):
            by_zoom.setdefault(int(z), []).append(i)
        xv = xs.values
        yv = ys.values
        for z, idxs in by_zoom.items():
            arrs = [np.asarray(xv[i], dtype=np.float64) for i in idxs]
            lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
            if int(lens.sum()) == 0:
                for i in idxs:
                    out[i] = np.empty(0, dtype=np.int64)
                continue
            lon = np.concatenate(arrs)
            lat = np.concatenate(
                [np.asarray(yv[i], dtype=np.float64) for i in idxs]
            )
            xt, yt = K.lonlat_to_tile(lon, lat, z)
            key = K.tile_key(z, xt, yt)
            row_id = np.repeat(np.arange(len(idxs)), lens)
            order = np.lexsort((key, row_id))
            rs, ks = row_id[order], key[order]
            new = np.empty(ks.size, dtype=bool)
            new[0] = True
            new[1:] = (rs[1:] != rs[:-1]) | (ks[1:] != ks[:-1])
            ur, uk = rs[new], ks[new]
            bounds = np.searchsorted(ur, np.arange(len(idxs) + 1))
            for j, i in enumerate(idxs):
                out[i] = uk[bounds[j] : bounds[j + 1]]
        return pd.Series(out)

    return tiles_of

