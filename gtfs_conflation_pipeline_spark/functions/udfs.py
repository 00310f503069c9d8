"""The one Python<->JVM kernel boundary: mapInArrow over Arrow buffers.

Every Python kernel on the conflation chain -- net_segments (snap), refine,
the chooser, tiles, cospatiality and scoring -- runs under mapInArrow and
reads its list columns as flat buffers plus row offsets (`list_buffers`,
`flat_index`), never as per-row Python objects; no per-row Python UDFs
exist in this engine (north-rule requirement; enforced by
tests/test_no_row_udfs.py). Pair kernels group a batch's rows by vertex
counts read off the offsets (`pack_slabs`) and stack each slab straight out
of the flat buffer (`gather`). Every kernel builds its output batch with
`emit`: passthrough columns are taken in Arrow (strings and ids never
become Python objects), kernel outputs are numpy arrays, per-row numpy
arrays for list columns, or Arrow arrays.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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


def flat_index(offsets: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """Absolute `.values` indices of the list elements of `rows`, row after
    row: the flat-buffer view of those rows' lists."""
    lens = offsets[rows + 1] - offsets[rows]
    return np.repeat(offsets[rows] - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())


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


def _column(parts: list, typ: pa.DataType) -> pa.Array:
    """Concatenate one output column's per-slab parts: Arrow arrays, lists
    of per-row numpy arrays (list types) or numpy arrays."""
    if parts and isinstance(parts[0], pa.Array):
        return pa.concat_arrays([p.cast(typ) for p in parts])
    if pa.types.is_list(typ):
        lists = [a for p in parts for a in p]
        offsets = np.zeros(len(lists) + 1, np.int32)
        np.cumsum([len(a) for a in lists], out=offsets[1:])
        values = pa.array(np.concatenate(lists) if lists else [], typ.value_type)
        return pa.ListArray.from_arrays(offsets, values, type=typ)
    return pa.array(np.concatenate(parts) if parts else [], typ)


def emit(
    batch: pa.RecordBatch, schema: pa.Schema, rows: list, outs: list
) -> pa.RecordBatch:
    """Kernel output batch. `rows` are the kept input-row indices per slab,
    `outs` the matching dicts of kernel output columns. Kernel outputs are
    concatenated (see `_column`); the other schema fields are passed
    through from the input batch with Arrow `take` (cast to the schema
    type: with spark.sql.execution.arrow.useLargeVarTypes on, strings
    arrive as large_string)."""
    idx = np.concatenate([np.empty(0, np.int64), *rows])
    computed = set().union(*outs)
    return pa.RecordBatch.from_arrays(
        [
            _column([o[f.name] for o in outs], f.type)
            if f.name in computed or f.name not in batch.schema.names
            else batch.column(f.name).take(idx).cast(f.type)
            for f in schema
        ],
        schema=schema,
    )


def map_arrow(df: DataFrame, body: Callable, schema: T.StructType | str) -> DataFrame:
    """`df.mapInArrow` through this boundary: `body(batches, arrow_schema)`
    yields the batches of `schema` (a StructType or a DDL string)."""
    struct = T.DataType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    return df.mapInArrow(lambda batches: body(batches, arrow), struct)


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
