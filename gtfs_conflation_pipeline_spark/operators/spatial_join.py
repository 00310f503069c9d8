"""The flagship conflation spatial join — stage 4 + 7 analog.

Reference semantics being re-expressed (SURVEY.md §2.4, §3.2): the reference
shells out to `shst match` per 25-feature batch and then post-processes
(dedupe, redundant-match removal, per-segment choice, along-index ranking).
Our engine replaces the external matcher with an explicit two-phase
filter-refine spatial join — the same shape the reference itself uses for its
map join (equi-join on a cheap key first, expensive geometry test second,
GtfsConflationMapJoinDAO/loaders.js:139-155 → 195-274):

  1. CANDIDATES — both sides explode to packed (ix << 32) + iy grid cover
     cells, computed as JVM column expressions (cover_cells_col); equi-join
     on cell. The GTFS side dilates by a k-ring (the retry-ladder analog,
     shstMatchFeatures.js:283-362). This is a plain Spark shuffle join on a
     LongType key: Catalyst/AQE handle partitioning, coalescing and skew
     (urban-core hot cells) natively; an explicit salt is unnecessary because
     AQE skew-join splits oversized cell partitions at runtime.
  2. REFINE — per candidate pair, the Arrow-batched corridor kernel
     (kernels.corridor_match) computes the along-line overlap interval and
     deviation stats; pairs outside the corridor radius die here (the
     distractor/offset cases of the fixture).
  3. CHOOSE — per GTFS segment, a deterministic greedy interval cover ranked
     by (deviation, coverage): the observable semantics of the reference's
     path-choice fixpoint (chooseOptimalShstMatches) at fixture complexity,
     with fully specified tie-breaks (sort by score then shst_reference) so
     engine == oracle bit-for-bit. The same mapInArrow kernel assigns the
     along-index: the competition rank by section_start within each
     segment, the reference's topological ordering of chosen segments
     (GtfsConflationMapJoinDAO/loaders.js:357-366).

Scale: the only shuffles are (a) the cell equi-join and (b) the per-segment
groupBy in CHOOSE. Candidate pairs are deduped BEFORE geometry is attached,
so the wide arrays cross the wire once.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .. import kernels as K
from ..functions import udfs as U

# Cell size tuned to the corridor radius, not the segment length: 0.002 deg
# (~220 m) + a 1-ring dilation guarantees recall for the 30 m corridor while
# cutting candidate pairs ~7x vs 0.01 deg cells in dense areas (measured at
# 200k images: 751k -> 111k pairs, identical refined output).
CELL_DEG = 0.002
CORRIDOR_KM = 0.03  # 30 m refine radius (stop jitter <=20 m, perturb 3 m)
MIN_COVER_RATIO = 0.10  # MATCHES_LENGTH_RATIO_THOLD (shstMatchFeatures.js:47)
OVERLAP_TOL = 0.20  # greedy cover: max fraction of a candidate already covered


def _pack_cell(x, y, cell_deg: float):
    """Grid cell of a point packed into one long: (ix << 32) + iy with
    ix = floor((lon+180)/cell), iy = floor((lat+90)/cell). Both indices are
    non-negative on the valid domain, so the packing is injective; a k-ring
    neighbor is a CONSTANT offset ((dx<<32)+dy) — the property that lets the
    ring dilation run as plain JVM array arithmetic. (The Morton encoding the
    Arrow kernels use is an equivalent bijection on grid pairs; the join only
    needs consistency, not a specific code.)"""
    return (
        F.floor((x + F.lit(180.0)) / F.lit(cell_deg)) * F.lit(1 << 32).cast("long")
        + F.floor((y + F.lit(90.0)) / F.lit(cell_deg))
    )


def cover_cells_col(xs, ys, cell_deg: float, ring: int):
    """Cover cells of a polyline as a pure JVM column expression (round 7):
    cells of the vertices plus the planar edge midpoints (kernels.midpoints
    densification — same (a+b)/2 IEEE arithmetic), deduped, optionally
    k-ring dilated. The floor/pack arithmetic is exact in both the JVM and
    numpy (unlike trig), so driver-side numpy builds the same keys
    (pip_query.polygon_cover_cells). With no Python hop there is no
    round-robin repartition either: the explode rides the scan's own task
    parallelism inside codegen.

    Ring dilation emits iy-1 for iy=0 rows (lat within one cell of -90) as
    (ix<<32)-1 — distinct from every real cell key (real iy <= 90/cell_deg
    << 2^32), so such ghost cells match nothing."""
    n = F.size(xs)
    empty = F.array().cast("array<long>")
    v_cells = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: _pack_cell(F.element_at(xs, i), F.element_at(ys, i), cell_deg),
        ),
    ).otherwise(empty)
    m_cells = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: _pack_cell(
                (F.element_at(xs, i) + F.element_at(xs, i + 1)) / 2.0,
                (F.element_at(ys, i) + F.element_at(ys, i + 1)) / 2.0,
                cell_deg,
            ),
        ),
    ).otherwise(empty)
    base = F.array_distinct(F.concat(v_cells, m_cells))
    if ring <= 0:
        return base
    offs = [
        (dx << 32) + dy
        for dx in range(-ring, ring + 1)
        for dy in range(-ring, ring + 1)
    ]
    return F.array_distinct(
        F.flatten(
            F.transform(
                base,
                lambda c: F.array(*[c + F.lit(o).cast("long") for o in offs]),
            )
        )
    )

REFINE_SCHEMA = T.StructType(
    [
        T.StructField("shape_id", T.StringType()),
        T.StructField("shape_index", T.IntegerType()),
        T.StructField("segment_id", T.LongType()),
        T.StructField("shst_reference", T.StringType()),
        T.StructField("networklevel", T.IntegerType()),
        T.StructField("section_start", T.DoubleType()),
        T.StructField("section_end", T.DoubleType()),
        T.StructField("osm_start", T.DoubleType()),
        T.StructField("osm_end", T.DoubleType()),
        T.StructField("intxn_len_km", T.DoubleType()),
        T.StructField("mean_dev_km", T.DoubleType()),
        T.StructField("max_dev_km", T.DoubleType()),
    ]
)


def candidate_pairs(
    segments: DataFrame,
    osm: DataFrame,
    cell_deg: float = CELL_DEG,
    ring: int = 1,
    pad_km: float = CORRIDOR_KM,
) -> DataFrame:
    """Phase 1: cell-bucketed candidate generation.

    segments: net.shape_segments (shape_id, shape_index, xs, ys, ...)
    osm:      osm.segments (segment_id, shst_reference, networklevel, xs, ys)
    Returns distinct (shape_id, shape_index, segment_id) pairs with both
    geometries attached (arrays joined back post-dedupe).
    """
    # Cover cells are a pure JVM column expression (round 7): no Arrow hop,
    # and therefore no round-robin repartition — the old Python cover stage
    # needed one so parquet split counts would not cap kernel parallelism;
    # the codegen'd explode rides the scan tasks directly.
    g_cells = segments.select(
        "shape_id",
        "shape_index",
        F.explode(cover_cells_col(F.col("xs"), F.col("ys"), cell_deg, ring)).alias(
            "cell"
        ),
    )
    o_cells = osm.select(
        "segment_id",
        F.explode(cover_cells_col(F.col("xs"), F.col("ys"), cell_deg, 0)).alias(
            "cell"
        ),
    )
    # Shuffled-hash cell join (round 7): below the 64 MB broadcast threshold
    # the planner collected the exploded OSM cell table (1.7M rows at 4M
    # images) to the driver and rebroadcast it — measured 2.5x slower than
    # shuffling both narrow sides at 4M (4.9 vs 1.9 s) and slower at 1M too
    # (1.56 vs 1.17 s). The shuffle join is also the only shape possible at
    # 100-TB scale, so the hint makes local plans match the scale plan; AQE
    # skew-join still splits hot-cell partitions at runtime.
    pairs = (
        g_cells.join(o_cells.hint("shuffle_hash"), "cell")
        .select("shape_id", "shape_index", "segment_id")
        .distinct()
    )
    # BBOX PRE-FILTER (JVM-side, whole-stage codegen): before attaching the
    # coordinate arrays, drop candidate pairs whose bounding boxes are
    # farther apart than the corridor radius. Cells are ~220 m but the
    # corridor is 30 m, so most cell-cohabitant pairs die here — the array
    # attach + Arrow hop (the expensive part) only pays for plausible pairs.
    # The bbox sides are 4-double payloads (not arrays), so these two joins
    # are cheap; keeping the cell-explode narrow (keys only) matters more
    # than saving the joins — measured: bbox-through-explode tripled the
    # cell-join shuffle and cost 2x wall. Pad = corridor radius in degrees,
    # conservatively inflated (recall-safe).
    pad_lat = pad_km / 75.0  # degrees latitude, ~1.5x inflated
    pad_lon = pad_km / 50.0  # degrees longitude, safe to |lat| <= 60
    g_box = segments.select(
        "shape_id",
        "shape_index",
        F.array_min("xs").alias("g_x0"),
        F.array_max("xs").alias("g_x1"),
        F.array_min("ys").alias("g_y0"),
        F.array_max("ys").alias("g_y1"),
    )
    o_box = osm.select(
        "segment_id",
        F.array_min("xs").alias("o_x0"),
        F.array_max("xs").alias("o_x1"),
        F.array_min("ys").alias("o_y0"),
        F.array_max("ys").alias("o_y1"),
    )
    near = (
        pairs.join(g_box, ["shape_id", "shape_index"])
        .join(o_box, "segment_id")
        .filter(
            (F.col("g_x0") - pad_lon <= F.col("o_x1"))
            & (F.col("o_x0") - pad_lon <= F.col("g_x1"))
            & (F.col("g_y0") - pad_lat <= F.col("o_y1"))
            & (F.col("o_y0") - pad_lat <= F.col("g_y1"))
        )
        .select("shape_id", "shape_index", "segment_id")
    )
    g_geom = segments.select(
        "shape_id",
        "shape_index",
        F.col("xs").alias("g_xs"),
        F.col("ys").alias("g_ys"),
        F.col("length_km").alias("g_len_km"),
    )
    o_geom = osm.select(
        "segment_id",
        "shst_reference",
        "networklevel",
        F.col("xs").alias("o_xs"),
        F.col("ys").alias("o_ys"),
    )
    return near.join(g_geom, ["shape_id", "shape_index"]).join(o_geom, "segment_id")


_OUT_KEYS = (
    ("section_start", "a_start_km"),
    ("section_end", "a_end_km"),
    ("osm_start", "b_start_km"),
    ("osm_end", "b_end_km"),
    ("intxn_len_km", "intxn_len_km"),
    ("mean_dev_km", "mean_dev_km"),
    ("max_dev_km", "max_dev_km"),
)


def refine(pairs: DataFrame, corridor_km: float = CORRIDOR_KM) -> DataFrame:
    """Phase 2: Arrow-batched corridor refine. Emits one row per surviving
    pair with the overlap interval on both lines + deviation stats.

    Cross-pair packing (mapInArrow, functions.udfs boundary): within each
    Arrow batch, candidate pairs are grouped by (vertex-count-A,
    vertex-count-B) and each group runs through ONE vectorized kernel call
    (kernels.corridor_match_batch) over a (P, n) stack — per-pair numpy on
    ~20-point arrays is dispatch-overhead-bound (~1 ms/pair), and packing
    removes that from the hot loop (measured ~3x on the refine stage at 1M
    images). Same per-row operation order as the scalar kernel, so outputs
    are value-identical (e2e oracle gate). Row order within a batch follows
    the packing; every consumer is order-free.
    """
    def corridor(AX, AY, BX, BY):
        ok, m = K.corridor_match_batch(AX, AY, BX, BY, radius_km=corridor_km)
        return ok, {out_c: m[m_k] for out_c, m_k in _OUT_KEYS}

    # Kernel parallelism comes from the attach-join shuffle upstream: with
    # the session's 16 MB AQE advisory size the join output keeps enough
    # partitions for the CPU-bound kernel, so no extra repartition of the
    # heavy array payload is needed.
    return U.map_arrow(
        pairs,
        lambda batches, schema: U.map_pairs(
            batches,
            ("g_xs", "g_ys", "o_xs", "o_ys"),
            schema,
            lambda na, nb: (4 * na - 3) * nb,
            corridor,
        ),
        REFINE_SCHEMA,
    )


CHOSEN_SCHEMA = T.StructType(
    [*REFINE_SCHEMA.fields, T.StructField("along_idx", T.IntegerType())]
)


def _greedy_cover(a: np.ndarray, b: np.ndarray, first: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Keep mask of the greedy interval cover over candidates [a, b] that
    are laid out segment after segment (segment g at first[g] .. first[g] +
    n[g] - 1), each segment in greedy consideration order.

    Round k decides the k-th candidate of every segment at once: it is kept
    iff its interval is non-empty and <= OVERLAP_TOL of it is covered by
    the segment's kept intervals. A kept candidate then adds its overlap
    to every later candidate of its segment, so each overlap sum is
    accumulated left to right in keep order, as Python's `sum` over the
    kept intervals does (np.sum's pairwise blocks could change the last
    bit, and with it a decision at the tolerance)."""
    keep = np.zeros(a.size, bool)
    ov = np.zeros(a.size)
    end = np.repeat(first + n, n)
    for k in range(int(n.max(initial=0))):
        i = first[n > k] + k
        w = b[i] - a[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            i = i[(w > 0) & (ov[i] / w <= OVERLAP_TOL)]
        keep[i] = True
        cnt = end[i] - i - 1
        src = np.repeat(i, cnt)
        dst = src + 1 + np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        ov[dst] += np.maximum(0.0, np.minimum(b[dst], b[src]) - np.maximum(a[dst], a[src]))
    return keep


def _choose(batches: Iterator[pa.RecordBatch], schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """mapInArrow body of the chooser: one input row per GTFS segment with
    its `cands` list; one output row per kept candidate with its along_idx.

    The candidates' struct children are taken out of `.values` at the
    list offsets (absolute, also on sliced batches). One lexsort orders the
    whole batch by (segment, -intxn_len_km, mean_dev_km, shst_reference,
    segment_id); shst_reference enters as its dense Arrow rank, and Arrow
    string order is UTF-8 byte order, which equals Python str order. A
    non-finite or null sort key raises: NaN has no place in that order."""
    for batch in batches:
        off = batch.column("cands").offsets.to_numpy()
        rows = np.arange(batch.num_rows)
        n = np.diff(off)
        grp = np.repeat(rows, n)
        cand = pa.RecordBatch.from_struct_array(batch.column("cands").values).take(
            U.flat_index(off, rows)
        )
        a, b, dev, ln, seg = (
            cand.column(c).to_numpy(zero_copy_only=False)
            for c in ("section_start", "section_end", "mean_dev_km", "intxn_len_km", "segment_id")
        )
        if not np.isfinite(np.concatenate([a, b, dev])).all() or (
            cand.column("shst_reference").null_count or cand.column("segment_id").null_count
        ):
            raise ValueError("choose_matches: non-finite or null sort key in a candidate")
        ref = pc.rank(cand.column("shst_reference"), tiebreaker="dense").to_numpy()
        order = np.lexsort((seg, ref, dev, -ln, grp))  # grp[order] == grp
        a, b = a[order], b[order]
        kept = np.flatnonzero(_greedy_cover(a, b, np.cumsum(n) - n, n))
        # along-index: competition rank on (section_start, section_end,
        # shst_reference) among each segment's kept candidates. Two kept
        # intervals are never equal (the later one would be fully
        # covered), so the rank is the position in (start, end) order.
        kept = kept[np.lexsort((b[kept], a[kept], grp[kept]))]
        g = grp[kept]
        rank = np.arange(kept.size) - np.searchsorted(g, g) + 1
        yield U.emit(
            cand,
            schema,
            [order[kept]],
            [
                {
                    "shape_id": batch.column("shape_id").take(g),
                    "shape_index": batch.column("shape_index").take(g),
                    "along_idx": rank,
                }
            ],
        )


def choose_matches(
    refined: DataFrame, max_candidates_per_segment: int | None = None
) -> DataFrame:
    """Phase 3+4: deterministic greedy interval cover per GTFS segment,
    then the along-index RANK (loaders.js:357-366).

    Greedy order: longer overlap first, then lower deviation, then
    shst_reference/segment_id as total tie-breaks. A candidate is kept iff
    <= OVERLAP_TOL of its interval is already covered. Candidates covering
    < MIN_COVER_RATIO of the GTFS segment are dropped up front (the
    unmatched-length predicate, shstMatchFeatures.js:259-276).

    Physical shape: candidates are gathered per segment with collect_list
    (one shuffle; none on the shape_id-bucketed `refined` stage) and the
    cover runs under mapInArrow (`_choose`, the functions.udfs boundary):
    one lexsort and a few vectorized rounds per Arrow batch, no per-group
    Python call. The along-index RANK is computed in the SAME kernel over
    the kept rows (each collect_list group IS one rank partition): a
    Window after a Python eval node costs a full re-Exchange + Sort on the
    very keys the groupBy just partitioned by, because Python operators
    report unknown output partitioning to EnsureRequirements (round-7 plan
    audit: Exchange(60) removed). rank() semantics reproduced exactly:
    competition ranking (1,1,3) over (section_start, section_end,
    shst_reference) — float compares are IEEE in both engines and string
    order is byte order, so tie groups and hence ranks are identical."""
    filtered = refined.filter(
        F.col("intxn_len_km") / F.col("g_len_km") >= MIN_COVER_RATIO
    )
    if max_candidates_per_segment is not None:
        # skew guard for pathological segments (urban-core map data can put
        # thousands of candidates on one GTFS segment — one collect_list
        # group): keep the TOP-N in the exact greedy consideration order, so
        # the cover sees the same prefix it would have consumed first. A
        # low-ranked DISJOINT candidate beyond the cap could have been kept,
        # so this is an explicit recall-bounded guard (opt-in, like the
        # dedup df-cut) — never a silent default.
        w_cap = Window.partitionBy("shape_id", "shape_index").orderBy(
            F.desc("intxn_len_km"), "mean_dev_km", "shst_reference", "segment_id"
        )
        filtered = (
            filtered.withColumn("_cap_rn", F.row_number().over(w_cap))
            .filter(F.col("_cap_rn") <= max_candidates_per_segment)
            .drop("_cap_rn")
        )
    cand_cols = [f.name for f in REFINE_SCHEMA.fields if f.name not in ("shape_id", "shape_index")]
    grouped = filtered.groupBy("shape_id", "shape_index").agg(
        F.collect_list(F.struct(*cand_cols)).alias("cands")
    )
    return U.map_arrow(grouped, _choose, CHOSEN_SCHEMA)


def remove_redundant_matches(
    matches: DataFrame,
    target_cols: tuple[str, ...] = ("shape_id", "shape_index"),
    ref_col: str = "shst_reference",
    xs_col: str = "m_xs",
    ys_col: str = "m_ys",
    assisted_col: str | None = None,
) -> DataFrame:
    """Coord-subset redundant-match removal — the reference's
    removeRedundantMatches.js:4-85, applied to raw (external) matcher
    output BEFORE dedupe/choose.

    Reference semantics, re-expressed: per (target segment, shst ref),
    consider matches in descending coordinate-count order (ties prefer
    non-OSRM-assisted); keep a match only if its coordinate SET is not a
    subset of an already-kept match's coordinate set (exact coordinate
    equality — coords are 6-dp rounded at ingest, reference
    roundGeometryCoordinates.js). Degenerate (<2 coords) matches are
    dropped up front (the getCoords length>1 guard).

    Spark shape: coords pack into int64 keys JVM-side (6-dp grid), groups
    are (target, ref) — typically a handful of partial matches — gathered
    with collect_list + ONE scalar pandas_udf over the array column (the
    many-tiny-groups pattern; grouped applyInPandas costs ~5 ms/group).
    The greedy subset scan is inherently sequential per group and runs on
    packed-int sets. In-engine refine output is one-row-per-(pair, ref) so
    this is a no-op there by construction; it exists for external shst
    match payloads, where nested partial matches are the norm. The
    reference's input-order tie-break is made total (coord-count desc,
    assisted asc, packed-coords hash) so results are deterministic under
    any partitioning."""
    tcols = list(target_cols)
    # 6-dp grid pack: exact on the ingest-rounded lattice, one int64/coord
    pack = F.transform(
        F.arrays_zip(F.col(xs_col).alias("x"), F.col(ys_col).alias("y")),
        lambda p: F.shiftleft(
            F.round((p["x"] + F.lit(180.0)) * 1e6, 0).cast("long"), 32
        ).bitwiseOR(
            F.round((p["y"] + F.lit(90.0)) * 1e6, 0).cast("long").bitwiseAND(
                F.lit((1 << 32) - 1).cast("long")
            )
        ),
    )
    assisted = (
        F.col(assisted_col).cast("int") if assisted_col else F.lit(0)
    )
    df = (
        matches.withColumn("_ck", pack)
        .withColumn("_n", F.size("_ck"))
        .filter(F.col("_n") > 1)
        .withColumn("_assist", assisted)
        .withColumn("_h", F.hash("_ck"))
    )
    w = Window.partitionBy(*tcols, ref_col).orderBy(
        F.desc("_n"), F.asc("_assist"), F.asc("_h")
    )
    df = df.withColumn("_rid", F.row_number().over(w))
    grouped = df.groupBy(*tcols, ref_col).agg(
        F.collect_list(F.struct("_rid", "_ck")).alias("_cands")
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def keep_rids(cands: pd.Series) -> pd.Series:
        out = []
        for lst in cands:
            kept: list[tuple[int, set]] = []
            for m in sorted(lst, key=lambda m: m["_rid"]):
                cs = set(m["_ck"])
                if not any(cs <= k for _, k in kept):
                    kept.append((m["_rid"], cs))
            out.append([r for r, _ in kept])
        return pd.Series(out)

    kept = grouped.select(
        *tcols, ref_col, F.explode(keep_rids("_cands")).alias("_rid")
    )
    return (
        df.join(kept, [*tcols, ref_col, "_rid"], "inner")
        .drop("_ck", "_n", "_assist", "_h", "_rid")
    )


COSPATIALITY_SCHEMA = T.StructType(
    [
        T.StructField("segment_id_a", T.LongType()),
        T.StructField("segment_id_b", T.LongType()),
        T.StructField("a_start_km", T.DoubleType()),
        T.StructField("a_end_km", T.DoubleType()),
        T.StructField("b_start_km", T.DoubleType()),
        T.StructField("b_end_km", T.DoubleType()),
        T.StructField("intxn_a_km", T.DoubleType()),
        T.StructField("intxn_b_km", T.DoubleType()),
    ]
)


def map_segments_cospatiality(
    osm: DataFrame,
    cell_deg: float = CELL_DEG,
    radius_km: float = 0.005,
) -> DataFrame:
    """Stage-7 standalone cospatiality pair table — the reference's
    map_segments_cospatiality (GtfsConflationMapJoinDAO/createTableFns.js:
    3-24, loaders.js:195-274): for every pair of conflation-map segments
    that overlap within the corridor radius, the overlap interval ON EACH
    LINE from independent projections (kernels.cospatiality_two_sided).

    Plan shape mirrors the flagship join: narrow cell-explode self-join ->
    id_a < id_b dedupe -> JVM bbox prefilter -> array attach for survivors
    -> one Arrow refine hop. Self-join keys are the same packed grid cells,
    so AQE skew-join covers urban-core hot cells."""
    # JVM cover cells, no Arrow hop / repartition (see cover_cells_col)
    cells = osm.select(
        "segment_id",
        F.explode(cover_cells_col(F.col("xs"), F.col("ys"), cell_deg, 0)).alias(
            "cell"
        ),
    )
    pairs = (
        cells.alias("x")
        .join(cells.alias("y").hint("shuffle_hash"), "cell")
        .filter(F.col("x.segment_id") < F.col("y.segment_id"))
        .select(
            F.col("x.segment_id").alias("segment_id_a"),
            F.col("y.segment_id").alias("segment_id_b"),
        )
        .distinct()
    )
    pad_lat = radius_km / 75.0
    pad_lon = radius_km / 50.0
    box = osm.select(
        "segment_id",
        F.array_min("xs").alias("x0"),
        F.array_max("xs").alias("x1"),
        F.array_min("ys").alias("y0"),
        F.array_max("ys").alias("y1"),
    )
    near = (
        pairs.join(
            box.select(
                F.col("segment_id").alias("segment_id_a"),
                F.col("x0").alias("a_x0"), F.col("x1").alias("a_x1"),
                F.col("y0").alias("a_y0"), F.col("y1").alias("a_y1"),
            ),
            "segment_id_a",
        )
        .join(
            box.select(
                F.col("segment_id").alias("segment_id_b"),
                F.col("x0").alias("b_x0"), F.col("x1").alias("b_x1"),
                F.col("y0").alias("b_y0"), F.col("y1").alias("b_y1"),
            ),
            "segment_id_b",
        )
        .filter(
            (F.col("a_x0") - pad_lon <= F.col("b_x1"))
            & (F.col("b_x0") - pad_lon <= F.col("a_x1"))
            & (F.col("a_y0") - pad_lat <= F.col("b_y1"))
            & (F.col("b_y0") - pad_lat <= F.col("a_y1"))
        )
        .select("segment_id_a", "segment_id_b")
    )
    geom = osm.select("segment_id", "xs", "ys")
    attached = near.join(
        geom.select(
            F.col("segment_id").alias("segment_id_a"),
            F.col("xs").alias("a_xs"), F.col("ys").alias("a_ys"),
        ),
        "segment_id_a",
    ).join(
        geom.select(
            F.col("segment_id").alias("segment_id_b"),
            F.col("xs").alias("b_xs"), F.col("ys").alias("b_ys"),
        ),
        "segment_id_b",
    )

    # cross-pair packing, same boundary as the flagship refine; outputs are
    # value-identical to the scalar kernel (asserted in tests)
    return U.map_arrow(
        attached,
        lambda batches, schema: U.map_pairs(
            batches,
            ("a_xs", "a_ys", "b_xs", "b_ys"),
            schema,
            lambda na, nb: max((4 * na - 3) * nb, (4 * nb - 3) * na),
            lambda AX, AY, BX, BY: K.cospatiality_two_sided_batch(
                AX, AY, BX, BY, radius_km=radius_km
            ),
        ),
        COSPATIALITY_SCHEMA,
    )


def conflation_join(
    segments: DataFrame,
    osm: DataFrame,
    cell_deg: float = CELL_DEG,
    ring: int = 1,
    corridor_km: float = CORRIDOR_KM,
    retry_rings: tuple[int, ...] = (),
    retry_corridor_km: float | None = None,
) -> DataFrame:
    """Full filter-refine-choose chain. Returns the flagship match table:
    (shape_id, shape_index, segment_id, shst_reference, networklevel,
    section_start, section_end, osm_start, osm_end, intxn_len_km,
    mean_dev_km, max_dev_km, along_idx).

    retry_rings: the retry ladder (shstMatchFeatures.js:283-362 re-expressed
    — the reference re-runs unmatched features through OSRM with widening
    slice strategies; here a candidate MISS widens the cell k-ring and,
    optionally, the corridor radius, for ONLY the unmatched segments via an
    anti-join). Off by default: with the corridor-scale cell size the first
    pass is already recall-complete for in-tolerance geometry; the ladder
    exists for sparse/offset map data.
    """
    pairs = candidate_pairs(segments, osm, cell_deg=cell_deg, ring=ring)
    refined = refine(pairs, corridor_km=corridor_km)
    for r in retry_rings:
        matched_keys = refined.select("shape_id", "shape_index").distinct()
        unmatched = segments.join(
            matched_keys, ["shape_id", "shape_index"], "left_anti"
        )
        rc = retry_corridor_km or corridor_km
        wider = refine(
            candidate_pairs(unmatched, osm, cell_deg=cell_deg, ring=r, pad_km=rc),
            corridor_km=rc,
        )
        refined = refined.unionByName(wider)
    g_len = segments.select(
        "shape_id", "shape_index", F.col("length_km").alias("g_len_km")
    )
    return choose_matches(refined.join(g_len, ["shape_id", "shape_index"]))
