"""Block delineation: land parts + street lines → street blocks with stable IDs.

Distributed translation of ``Blocker.build_blocks``
(``/root/reference/src/geopull/blocker.py:63-80``). The region is the group
key (the reference's per-country unit, orchestrator.py:87-91); land and lines
are cogrouped and the whole DAG runs as one Arrow-batched kernel per region:

  _make_blocks   (blocker.py:233-279): clip lines to land (F14), land
                 exterior-ring enclosure (F13), polygonize (F10)
  _validate      (blocker.py:281-294): make_valid + explode + Polygon-only
  _add_back_water(blocker.py:202-231): per-block ∩ land when Σblocks > Σland
  _remove_overlaps(blocker.py:82-164): area>1m² filter; polygonize faces are
                 disjoint by construction so the sjoin path is usually empty,
                 but the correction path (boundary → re-polygonize →
                 difference → dissolve-by-id) is implemented for parity
  _residual_area_check(blocker.py:166-200): add back land − ∪blocks
  geohash ids    (blocker.py:296-322): representative point → geohash12 →
                 georank (cumcount per geohash, W1) → block_id; here the
                 kernel ends with the batched per-block pass
                 (_geohash_blocks_fast) and georank is a region-wide
                 window, see below

Determinism fix vs the reference (documented, SURVEY.md W1): pandas
``cumcount`` after the geohash sort breaks ties by prior row order; we order
ties by canonical WKB bytes so ``georank`` is reproducible under any
partitioning.

Round-2 scale rework (VERDICT r1 item 2): the group key is **(region,
land_part)**, not region. Land parts are disjoint after the normalize
dissolve, so clipping/noding/polygonizing per part is semantically identical
to per-region (no segment crosses between disjoint parts; holes, overlap
correction and residual add-back are all part-local) while a
continental-scale region no longer serializes onto one Python worker. Lines
are routed to parts by one bbox join against the collected part boxes,
broadcast as a literal relation (a line crossing several parts is clipped in
each). The geohash→georank block-ID assignment
(blocker.py:296-322) moved OUT of the kernel into a Spark window function
(row_number over (region, geohash) ordered by canonical WKB), which is
exactly the reference's cumcount-after-sort semantics computed region-wide —
bit-identical block IDs regardless of the part split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import ensure_bbox
from ..kernels import wkb as _wkb
from ..kernels.area import batch_area_m2, geom_area_m2, segment_sums
from ..kernels.cells import geohash_encode
from ..kernels.clip import clip_segments_to_polygons
from ..kernels.overlay import dissolve as _dissolve
from ..kernels.overlay import make_valid as _make_valid
from ..kernels.overlay import normalize_geom, overlay as _overlay_op
from ..kernels.pointops import representative_point
from ..kernels.polygonize import (
    batch_segments,
    extract_faces,
    geoms_to_segments,
    node_segments,
)

_BBOX_FIELDS = [
    T.StructField("minx", T.DoubleType()),
    T.StructField("miny", T.DoubleType()),
    T.StructField("maxx", T.DoubleType()),
    T.StructField("maxy", T.DoubleType()),
]

# the reference's block-id geohash length (blocker.py:308-310)
GEOHASH_PRECISION = 12

# kernel output: block geometry + geohash, pre block-ID (georank is a window)
BLOCKS_PRE_SCHEMA = T.StructType(
    [
        T.StructField("region_code", T.StringType()),
        T.StructField("geohash", T.StringType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("area_m2", T.DoubleType()),
        T.StructField("rep_lon", T.DoubleType()),
        T.StructField("rep_lat", T.DoubleType()),
    ]
    + _BBOX_FIELDS
)

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("region_code", T.StringType()),
        T.StructField("block_id", T.StringType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("area_m2", T.DoubleType()),
        T.StructField("rep_lon", T.DoubleType()),
        T.StructField("rep_lat", T.DoubleType()),
    ]
    + _BBOX_FIELDS
)


def _validate(polys: list) -> list:
    """blocker.py:281-294: make_valid, explode, keep Polygon parts."""
    out = []
    for p in polys:
        for v in _make_valid(p):
            if v[0] == "Polygon":
                out.append(v)
            elif v[0] == "MultiPolygon":
                out.extend(("Polygon", rings) for rings in v[1])
    return out


def _make_blocks(land_parts: list, line_segs: np.ndarray) -> list:
    """blocker.py:233-279."""
    clipped = clip_segments_to_polygons(line_segs, land_parts)
    # enclosure: exterior rings only (blocker.py:353-366)
    enclosure_segs = geoms_to_segments(
        [("LineString", rings[0]) for _, rings in land_parts]
    )
    all_segs = (
        np.vstack([clipped, enclosure_segs]) if len(clipped) else enclosure_segs
    )
    noded = node_segments(all_segs)
    faces = extract_faces(noded)
    return [("Polygon", rings) for rings in faces]


def _remove_overlaps(blocks: list, areas: list, land_area: float) -> tuple[list, list]:
    """blocker.py:82-164. Polygonize faces are disjoint by construction, so
    when Σ block areas ≤ land area (+1 m², the reference's own sliver
    threshold at blocker.py:100) no overlap can exist and the O(n²) pair scan
    is skipped; the correction path stays exact for genuinely overlapping
    inputs (reference overlap fixture). Carries per-block areas to avoid
    recomputing the Mercator transform."""
    kept = [(b, a) for b, a in zip(blocks, areas) if a > 1.0]
    blocks = [b for b, _ in kept]
    areas = [a for _, a in kept]
    n = len(blocks)
    if n < 2:
        return blocks, areas
    if sum(areas) <= land_area + 1.0:
        return blocks, areas
    boxes = np.array([_wkb.bounds(b) for b in blocks])
    pairs = []
    order = np.argsort(boxes[:, 0])
    for oi in range(n):
        i = order[oi]
        for oj in range(oi + 1, n):
            j = order[oj]
            if boxes[j, 0] > boxes[i, 2]:
                break
            if boxes[j, 1] <= boxes[i, 3] and boxes[j, 3] >= boxes[i, 1]:
                inter = _overlay_op([blocks[i]], [blocks[j]], "intersection")
                if inter and sum(geom_area_m2(p) for p in inter) > 0:
                    pairs.append((int(min(i, j)), int(max(i, j))))
    if not pairs:
        return blocks, areas
    overlap_ids = sorted({i for p in pairs for i in p})
    keep_ids = [i for i in range(n) if i not in set(overlap_ids)]
    # boundary → re-polygonize → difference vs non-overlapping → dissolve
    seg_src = [blocks[i] for i in overlap_ids]
    noded = node_segments(geoms_to_segments(seg_src))
    pieces = [("Polygon", rings) for rings in extract_faces(noded)]
    keep_blocks = [blocks[i] for i in keep_ids]
    corrected = _overlay_op(pieces, keep_blocks, "difference")
    merged = _validate(_dissolve([_wkb.dumps(p) for p in corrected]))
    out = keep_blocks + merged
    out_areas = [areas[i] for i in keep_ids] + [geom_area_m2(b) for b in merged]
    return out, out_areas


# ---------------------------------------------------------------------------
# batched per-block finish of the group kernel
#
# Per block, the chain is representative point, canonical normalize (ring
# orientation + rotation to the lexicographic-min vertex), WKB and bounds.
# Called once per block, numpy's fixed call overhead dominated it, so the
# code below runs each step once per group over the flat coordinates of
# every simple block (one ring, ≥ 4 vertices). It computes
# the SAME values as the per-block functions:
#   * elementwise float ops (+,-,*,/ and comparisons) are IEEE-exact per
#     element regardless of array shape → identical batched or not;
#   * min/max reductions are order-insensitive bitwise → reduceat is safe;
#   * the one order-sensitive reduction, the shoelace sum whose sign picks
#     the ring orientation, goes through ``area.segment_sums``, which
#     reproduces np.sum's summation order bit for bit;
#   * the rotation start, the reversal and the closing vertex are index
#     arithmetic, and bounds are min/max reductions of the output rings.
# Blocks that are not simple (holes, multi parts) and degenerate scanlines
# of the representative point go through the per-block functions.
# Pinned by tests/test_pipeline.py::test_post_blocks_batched_bit_identical.
# ---------------------------------------------------------------------------


def _first_true_per_segment(mask: np.ndarray, seg_ids: np.ndarray, n_seg: int) -> np.ndarray:
    """Index (into the flat array) of the first True per segment; -1 if none.
    ``seg_ids`` must be sorted ascending."""
    out = np.full(n_seg, -1, dtype=np.int64)
    idx = np.flatnonzero(mask)
    if len(idx):
        sid = seg_ids[idx]
        # first occurrence per segment: reversed fill
        out[sid[::-1]] = idx[::-1]
    return out


def _batched_rep_points(V: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Vectorized representative_point for n concatenated CLOSED single
    rings. Returns (x, y, ok) — ok=False rows must use the original
    per-block function (degenerate scanline)."""
    n = len(starts)
    ends = starts + lens
    vy = V[:, 1]
    ring_ids = np.repeat(np.arange(n), lens)
    ymin = np.minimum.reduceat(vy, starts)
    ymax = np.maximum.reduceat(vy, starts)
    y = 0.5 * (ymin + ymax)
    y_row = y[ring_ids]
    # nudge off vertex levels (replicates isclose(rtol=0, atol=1e-15))
    close_any = np.logical_or.reduceat(np.abs(vy - y_row) <= 1e-15, starts)
    if close_any.any():
        big = np.inf
        up_mask = vy > (y_row + 1e-15)
        lo_mask = vy < (y_row - 1e-15)
        upper = np.minimum.reduceat(np.where(up_mask, vy, big), starts)
        lower = np.maximum.reduceat(np.where(lo_mask, vy, -big), starts)
        use_up = close_any & np.isfinite(upper)
        use_lo = close_any & ~np.isfinite(upper) & np.isfinite(lower)
        y = np.where(use_up, 0.5 * (y + upper), y)
        y = np.where(use_lo, 0.5 * (y + lower), y)
        y_row = y[ring_ids]
    # scanline crossings: edges are consecutive vertex pairs within a ring
    edge_mask = np.ones(len(V), dtype=bool)
    edge_mask[ends - 1] = False  # last vertex of each ring starts no edge
    e_idx = np.flatnonzero(edge_mask)
    ex0, ey0 = V[e_idx, 0], V[e_idx, 1]
    ex1, ey1 = V[e_idx + 1, 0], V[e_idx + 1, 1]
    er = ring_ids[e_idx]
    ey = y[er]
    cond = (ey0 > ey) != (ey1 > ey)
    dy = ey1 - ey0
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = ex0 + (ey - ey0) * (ex1 - ex0) / dy
    sel = np.flatnonzero(cond)
    xs = xin[sel]
    xr = er[sel]
    order = np.lexsort((xs, xr))
    xs, xr = xs[order], xr[order]
    cnt = np.bincount(xr, minlength=n)
    ok = cnt >= 2
    out_x = np.zeros(n)
    # widths over even-odd pairs within each ring's sorted crossing list
    seg_start = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    pos = np.arange(len(xs)) - seg_start[xr]
    pair_mask = (pos % 2 == 0) & (pos + 1 < cnt[xr])
    p_idx = np.flatnonzero(pair_mask)
    if len(p_idx):
        widths = xs[p_idx + 1] - xs[p_idx]
        wr = xr[p_idx]
        # per-ring max width (exact) then FIRST pair achieving it (argmax)
        wseg_start = _segment_starts(wr, n)
        has = wseg_start >= 0
        wmax = np.full(n, -np.inf)
        if has.any():
            red_starts = wseg_start[has]
            wmax[has] = np.maximum.reduceat(widths, red_starts)
        first = _first_true_per_segment(widths == wmax[wr], wr, n)
        hit = first >= 0
        fi = first[hit]
        out_x[hit] = 0.5 * (xs[p_idx[fi]] + xs[p_idx[fi] + 1])
        ok &= hit
    else:
        ok[:] = False
    return out_x, y, ok


def _segment_starts(sorted_ids: np.ndarray, n_seg: int) -> np.ndarray:
    """Start offset of each segment id within a sorted id array; -1 if the
    segment is empty."""
    out = np.full(n_seg, -1, dtype=np.int64)
    if len(sorted_ids):
        firsts = np.flatnonzero(np.diff(sorted_ids, prepend=sorted_ids[0] - 1))
        out[sorted_ids[firsts]] = firsts
    return out


def _batched_normalize_rings(V: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """``_normalize_rings`` of n concatenated single exterior rings.
    Returns (coords, lens) of the canonical CLOSED rings, concatenated."""
    n = len(starts)
    ends = starts + lens
    # drop closing vertex where first == last (np.array_equal semantics)
    closed = (V[starts, 0] == V[ends - 1, 0]) & (V[starts, 1] == V[ends - 1, 1])
    body_lens = lens - closed.astype(np.int64)
    keep = np.ones(len(V), dtype=bool)
    keep[ends[closed] - 1] = False
    B = V[keep]
    b_starts = np.concatenate([[0], np.cumsum(body_lens)[:-1]])
    b_ids = np.repeat(np.arange(n), body_lens)
    # dedupe consecutive duplicates (within each body)
    keep2 = np.empty(len(B), dtype=bool)
    keep2[0] = True
    keep2[1:] = (B[1:, 0] != B[:-1, 0]) | (B[1:, 1] != B[:-1, 1])
    keep2[b_starts] = True
    B2 = B[keep2]
    d_ids = b_ids[keep2]
    d_lens = np.bincount(d_ids, minlength=n)
    d_starts = np.concatenate([[0], np.cumsum(d_lens)[:-1]])
    d_ends = d_starts + d_lens
    # shoelace over the closed ring: term_i = x_i*y_{i+1} - x_{i+1}*y_i with
    # wraparound (the original appends body[0] and sums x[:-1]y[1:]-x[1:]y[:-1])
    nx = np.arange(len(B2)) + 1
    nx[d_ends - 1] = d_starts  # wrap: successor of the last vertex is the first
    t = B2[:, 0] * B2[nx, 1] - B2[nx, 0] * B2[:, 1]
    flip = ~(0.5 * segment_sums(t, d_starts, d_lens) > 0.0)  # want_ccw: exterior
    # rotation start: first lexicographic-min vertex of the (possibly
    # reversed) body, i.e. the last occurrence in body order when reversed
    x, y = B2[:, 0], B2[:, 1]
    on_x = x == np.minimum.reduceat(x, d_starts)[d_ids]
    at_min = on_x & (y == np.minimum.reduceat(np.where(on_x, y, np.inf), d_starts)[d_ids])
    pos = np.arange(len(B2))
    first = np.minimum.reduceat(np.where(at_min, pos, len(B2)), d_starts)
    last = np.maximum.reduceat(np.where(at_min, pos, -1), d_starts)
    start = np.where(flip, d_ends - 1 - last, first - d_starts)
    # output vertex k of ring i is body[(start + k) % len]; k = len closes it
    out_lens = d_lens + 1
    o_ids = np.repeat(np.arange(n), out_lens)
    k = np.arange(int(out_lens.sum())) - np.repeat(np.cumsum(out_lens) - out_lens, out_lens)
    m = d_lens[o_ids]
    kk = (start[o_ids] + k) % m
    src = d_starts[o_ids] + np.where(flip[o_ids], m - 1 - kk, kk)
    return B2[src], out_lens


def _polygon_batch(coords: np.ndarray, ring_lens: np.ndarray) -> _wkb.GeomBatch:
    """Flat batch of single-ring Polygons."""
    n = len(ring_lens)
    ones = np.arange(n + 1, dtype=np.int64)
    three = np.full(n, 3, dtype=np.int64)
    roff = np.concatenate([[0], np.cumsum(ring_lens)])
    return _wkb.GeomBatch(three, ones, three, ones, roff, coords)


def _geohash_blocks_fast(batch: _wkb.GeomBatch, areas: list, regions: list) -> pd.DataFrame:
    """Per-block rep point, geohash, canonical normalize, WKB and bounds
    over a flat batch: ``BLOCKS_PRE_SCHEMA`` rows. Vectorized over every
    simple single-ring Polygon; everything else (holes, multi parts,
    degenerate scanlines) routes through the per-block functions.
    Bit-identical to the per-block reference in tests/test_pipeline.py
    (``test_post_blocks_batched_bit_identical``)."""
    n = len(batch)
    if n == 0:
        return pd.DataFrame(columns=BLOCKS_PRE_SCHEMA.fieldNames())
    types, goff, _, poff, roff, coords = batch
    ring0 = poff[goff[:-1]]
    lens = roff[ring0 + 1] - roff[ring0]
    simple = (types == 3) & (poff[goff[:-1] + 1] - ring0 == 1) & (lens >= 4)
    rep_x = np.empty(n)
    rep_y = np.empty(n)
    wkbs = np.empty(n, dtype=object)
    bounds = np.empty((n, 4))
    s_idx = np.flatnonzero(simple)
    if len(s_idx):
        lens = lens[s_idx]
        starts = roff[ring0[s_idx]]
        new_starts = np.cumsum(lens) - lens
        V = coords[np.repeat(starts - new_starts, lens) + np.arange(int(lens.sum()))]
        bx, by, r_ok = _batched_rep_points(V, new_starts, lens)
        rep_x[s_idx], rep_y[s_idx] = bx, by
        for i in s_idx[~r_ok]:
            rep_x[i], rep_y[i] = representative_point(_wkb.geom_at(batch, i)[1])
        norm = _polygon_batch(*_batched_normalize_rings(V, new_starts, lens))
        wkbs[s_idx] = _wkb.encode(norm)
        bounds[s_idx] = _wkb.batch_bounds(norm)
    o_idx = np.flatnonzero(~simple)
    if len(o_idx):
        others = [_wkb.geom_at(batch, i) for i in o_idx]
        for i, g in zip(o_idx, others):
            rep_x[i], rep_y[i] = representative_point(g[1])
        norm = _wkb.from_geoms([normalize_geom(g) for g in others])
        wkbs[o_idx] = _wkb.encode(norm)
        bounds[o_idx] = _wkb.batch_bounds(norm)
    ghs = geohash_encode(rep_y, rep_x, GEOHASH_PRECISION)
    return pd.DataFrame(
        {
            "region_code": regions,
            "geohash": ghs,
            "geometry": list(wkbs),
            "area_m2": areas,
            "rep_lon": rep_x,
            "rep_lat": rep_y,
            "minx": bounds[:, 0],
            "miny": bounds[:, 1],
            "maxx": bounds[:, 2],
            "maxy": bounds[:, 3],
        }
    )


def _block_cogroup(land_pdf: pd.DataFrame, lines_pdf: pd.DataFrame) -> pd.DataFrame:
    """One kernel invocation per (region, land_part) group."""
    if len(land_pdf) == 0:
        return pd.DataFrame(columns=BLOCKS_PRE_SCHEMA.fieldNames())
    region = land_pdf["region_code"].iloc[0]
    land_parts = []
    for buf in land_pdf["geometry"]:
        for p in _wkb.get_parts(_wkb.loads(bytes(buf))):
            if p[0] == "Polygon":
                land_parts.append(p)
    line_segs = batch_segments(
        _wkb.decode(lines_pdf["l_geometry"] if len(lines_pdf) else []))

    blocks = _make_blocks(land_parts, line_segs)
    # no _validate here: extract_faces emits simple rings by construction
    # (pinch points split by the angular walk), and the reference's
    # make_valid (blocker.py:281-294) is the identity on valid polygons
    batch = _wkb.from_geoms(blocks)
    areas = batch_area_m2(batch).tolist()

    # _add_back_water_features (blocker.py:202-231): polygonize filled the
    # water cutouts (holes in land parts); clip those faces back to land.
    # Only blocks whose bbox intersects a hole bbox can need clipping —
    # everything else is already inside land (hole-bbox prefilter).
    land_area = sum(batch_area_m2(_wkb.from_geoms(land_parts)).tolist())
    if sum(areas) - land_area > 1.0:
        hole_boxes = []
        for _, rings in land_parts:
            for hole in rings[1:]:
                h = np.asarray(hole)
                hole_boxes.append(
                    (h[:, 0].min(), h[:, 1].min(), h[:, 0].max(), h[:, 1].max())
                )
        new_blocks, new_areas = [], []
        for b, a, bb in zip(blocks, areas, _wkb.batch_bounds(batch).tolist()):
            touches_hole = any(
                bb[0] <= hx1 and bb[2] >= hx0 and bb[1] <= hy1 and bb[3] >= hy0
                for hx0, hy0, hx1, hy1 in hole_boxes
            )
            if touches_hole:
                for c in _validate(_overlay_op([b], land_parts, "intersection")):
                    new_blocks.append(c)
                    new_areas.append(geom_area_m2(c))
            else:
                new_blocks.append(b)
                new_areas.append(a)
        blocks, areas = new_blocks, new_areas

    blocks, areas = _remove_overlaps(blocks, areas, land_area)

    # _residual_area_check (blocker.py:166-200); >1 m² threshold — float
    # epsilon residues produce empty geometry in the reference too, this
    # just skips the no-op union
    if land_area - sum(areas) > 1.0:
        union_blocks = _dissolve([_wkb.dumps(b) for b in blocks])
        residue = _overlay_op(land_parts, union_blocks, "difference")
        residue = _validate([p for p in residue if geom_area_m2(p) > 0])
        blocks = blocks + residue
        areas = areas + [geom_area_m2(p) for p in residue]

    return _geohash_blocks_fast(_wkb.from_geoms(blocks), areas, [region] * len(blocks))


def build_blocks(land: DataFrame, lines: DataFrame) -> DataFrame:
    """land parts + extracted linestrings → blocks.

    One geometry kernel per (region, land_part): lines are routed to parts by
    a bbox join against a literal-broadcast relation of the part boxes (see
    ``build_blocks_pre``), each part polygonizes independently, then the block
    IDs are assigned by a region-wide window (georank = cumcount within
    (region, geohash) ordered by canonical WKB — the reference's sort+cumcount
    at blocker.py:296-322, bit-identical to the r1 per-region kernel output)."""
    return assign_block_ids(build_blocks_pre(land, lines))


def build_blocks_pre(land: DataFrame, lines: DataFrame) -> DataFrame:
    """The cogroup half of build_blocks: blocks WITHOUT ids (geohash + geometry
    + stats). Exposed so stage-level profiling/benchmarks can attribute time
    between the geometry kernels and the id window.

    Lines reach their land parts through one driver collect of the part boxes
    (no geometry), re-broadcast as a literal relation and joined on region
    plus closed-bbox overlap; a line crossing several parts is clipped in
    each. The same collect sizes the cogroup's partition count."""
    # externally-sourced land may lack the bbox columns; the normalize stage
    # emits them in-kernel, so the pipeline path adds no Python stage here
    land = ensure_bbox(land)
    # normalize the key dtype: externally-built land frames may carry int64
    # part ids while the literal part-box relation (and LAND_SCHEMA) use
    # int32 — a dtype mismatch between the cogroup sides would silently
    # route every line into an empty group
    land = land.select(
        "region_code", F.col("part_id").cast("int").alias("part_id"),
        "geometry", "minx", "miny", "maxx", "maxy",
    )
    # materialize the part-bbox dim table driver-side before broadcasting: it
    # has one row per land part (the same rows a BroadcastExchange would
    # collect anyway), and broadcasting a subtree that contains Python-eval
    # stages makes Spark re-execute that lineage on every query run (measured
    # 7-13s per execution at 32 cores vs 0.5s for the literal relation).
    pb_rows = land.select(
        "region_code", "part_id", "minx", "miny", "maxx", "maxy"
    ).collect()
    spark = land.sparkSession
    part_boxes = F.broadcast(
        spark.createDataFrame(
            [tuple(r) for r in pb_rows],
            "p_region string, p_part int, p_minx double, p_miny double, p_maxx double, p_maxy double",
        )
    )
    lines_parts = (
        lines.select("region_code", "geometry", "minx", "miny", "maxx", "maxy")
        .join(part_boxes, F.col("region_code") == F.col("p_region"), "inner")
        .filter(
            (F.col("minx") <= F.col("p_maxx")) & (F.col("maxx") >= F.col("p_minx"))
            & (F.col("miny") <= F.col("p_maxy")) & (F.col("maxy") >= F.col("p_miny"))
        )
        .select(
            F.col("region_code").alias("l_region"),
            F.col("p_part").alias("l_part"),
            F.col("geometry").alias("l_geometry"),
        )
    )
    # Wide EXPLICIT repartition on the group keys before the cogroup: the
    # kernel stage is tiny-bytes/huge-CPU, so it needs far more partitions
    # than a byte-sized shuffle would get — 16× parallelism cuts the
    # balls-in-bins straggler tail (256 groups into 128 tasks leaves ~4-group
    # stragglers; into 512, ~1). An explicit repartition also can't be
    # byte-coalesced by AQE, and the cogroup reuses its hash partitioning
    # (one exchange per side — verified in PLANS.md). Measured at the 4×
    # world: 8-core cogroup 36.4s → 28.2s, 32-core → 13.9s, and 8→32
    # efficiency 0.25 → 0.51 (round 3).
    #
    # Round 4: the overscan is sized to the KNOWN part count from the
    # part-box collect — every Python task pays a measured ~0.2-0.25 s
    # runner floor even when its partition is empty, so 512 tasks for 48
    # groups burned ~2 s of pure overhead at the driver config. 2× groups
    # keeps the straggler-tail benefit; the 16× ceiling returns as soon as
    # groups ≥ 8× parallelism (the scaling worlds).
    dp = spark.sparkContext.defaultParallelism
    np_ = min(dp * 16, max(dp * 2, 2 * len(pb_rows)))
    land_g = land.repartition(np_, "region_code", "part_id")
    lines_g = lines_parts.repartition(np_, "l_region", "l_part")
    return (
        land_g.groupBy("region_code", "part_id")
        .cogroup(lines_g.groupBy("l_region", "l_part"))
        .applyInPandas(_block_cogroup, BLOCKS_PRE_SCHEMA)
    )


def assign_block_ids(pre: DataFrame) -> DataFrame:
    """Region-wide georank window → stable block ids (reference cumcount
    semantics, blocker.py:296-322)."""
    from pyspark.sql import Window

    # dp-sized explicit repartition on the window keys (r6): the window's
    # own exchange would use spark.sql.shuffle.partitions (128 at the bench
    # config) and is not AQE-coalesced, leaving 128 tiny reduce tasks AND a
    # 128-partition cache for every downstream consumer (cell index, refine
    # geometry, assignment probes all re-scan blocks). The explicit
    # repartition satisfies the window's hash(region, geohash) requirement,
    # so no second exchange is added — same shuffle, dp tasks.
    dp = pre.sparkSession.sparkContext.defaultParallelism
    pre = pre.repartition(dp, "region_code", "geohash")
    w = Window.partitionBy("region_code", "geohash").orderBy(F.col("geometry").asc())
    return (
        pre.withColumn("georank", F.row_number().over(w) - 1)
        .withColumn(
            "block_id",
            F.concat_ws("_", "region_code", "geohash", F.col("georank").cast("string")),
        )
        .select(
            "region_code", "block_id", "geometry", "area_m2", "rep_lon", "rep_lat",
            "minx", "miny", "maxx", "maxy",
        )
    )
