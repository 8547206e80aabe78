"""Point predicates: point-in-polygon (ray casting) + representative point.

The reference gets these from GEOS (``representative_point()`` at
``/root/reference/src/geopull/blocker.py:308``; PIP implicitly inside
``gpd.sjoin``). Here: vectorized numpy ray casting and a GEOS-style
interior-point-on-scanline kernel.
"""

from __future__ import annotations

import numpy as np


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast of many points against one closed ring.

    Boundary points count as inside (closed polygon semantics; adequate for
    doc→block assignment where docs are random interior points).
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    # edge straddles the horizontal ray through py
    cond = (y0[None, :] > py) != (y1[None, :] > py)
    dy = y1 - y0
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x0[None, :] + (py - y0[None, :]) * (x1 - x0)[None, :] / dy[None, :]
    crossings = np.sum(cond & (px < xin), axis=1)
    return (crossings % 2).astype(bool)


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over all rings: inside exterior, outside holes."""
    if not rings:
        return np.zeros(len(px), dtype=bool)
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


def point_in_geom(px: np.ndarray, py: np.ndarray, geom) -> np.ndarray:
    gtype, payload = geom
    if gtype == "Polygon":
        return points_in_polygon(px, py, payload)
    if gtype == "MultiPolygon":
        out = np.zeros(len(px), dtype=bool)
        for rings in payload:
            out |= points_in_polygon(px, py, rings)
        return out
    raise ValueError(f"point_in_geom expects polygons, got {gtype}")


def _ring_scanline_crossings(rings: list[np.ndarray], y: float) -> np.ndarray:
    """Sorted x's where the horizontal line at y crosses any ring edge."""
    xs = []
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        cond = (y0 > y) != (y1 > y)
        dy = y1 - y0
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = x0 + (y - y0) * (x1 - x0) / dy
        xs.append(xin[cond])
    if not xs:
        return np.array([])
    return np.sort(np.concatenate(xs))


def representative_point(rings: list[np.ndarray]) -> tuple[float, float]:
    """A point guaranteed strictly inside the polygon (GEOS-style).

    Scanline at the bbox y-midpoint (nudged off any vertex y), take the
    midpoint of the widest inside interval. Mirrors GEOS InteriorPointArea,
    used by the reference for geohash block IDs (``blocker.py:308``).
    """
    ext = rings[0]
    ymin, ymax = float(ext[:, 1].min()), float(ext[:, 1].max())
    y = 0.5 * (ymin + ymax)
    all_y = np.unique(np.concatenate([r[:, 1] for r in rings]))
    # nudge off vertex levels: bisect toward the adjacent distinct vertex y —
    # the midpoint of two adjacent levels can never itself be a level
    if np.any(np.isclose(all_y, y, rtol=0, atol=1e-15)):
        upper = all_y[all_y > y + 1e-15]
        lower = all_y[all_y < y - 1e-15]
        if len(upper):
            y = 0.5 * (y + upper.min())
        elif len(lower):
            y = 0.5 * (y + lower.max())
    xs = _ring_scanline_crossings(rings, y)
    if len(xs) < 2:
        # degenerate: fall back to vertex centroid of exterior
        return float(ext[:-1, 0].mean()), float(ext[:-1, 1].mean())
    # even-odd: intervals [xs[0],xs[1]], [xs[2],xs[3]], ... are inside
    widths = xs[1::2] - xs[0::2][: len(xs[1::2])]
    i = int(np.argmax(widths))
    return float(0.5 * (xs[2 * i] + xs[2 * i + 1])), float(y)


def _grid_key(level: np.ndarray, cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    return (level << 58) | (cx << 29) | cy


def points_in_boxes(px: np.ndarray, py: np.ndarray, minx: np.ndarray,
                    miny: np.ndarray, maxx: np.ndarray,
                    maxy: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every (point, box) pair with the point inside the CLOSED box, as two
    index arrays (point row, box row).

    A multi-level grid keeps memory near the output size. The level-0 cell
    is the median box; each box sits at the lowest level whose cell is at
    least its extent, so it covers at most 2×2 cells there. A region-sized
    box therefore costs a few entries at a coarse level, not thousands at
    level 0, and each point probes one cell per level in use: O(boxes +
    points × levels + pairs). Cell indices are computed with the same float
    operations for points and box corners, and floor is monotone, so a
    point inside a box always lands in one of its cells; an exact bbox test
    then drops the false candidates."""
    empty = np.zeros(0, dtype=np.int64)
    if len(px) == 0 or len(minx) == 0:
        return empty, empty
    x0, y0, x1, y1 = minx.min(), miny.min(), maxx.max(), maxy.max()
    # points outside the boxes' joint extent are in no box; the rest get
    # non-negative cell indices
    pts = np.flatnonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1))
    if len(pts) == 0:
        return empty, empty
    bw, bh = maxx - minx, maxy - miny
    tiny = np.finfo(np.float64).tiny
    # at most 2^20 level-0 cells across the extent, so every key fits 29 bits
    cw = max(float(np.median(bw)), (x1 - x0) * 2.0**-20, tiny)
    ch = max(float(np.median(bh)), (y1 - y0) * 2.0**-20, tiny)
    level = np.ceil(np.log2(np.maximum(np.maximum(bw / cw, bh / ch), 1.0))).astype(np.int64)
    sx, sy = cw * np.ldexp(1.0, level), ch * np.ldexp(1.0, level)
    gx0 = np.floor((minx - x0) / sx).astype(np.int64)
    gy0 = np.floor((miny - y0) / sy).astype(np.int64)
    nx = np.floor((maxx - x0) / sx).astype(np.int64) - gx0 + 1
    ny = np.floor((maxy - y0) / sy).astype(np.int64) - gy0 + 1
    cnt = nx * ny
    box = np.repeat(np.arange(len(minx), dtype=np.int64), cnt)
    k = np.arange(len(box), dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    key = _grid_key(level[box], gx0[box] + k // ny[box], gy0[box] + k % ny[box])
    order = np.argsort(key, kind="stable")
    key, box = key[order], box[order]
    levels = np.unique(level)
    qp = np.repeat(pts, len(levels))
    ql = np.tile(levels, len(pts))
    qs = np.ldexp(1.0, ql)
    qkey = _grid_key(ql, np.floor((px[qp] - x0) / (cw * qs)).astype(np.int64),
                     np.floor((py[qp] - y0) / (ch * qs)).astype(np.int64))
    lo = np.searchsorted(key, qkey, "left")
    n = np.searchsorted(key, qkey, "right") - lo
    pi = np.repeat(qp, n)
    bi = box[np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(len(pi), dtype=np.int64)]
    inside = (px[pi] >= minx[bi]) & (px[pi] <= maxx[bi]) & (py[pi] >= miny[bi]) & (py[pi] <= maxy[bi])
    return pi[inside], bi[inside]


def build_edge_soup(geoms: list) -> tuple[np.ndarray, ...]:
    """Flatten a list of (Multi)Polygons into one concatenated edge table for
    :func:`points_in_geoms`: (x0, y0, x1, y1, start) where geometry i owns
    edge rows start[i]:start[i+1]. ``None`` entries own zero edges.

    Built once per refine group so the PIP over all (candidate, block) pairs
    runs as ONE vectorized pass — profiling (round 4) showed the per-block
    formulation spent ~65% of the refine kernel in fixed numpy call overhead
    (~15 tiny-array ops + an errstate context per ring at ~50 candidates per
    block), not in arithmetic."""
    xs0, ys0, xs1, ys1 = [], [], [], []
    start = np.zeros(len(geoms) + 1, dtype=np.int64)
    total = 0
    for i, geom in enumerate(geoms):
        if geom is not None:
            gtype, payload = geom
            if gtype == "Polygon":
                rings = payload
            elif gtype == "MultiPolygon":
                rings = [ring for part in payload for ring in part]
            else:
                raise ValueError(f"points_in_geoms expects polygons, got {gtype}")
            for ring in rings:
                ring = np.asarray(ring)
                if len(ring) >= 2:
                    xs0.append(ring[:-1, 0]); ys0.append(ring[:-1, 1])
                    xs1.append(ring[1:, 0]); ys1.append(ring[1:, 1])
                    total += len(ring) - 1
        start[i + 1] = total
    if total == 0:
        z = np.zeros(0, dtype=np.float64)
        return z, z, z, z, start
    return (np.concatenate(xs0), np.concatenate(ys0),
            np.concatenate(xs1), np.concatenate(ys1), start)


def points_in_geoms(px: np.ndarray, py: np.ndarray, gid: np.ndarray,
                    soup: tuple[np.ndarray, ...]) -> np.ndarray:
    """Vectorized PIP for many (point, geometry) pairs at once: row r tests
    point (px[r], py[r]) against geometry gid[r] of the edge soup.

    Even-odd parity over ALL rings of the geometry (exterior + holes +
    multipolygon parts in one count) — equivalent to the per-ring
    inside(ext) & ~inside(hole) composition for valid geometries (holes
    inside shells, disjoint parts), which blocks are by construction.
    The crossing test computes the exact same float64 expression per
    (point, edge) lane as :func:`points_in_ring`, restricted to straddling
    lanes — results are bit-identical to the per-ring kernel (verified on
    the frozen assignment dataset).
    """
    ex0, ey0, ex1, ey1, start = soup
    n = len(px)
    if n == 0:
        return np.zeros(0, dtype=bool)
    cnt = start[gid + 1] - start[gid]
    csum = np.cumsum(cnt)
    total = int(csum[-1])
    if total == 0:
        return np.zeros(n, dtype=bool)
    # one variable-count repeat + a gather (np.repeat with per-element counts
    # is the expensive primitive here — profiled r4)
    pair_row = np.repeat(np.arange(n, dtype=np.int64), cnt)
    base = start[gid] - (csum - cnt)  # per-row: edge_start - pair_offset
    pair_edge = np.arange(total, dtype=np.int64) + base[pair_row]
    y0 = ey0[pair_edge]
    y1 = ey1[pair_edge]
    ppy = py[pair_row]
    strad = (y0 > ppy) != (y1 > ppy)
    s = np.flatnonzero(strad)
    if len(s) == 0:
        return np.zeros(n, dtype=bool)
    pe = pair_edge[s]
    pr = pair_row[s]
    x0 = ex0[pe]
    dy = ey1[pe] - ey0[pe]
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x0 + (py[pr] - ey0[pe]) * (ex1[pe] - x0) / dy
    hits = px[pr] < xin
    crossings = np.bincount(pr[hits], minlength=n)
    return (crossings % 2).astype(bool)


def dp_simplify(coords: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on an open polyline (n, 2): keep endpoints, keep any
    vertex whose perpendicular distance to the current chord exceeds
    ``tol``. Iterative stack (no recursion-depth limit); returns the kept
    subset in original order — every dropped vertex is within ``tol`` of
    the simplified line by construction."""
    c = np.asarray(coords, np.float64)
    n = len(c)
    if n <= 2:
        return c.copy()
    keep = np.zeros(n, bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = c[i], c[j]
        seg = b - a
        pts = c[i + 1: j]
        L2 = float(seg @ seg)
        if L2 == 0.0:  # degenerate chord: plain distance to the point
            d = np.hypot(pts[:, 0] - a[0], pts[:, 1] - a[1])
        else:
            d = np.abs((pts[:, 0] - a[0]) * seg[1] - (pts[:, 1] - a[1]) * seg[0]) \
                / np.sqrt(L2)
        m = int(np.argmax(d))
        if d[m] > tol:
            k = i + 1 + m
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return c[keep]


def _simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray | None:
    """Closed ring: anchor at vertex 0 and the farthest vertex from it (a
    degenerate single chord would collapse everything), DP each half.
    Returns None when the ring simplifies below a valid triangle."""
    r = np.asarray(ring, np.float64)
    if len(r) < 4:
        return r.copy()
    body = r[:-1]
    d = np.hypot(body[:, 0] - body[0, 0], body[:, 1] - body[0, 1])
    m = int(np.argmax(d))
    if m == 0:  # all points coincide
        return None
    first = dp_simplify(np.vstack([body[: m + 1]]), tol)
    second = dp_simplify(np.vstack([body[m:], body[:1]]), tol)
    out = np.vstack([first, second[1:]])
    if len(out) < 4:
        return None
    return out


def simplify_geom(geom, tol: float):
    """DP-simplify the tuple geometry model (non-topology-preserving, the
    GEOS ``simplify`` shape): points unchanged; linestrings keep their
    endpoints; polygon shells that collapse below a triangle yield None
    (caller drops the part), collapsed holes are silently removed."""
    gtype, payload = geom
    if gtype == "Point":
        return geom
    if gtype == "LineString":
        return (gtype, dp_simplify(np.asarray(payload), tol))
    if gtype == "Polygon":
        shell = _simplify_ring(np.asarray(payload[0]), tol)
        if shell is None:
            return None
        rings = [shell]
        for hole in payload[1:]:
            hr = _simplify_ring(np.asarray(hole), tol)
            if hr is not None:
                rings.append(hr)
        return (gtype, rings)
    if gtype == "GeometryCollection":
        kept = [g for g in (simplify_geom(ch, tol) for ch in payload) if g is not None]
        return (gtype, kept) if kept else None
    # Multi*
    child = gtype[5:]
    kept = []
    for p in payload:
        g = simplify_geom((child, p), tol)
        if g is not None:
            kept.append(g[1])
    return (gtype, kept) if kept or child == "Point" else None
