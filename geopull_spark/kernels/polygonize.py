"""Noding + planar-graph face extraction (polygonize) — the engine's core.

Reproduces ``shapely.polygonize`` as used by the reference to cut street
blocks out of the land enclosure (``/root/reference/src/geopull/blocker.py:
258-279``): node all segments (pairwise intersection + T-junction splitting on
a snap grid), build the planar graph, extract minimal rings by
angular-successor walking, drop dangles and the unbounded face, assign CW
rings as holes of their smallest containing face.

All coordinates are quantized to an integer snap grid (1e-9 deg) so vertex
identity is exact; intersection points are computed in float64 then snapped.
Runs inside ``applyInPandas`` groups keyed by region (matching the
reference's per-country polygonize semantics, ``orchestrator.py:87-91``).

Noding works on whole arrays, not per grid cell or per split point:
candidate pairs come from sorting segments by grid cell and building every
within-cell pair with one repeat/cumsum index construction, and split
points are collected as (segment, point) rows, ordered along each segment
with ``np.lexsort`` and chained in one pass. The face walk stays a Python
loop; the signed areas that classify its rings are one batched sum.
"""

from __future__ import annotations

import numpy as np

from . import wkb
from .area import ring_signed_areas

SNAP = 1e-9
_Q = 1.0 / SNAP


def _quant(a: np.ndarray) -> np.ndarray:
    return np.round(np.asarray(a, dtype=np.float64) * _Q).astype(np.int64)


def _dequant(q: np.ndarray) -> np.ndarray:
    return q.astype(np.float64) * SNAP


def geoms_to_segments(geoms) -> np.ndarray:
    """Explode tuple geometries into a (n, 4) float array of 2-pt segments.

    Accepts LineString / MultiLineString / Polygon / MultiPolygon (rings
    become segments — reference F7 ``shapely.boundary`` at blocker.py:113).
    """
    segs = []

    def add_path(coords: np.ndarray) -> None:
        if len(coords) >= 2:
            segs.append(np.column_stack([coords[:-1], coords[1:]]))

    def walk(geom) -> None:
        if geom is None:
            return
        gtype, payload = geom
        if gtype == "LineString":
            add_path(np.asarray(payload))
        elif gtype == "Polygon":
            for ring in payload:
                add_path(np.asarray(ring))
        elif gtype == "MultiLineString":
            for ls in payload:
                add_path(np.asarray(ls))
        elif gtype == "MultiPolygon":
            for rings in payload:
                for ring in rings:
                    add_path(np.asarray(ring))
        elif gtype == "GeometryCollection":
            for child in payload:
                walk(child)
        # points contribute no segments

    for g in geoms:
        walk(g)
    if not segs:
        return np.zeros((0, 4), dtype=np.float64)
    return np.vstack(segs)


def batch_segments(batch: wkb.GeomBatch) -> np.ndarray:
    """``geoms_to_segments`` over a flat batch: every pair of consecutive
    coordinates within a ring, in batch order (Point parts add none)."""
    c = batch.coords
    if len(c) < 2:
        return np.zeros((0, 4), dtype=np.float64)
    ok = np.ones(len(c) - 1, dtype=bool)
    cut = batch.ring_offsets[1:-1] - 1  # a ring's last vertex starts no segment
    ok[cut[(cut >= 0) & (cut < len(ok))]] = False
    return np.column_stack([c[:-1][ok], c[1:][ok]])


def _pack_points(pts: np.ndarray) -> np.ndarray | None:
    """(n,2) int64 → 1-D int64 keys preserving lexicographic order, or None
    when the local span exceeds 32 bits per axis (fall back to row unique).

    ``np.unique(axis=0)`` sorts rows as opaque byte-voids — measured ~10×
    slower than a 1-D int64 sort, and unique/sort dominates the polygonize
    kernel (VERDICT r1 item 7: halve the memory traffic of the bandwidth-
    bound kernel; packing local-offset coords into one word does exactly
    that). Keys compare like (x, y) because x occupies the high 32 bits."""
    if len(pts) == 0:
        return None
    mins = pts.min(axis=0)
    span = pts.max(axis=0) - mins
    if span[0] >= (1 << 31) or span[1] >= (1 << 31):
        return None
    return ((pts[:, 0] - mins[0]) << 32) | (pts[:, 1] - mins[1])


def unique_points(pts: np.ndarray, return_inverse: bool = False,
                  return_counts: bool = False):
    """Lexicographic row-unique of (n,2) int64 points via packed 1-D keys
    (identical result/order to ``np.unique(pts, axis=0)``)."""
    keys = _pack_points(pts)
    if keys is None:
        return np.unique(pts, axis=0, return_inverse=return_inverse,
                         return_counts=return_counts)
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    keep = np.empty(len(ks), dtype=bool)
    keep[0] = True
    keep[1:] = ks[1:] != ks[:-1]
    uniq_idx = order[keep]
    out = [pts[uniq_idx]]
    if return_inverse:
        out.append(np.searchsorted(ks[keep], keys))
    if return_counts:
        starts = np.flatnonzero(keep)
        out.append(np.diff(np.append(starts, len(order))))
    return out[0] if len(out) == 1 else tuple(out)


def _unique_rows4(q: np.ndarray, return_counts: bool = False):
    """Lexicographic row-unique of (n,4) int64 segments via two packed keys
    + lexsort (same result/order as ``np.unique(q, axis=0)``)."""
    k1 = _pack_points(q[:, 0:2])
    k2 = _pack_points(q[:, 2:4])
    if k1 is None or k2 is None:
        return np.unique(q, axis=0, return_counts=return_counts)
    order = np.lexsort((k2, k1))
    k1s, k2s = k1[order], k2[order]
    keep = np.empty(len(order), dtype=bool)
    keep[0] = True
    keep[1:] = (k1s[1:] != k1s[:-1]) | (k2s[1:] != k2s[:-1])
    uniq = q[order[keep]]
    if return_counts:
        starts = np.flatnonzero(keep)
        counts = np.diff(np.append(starts, len(order)))
        return uniq, counts
    return uniq


def _dedupe_segments(q: np.ndarray) -> np.ndarray:
    """Drop zero-length + duplicate segments (undirected) in quantized space."""
    nonzero = (q[:, 0] != q[:, 2]) | (q[:, 1] != q[:, 3])
    q = q[nonzero]
    if len(q) == 0:
        return q
    # canonical order: lexicographically smaller endpoint first
    flip = (q[:, 0] > q[:, 2]) | ((q[:, 0] == q[:, 2]) & (q[:, 1] > q[:, 3]))
    canon = q.copy()
    canon[flip] = q[flip][:, [2, 3, 0, 1]]
    return _unique_rows4(canon)


def _candidate_pairs(q: np.ndarray, max_pairs: int = 50_000_000) -> np.ndarray:
    """Grid-binned candidate pairs (i, j) with i < j, bbox-overlapping."""
    n = len(q)
    if n < 2:
        return np.zeros((0, 2), dtype=np.int64)
    minx = np.minimum(q[:, 0], q[:, 2])
    maxx = np.maximum(q[:, 0], q[:, 2])
    miny = np.minimum(q[:, 1], q[:, 3])
    maxy = np.maximum(q[:, 1], q[:, 3])
    span = max(int((maxx - minx).mean() + (maxy - miny).mean()) + 1, 1)
    gminx, gmaxx = minx.min(), maxx.max()
    gminy, gmaxy = miny.min(), maxy.max()
    # bin size ~ 2× mean segment extent, at least 1 quantum
    cell = max(span * 2, 1)
    nx = int((gmaxx - gminx) // cell) + 1
    ny = int((gmaxy - gminy) // cell) + 1
    # cap grid so tiny segments in a huge extent don't explode bins per seg
    while nx * ny > 4 * n + 16:
        cell *= 2
        nx = int((gmaxx - gminx) // cell) + 1
        ny = int((gmaxy - gminy) // cell) + 1
    bx0 = ((minx - gminx) // cell).astype(np.int64)
    bx1 = ((maxx - gminx) // cell).astype(np.int64)
    by0 = ((miny - gminy) // cell).astype(np.int64)
    by1 = ((maxy - gminy) // cell).astype(np.int64)
    # vectorized bin enumeration: k-th covered bin of segment i is
    # (bx0+k%w, by0+k//w) — no per-segment python loop
    w = bx1 - bx0 + 1
    h = by1 - by0 + 1
    counts_per_seg = w * h
    total_bins = int(counts_per_seg.sum())
    seg_ids = np.repeat(np.arange(n, dtype=np.int64), counts_per_seg)
    offsets = np.concatenate([[0], np.cumsum(counts_per_seg)[:-1]])
    k = np.arange(total_bins, dtype=np.int64) - np.repeat(offsets, counts_per_seg)
    wr = np.repeat(w, counts_per_seg)
    bin_ids = (np.repeat(bx0, counts_per_seg) + k % wr) * ny + (
        np.repeat(by0, counts_per_seg) + k // wr
    )
    # stable sort keeps each bin's segment ids ascending, so every
    # within-bin pair (position a < position b) already has i < j
    order = np.argsort(bin_ids, kind="stable")
    seg_ids, bin_ids = seg_ids[order], bin_ids[order]
    starts = np.flatnonzero(np.diff(bin_ids, prepend=bin_ids[0] - 1))
    counts = np.diff(np.append(starts, len(bin_ids)))
    if int((counts * (counts - 1) // 2).sum()) > max_pairs:
        raise MemoryError("noding candidate pairs exceed cap")
    # element at position a of a bin of c pairs with the c-1-a after it
    pos = np.arange(len(seg_ids)) - np.repeat(starts, counts)
    partners = np.repeat(counts, counts) - 1 - pos
    if partners.sum() == 0:
        return np.zeros((0, 2), dtype=np.int64)
    src = np.repeat(np.arange(len(seg_ids)), partners)
    first = np.cumsum(partners) - partners
    dst = src + 1 + np.arange(len(src)) - np.repeat(first, partners)
    i, j = seg_ids[src], seg_ids[dst]
    # keep a pair only in the first cell both segments cover (so it is
    # emitted once) and only if the bboxes overlap; then sort (i, j)
    b = bin_ids[src]
    ok = (
        (b // ny == np.maximum(bx0[i], bx0[j])) & (b % ny == np.maximum(by0[i], by0[j]))
        & (minx[i] <= maxx[j]) & (maxx[i] >= minx[j])
        & (miny[i] <= maxy[j]) & (maxy[i] >= miny[j])
    )
    pairs = np.column_stack([i[ok], j[ok]])
    keys = _pack_points(pairs)
    if keys is None:
        return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]
    return pairs[np.argsort(keys, kind="stable")]


def node_segments(segments: np.ndarray, max_rounds: int = 3) -> np.ndarray:
    """Fully node a segment soup: output quantized (n,4) int64 segments where
    segments meet only at shared endpoints."""
    q = _quant(segments.reshape(-1, 2)).reshape(-1, 4)
    q = _dedupe_segments(q)
    for _ in range(max_rounds):
        q, changed = _node_round(q)
        if not changed:
            break
    return q


def _node_round(q: np.ndarray) -> tuple[np.ndarray, bool]:
    n = len(q)
    if n < 2:
        return q, False
    pairs = _candidate_pairs(q)
    if len(pairs) == 0:
        return q, False
    f = q.astype(np.float64)
    i, j = pairs[:, 0], pairs[:, 1]
    fi, fj = f[i], f[j]
    p = fi[:, 0:2]
    r = fi[:, 2:4] - p
    s0 = fj[:, 0:2]
    s = fj[:, 2:4] - s0
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = s0 - p
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / denom
        u = (qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]) / denom
    eps = 1e-12
    proper = (np.abs(denom) > eps) & (t > eps) & (t < 1 - eps) & (u > eps) & (u < 1 - eps)

    # split points as (segment, x, y) rows
    seg_parts, pt_parts = [], []
    if proper.any():
        ip = p[proper] + t[proper, None] * r[proper]
        ipq = np.round(ip).astype(np.int64)
        seg_parts += [i[proper], j[proper]]
        pt_parts += [ipq, ipq]

    # T-junctions: endpoint of one segment interior to the other
    for (src, f_src, dst, f_dst) in ((j, fj, i, fi), (i, fi, j, fj)):
        a = f_dst[:, 0:2]
        ab = f_dst[:, 2:4] - a
        ab_len2 = np.einsum("ij,ij->i", ab, ab)
        near = 0.75 * np.sqrt(ab_len2)
        div = np.maximum(ab_len2, 1)
        for end in (0, 2):
            ap = f_src[:, end : end + 2] - a
            cross = ab[:, 0] * ap[:, 1] - ab[:, 1] * ap[:, 0]
            tt = np.einsum("ij,ij->i", ap, ab) / div
            # within 0.75 quantum of the carrier line, strictly interior
            on = (np.abs(cross) <= near) & (tt > eps) & (tt < 1 - eps)
            if on.any():
                seg_parts.append(dst[on])
                pt_parts.append(q[src[on], end : end + 2])

    if not seg_parts:
        return q, False
    seg = np.concatenate(seg_parts)
    pts = np.concatenate(pt_parts)
    # distinct points per segment, then ordered along it (ties in the
    # projection keep (x, y) order)
    o = np.lexsort((pts[:, 1], pts[:, 0], seg))
    seg, pts = seg[o], pts[o]
    new = np.ones(len(seg), dtype=bool)
    new[1:] = (seg[1:] != seg[:-1]) | np.any(pts[1:] != pts[:-1], axis=1)
    seg, pts = seg[new], pts[new]
    a = q[seg, 0:2]
    d = (q[seg, 2:4] - a).astype(np.float64)
    tv = ((pts - a) * d).sum(axis=1) / np.maximum((d * d).sum(axis=1), 1.0)
    o = np.lexsort((tv, seg))
    seg, pts = seg[o], pts[o]
    # chain a → p1 → … → pk → b per split segment
    first = np.ones(len(seg), dtype=bool)
    first[1:] = seg[1:] != seg[:-1]
    last = np.ones(len(seg), dtype=bool)
    last[:-1] = first[1:]
    prev = np.empty_like(pts)
    prev[1:] = pts[:-1]
    prev[first] = q[seg[first], 0:2]
    tail = np.column_stack([pts[last], q[seg[last], 2:4]])
    keep = np.ones(n, dtype=bool)
    keep[seg] = False
    q = np.vstack([q[keep], np.column_stack([prev, pts]), tail])
    return _dedupe_segments(q), True


def _prune_dangles(edges: np.ndarray) -> np.ndarray:
    """Iteratively drop edges with a degree-1 endpoint (shapely's polygonize
    ignores dangles)."""
    while len(edges):
        pts = np.vstack([edges[:, 0:2], edges[:, 2:4]])
        uniq, inv, counts = unique_points(pts, return_inverse=True, return_counts=True)
        deg = counts
        e_u = inv[: len(edges)]
        e_v = inv[len(edges) :]
        dangling = (deg[e_u] == 1) | (deg[e_v] == 1)
        if not dangling.any():
            break
        edges = edges[~dangling]
    return edges


def _strict_pip_int(px: int, py: int, ring_q: np.ndarray) -> int:
    """Exact integer PIP on quantized coords: 1 inside, 0 on boundary,
    -1 outside. Used only for hole-to-face assignment (few rings)."""
    inside = False
    n = len(ring_q) - 1
    for k in range(n):
        x0, y0 = int(ring_q[k, 0]), int(ring_q[k, 1])
        x1, y1 = int(ring_q[k + 1, 0]), int(ring_q[k + 1, 1])
        # on-boundary check (collinear + within bbox)
        if (x1 - x0) * (py - y0) == (y1 - y0) * (px - x0):
            if min(x0, x1) <= px <= max(x0, x1) and min(y0, y1) <= py <= max(y0, y1):
                return 0
        if (y0 > py) != (y1 > py):
            # px < x-intersection  ⇔  (px-x0)*(y1-y0) < (py-y0)*(x1-x0), sign-adjusted
            lhs = (px - x0) * (y1 - y0)
            rhs = (py - y0) * (x1 - x0)
            if (lhs < rhs) if (y1 > y0) else (lhs > rhs):
                inside = not inside
    return 1 if inside else -1


def _ring_strictly_contained(ring_q: np.ndarray, ext_q: np.ndarray) -> bool:
    """True iff some vertex of ring_q is strictly inside ext_q and none is
    strictly outside (all-on-boundary ⇒ ring IS the reversed face boundary)."""
    saw_inside = False
    for k in range(len(ring_q) - 1):
        r = _strict_pip_int(int(ring_q[k, 0]), int(ring_q[k, 1]), ext_q)
        if r == -1:
            return False
        if r == 1:
            saw_inside = True
    return saw_inside


def extract_faces(noded_q: np.ndarray) -> list[list[np.ndarray]]:
    """Planar faces from fully-noded quantized segments.

    Returns a list of polygons, each a list of float rings
    [exterior_ccw, hole_cw, ...].
    """
    edges = _prune_dangles(noded_q)
    if len(edges) == 0:
        return []
    pts = np.vstack([edges[:, 0:2], edges[:, 2:4]])
    verts, inv = unique_points(pts, return_inverse=True)
    e_u = inv[: len(edges)].astype(np.int64)
    e_v = inv[len(edges) :].astype(np.int64)
    vf = _dequant(verts)

    # directed edges: 2 per undirected edge
    du = np.concatenate([e_u, e_v])
    dv = np.concatenate([e_v, e_u])
    m = len(du)
    twin = np.concatenate([np.arange(m // 2) + m // 2, np.arange(m // 2)])
    ang = np.arctan2(vf[dv, 1] - vf[du, 1], vf[dv, 0] - vf[du, 0])

    # per-vertex CCW-sorted outgoing edges + each edge's rank at its origin
    order = np.lexsort((ang, du))
    du_s = du[order]
    starts = np.searchsorted(du_s, np.arange(len(verts)))
    counts = np.append(starts[1:], m) - starts
    rank = np.empty(m, dtype=np.int64)
    rank[order] = np.arange(m) - starts[du_s]
    sorted_ids = order  # directed-edge ids in (vertex, angle) order

    # next half-edge of d: at head(d)=v, take twin's CCW-previous outgoing
    # (rotate clockwise from the reversed edge) → faces wound CW have
    # negative shoelace; bounded faces come out CCW with this convention's
    # mirror. We use: next = predecessor of twin in CCW order at v.
    v_of = dv
    nxt = sorted_ids[starts[v_of] + (rank[twin] - 1) % counts[v_of]]

    visited = np.zeros(m, dtype=bool)
    rings: list[np.ndarray] = []  # vertex-id arrays (closed)
    for d0 in range(m):
        if visited[d0]:
            continue
        ring_vids = []
        d = d0
        while not visited[d]:
            visited[d] = True
            ring_vids.append(du[d])
            d = nxt[d]
        ring_vids.append(ring_vids[0])
        rings.append(np.asarray(ring_vids, dtype=np.int64))
    offsets = np.zeros(len(rings) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rings], out=offsets[1:])
    areas = ring_signed_areas(vf[np.concatenate(rings)], offsets)
    ccw = np.flatnonzero(areas > 0)
    rings_ccw = [rings[k] for k in ccw]
    rings_cw = [rings[k] for k in np.flatnonzero(areas < 0)]

    # assign each CW ring as hole of the smallest strictly-containing CCW
    # face (exact integer test; unbounded-face rings match no face → dropped)
    faces: list[list[np.ndarray]] = [[vf[vids]] for vids in rings_ccw]
    if rings_cw and rings_ccw:
        order = np.argsort(areas[ccw])  # try smallest faces first
        for hole_vids in rings_cw:
            hole_q = verts[hole_vids]
            for fi in order:
                if _ring_strictly_contained(hole_q, verts[rings_ccw[fi]]):
                    faces[fi].append(vf[hole_vids])
                    break
    return faces


def polygonize_geoms(geoms) -> list:
    """Full pipeline: tuple geometries → noded → faces → Polygon tuples."""
    segs = geoms_to_segments(geoms)
    if len(segs) == 0:
        return []
    noded = node_segments(segs)
    faces = extract_faces(noded)
    return [("Polygon", rings) for rings in faces]


def polygonize_wkb(bufs) -> list[bytes]:
    polys = polygonize_geoms([wkb.loads(b) for b in bufs if b is not None])
    return [wkb.dumps(p) for p in polys]


def line_merge(segments: np.ndarray) -> list[np.ndarray]:
    """Stitch touching segments through degree-2 vertices (reference F8,
    ``shapely.line_merge`` at blocker.py:114)."""
    q = _quant(segments.reshape(-1, 2)).reshape(-1, 4)
    q = _dedupe_segments(q)
    if len(q) == 0:
        return []
    pts = np.vstack([q[:, 0:2], q[:, 2:4]])
    verts, inv = unique_points(pts, return_inverse=True)
    n_edges = len(q)
    e_u, e_v = inv[:n_edges], inv[n_edges:]
    adj: dict[int, list[tuple[int, int]]] = {}
    for e in range(n_edges):
        adj.setdefault(int(e_u[e]), []).append((e, int(e_v[e])))
        adj.setdefault(int(e_v[e]), []).append((e, int(e_u[e])))
    used = np.zeros(n_edges, dtype=bool)
    out = []
    # start chains at non-degree-2 vertices first, then cycles
    start_verts = [v for v, nb in adj.items() if len(nb) != 2]
    for seed_set in (start_verts, list(adj.keys())):
        for v0 in seed_set:
            for e0, w0 in adj[v0]:
                if used[e0]:
                    continue
                chain = [v0, w0]
                used[e0] = True
                cur = w0
                while len(adj[cur]) == 2:
                    (ea, wa), (eb, wb) = adj[cur]
                    if not used[ea]:
                        e_next, w_next = ea, wa
                    elif not used[eb]:
                        e_next, w_next = eb, wb
                    else:
                        break
                    used[e_next] = True
                    chain.append(w_next)
                    cur = w_next
                out.append(_dequant(verts[np.asarray(chain)]))
    return out
