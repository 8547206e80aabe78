"""Metric area + CRS transform kernels.

Reproduces the reference's ``.to_crs(3395).area`` idiom
(``/root/reference/src/geopull/blocker.py:100``, ``:180-182``, ``:216-219``,
``normalizer.py:88``): EPSG:3395 (WGS84 ellipsoidal Mercator) forward
projection followed by planar shoelace area. All math is closed-form numpy.
"""

from __future__ import annotations

import numpy as np

from . import wkb

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_E = np.sqrt(_F * (2 - _F))


def mercator_3395(coords: np.ndarray) -> np.ndarray:
    """EPSG:4326 lon/lat (deg) → EPSG:3395 x/y (m). coords shape (n, 2)."""
    lon = np.radians(coords[:, 0])
    lat = np.radians(np.clip(coords[:, 1], -89.99999, 89.99999))
    x = _A * lon
    esin = _E * np.sin(lat)
    y = _A * np.log(np.tan(np.pi / 4 + lat / 2) * ((1 - esin) / (1 + esin)) ** (_E / 2))
    return np.column_stack([x, y])


def inverse_mercator_3395(coords: np.ndarray, iters: int = 8) -> np.ndarray:
    """EPSG:3395 x/y (m) → lon/lat (deg), iterative latitude recovery."""
    lon = np.degrees(coords[:, 0] / _A)
    t = np.exp(-coords[:, 1] / _A)
    phi = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(iters):
        esin = _E * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(t * ((1 - esin) / (1 + esin)) ** (_E / 2))
    return np.column_stack([lon, np.degrees(phi)])


def ring_signed_area(ring: np.ndarray) -> float:
    """Planar shoelace signed area; CCW positive."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(rings: list[np.ndarray]) -> float:
    """|exterior| − Σ|holes| on the given coordinates (planar)."""
    if not rings:
        return 0.0
    total = abs(ring_signed_area(rings[0]))
    for hole in rings[1:]:
        total -= abs(ring_signed_area(hole))
    return total


def geom_area_m2(geom) -> float:
    """Metric (EPSG:3395) area of a Polygon/MultiPolygon tuple geometry."""
    if geom is None:
        return 0.0
    gtype, payload = geom
    if gtype == "Polygon":
        return polygon_area([mercator_3395(r) for r in payload])
    if gtype == "MultiPolygon":
        return sum(polygon_area([mercator_3395(r) for r in rings]) for rings in payload)
    if gtype == "GeometryCollection":
        return sum(geom_area_m2(child) for child in payload)
    return 0.0


# np.sum's order for float64: numpy's reduction hands the inner loop at most
# np.getbufsize() elements at a time and sums each chunk pairwise (8
# accumulators up to _PW_BLOCK elements, halved recursively above). The
# batched sums below reproduce that order, so a batch gives the same bits
# as per-ring np.sum.
_PW_BLOCK = 128


def _pairwise_block_sums(t: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """numpy pairwise_sum of ``t[starts[i]:starts[i]+lens[i]]`` for
    ``lens <= _PW_BLOCK``: 8 lane sums over the multiple-of-8 head, a fixed
    tree over the lanes, then the tail added in order."""
    head = lens - lens % 8
    lanes = np.zeros((len(starts), 8))
    k8 = np.arange(8)
    rows = np.flatnonzero(head > 0)
    lanes[rows] = t[starts[rows, None] + k8]
    for k in range(8, int(head.max(initial=0)), 8):
        rows = np.flatnonzero(head > k)
        lanes[rows] += t[starts[rows, None] + k + k8]
    res = ((lanes[:, 0] + lanes[:, 1]) + (lanes[:, 2] + lanes[:, 3])) + (
        (lanes[:, 4] + lanes[:, 5]) + (lanes[:, 6] + lanes[:, 7]))
    for i in range(7):
        rows = np.flatnonzero(lens - head > i)
        res[rows] += t[starts[rows] + head[rows] + i]
    return res


def _pairwise_sums(t: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    out = np.empty(len(starts))
    big = lens > _PW_BLOCK
    small = ~big
    out[small] = _pairwise_block_sums(t, starts[small], lens[small])
    if big.any():
        s, n = starts[big], lens[big]
        half = n // 2
        half -= half % 8
        out[big] = _pairwise_sums(t, s, half) + _pairwise_sums(t, s + half, n - half)
    return out


def segment_sums(t: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``np.sum(t[starts[i]:starts[i] + lens[i]])`` for every i, bit for
    bit, in a number of numpy calls that does not grow with i."""
    buf = np.getbufsize()
    chunks = -(-lens // buf)
    out = np.zeros(len(starts))
    for c in range(int(chunks.max(initial=0))):
        rows = np.flatnonzero(chunks > c)
        n = np.minimum(lens[rows] - c * buf, buf)
        out[rows] += _pairwise_sums(t, starts[rows] + c * buf, n)
    return out


def ring_signed_areas(coords: np.ndarray, ring_offsets: np.ndarray) -> np.ndarray:
    """``ring_signed_area`` of every ring of a flat coordinate array."""
    n = len(coords)
    if n < 2:
        return np.zeros(len(ring_offsets) - 1)
    x, y = coords[:, 0], coords[:, 1]
    t = x[:-1] * y[1:] - x[1:] * y[:-1]  # term k pairs vertex k with k + 1
    # ring r sums terms ring_offsets[r] .. ring_offsets[r+1] - 2
    lens = np.maximum(np.diff(ring_offsets) - 1, 0)
    return 0.5 * segment_sums(t, ring_offsets[:-1], lens)


def batch_area_m2(batch: wkb.GeomBatch) -> np.ndarray:
    """``geom_area_m2`` of every geometry of a flat batch, bit for bit: one
    projection of all coordinates, batched shoelace sums, and the
    exterior-minus-holes and per-part sums in ``geom_area_m2``'s order."""
    types, goff, ptypes, poff, roff, coords = batch
    ring_a = np.abs(ring_signed_areas(mercator_3395(coords), roff))
    n_rings = np.diff(poff)
    part_a = np.zeros(len(ptypes))
    poly = ptypes == 3
    simple = np.flatnonzero(poly & (n_rings == 1))
    part_a[simple] = ring_a[poff[simple]]
    for p in np.flatnonzero(poly & (n_rings > 1)):
        total = ring_a[poff[p]]
        for r in range(poff[p] + 1, poff[p + 1]):
            total -= ring_a[r]
        part_a[p] = total
    out = np.zeros(len(types))
    single = np.flatnonzero(types == 3)
    out[single] = part_a[goff[single]]
    for g in np.flatnonzero((types == 6) | (types == 7)):
        out[g] = sum(part_a[goff[g]:goff[g + 1]].tolist())
    return out


def wkb_area_m2(buf: bytes) -> float:
    return geom_area_m2(wkb.loads(buf)) if buf is not None else 0.0
