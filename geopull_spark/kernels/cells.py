"""Spatial indexing kernels: geohash encode + quadtree cell grid.

Geohash reproduces the reference's block-ID scheme exactly
(``/root/reference/src/geopull/blocker.py:308-310`` — ``pgh.encode(y, x,
precision=12)``): standard Niemeyer geohash, lon bit first, base32 alphabet.
Implemented as vectorized numpy bit-interleaving (the iterative bisection of
the textbook algorithm is equivalent to reading the bits of
``floor(frac * 2**nbits)`` MSB-first).

The cell grid is an S2-style **equal-area** quadtree: Morton / Z-order
interleave of quantized (lon, sin lat) packed into an int64:

    cell = (res << 58) | morton(lon_bits, sinlat_bits)     res in [0, 28]

Quantizing sin(lat) instead of lat is the Lambert cylindrical equal-area
projection: the spherical zone between two latitudes has area proportional to
Δsin(lat), so every cell at a given resolution has EXACTLY the same ground
area (max/min ratio 1.0 at any latitude — vs ~cos(lat) shrinkage for the
equirectangular grid this replaces; VERDICT r1 item 5). Shape distorts toward
the poles (cells get wide and flat in degree terms) but occupancy skew from
area variation is eliminated, which is what matters for the cell-key joins.

It powers every spatial join in the engine (SURVEY.md J1-J9): cover a
geometry's bbox with cells at a resolution, equi-join on the cell key, then
refine with the exact predicate. True icosahedral H3 is not implementable in
this offline sandbox; the BASELINE.json north_star explicitly allows the
S2-style fallback, and the API (cover / parent / k_ring) is kept
H3-shaped so a real H3 kernel can be swapped in.

JVM parity: ``functions/cellexpr.py`` implements the same mapping as Catalyst
column expressions (the hot doc/cover path never leaves the JVM); this numpy
version is the kernel-side mirror (kNN, zonal, tests).
"""

from __future__ import annotations

import numpy as np

_BASE32 = np.frombuffer(b"0123456789bcdefghjkmnpqrstuvwxyz", dtype=np.uint8)

# ---------------------------------------------------------------------------
# geohash
# ---------------------------------------------------------------------------


def _spread_bits32(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v so bit i moves to bit 2i (Morton)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def geohash_encode(lat: np.ndarray, lon: np.ndarray, precision: int = 12) -> np.ndarray:
    """Vectorized geohash. Returns an object array of python strings.

    Matches ``pygeohash.encode(lat, lon, precision)`` bit-for-bit: total
    bits = 5*precision, alternating lon (even positions, MSB first) / lat.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    # bisection bit k (MSB-first) of fraction f == bit (n-1-k) of floor(f*2^n)
    fl = np.clip((lon + 180.0) / 360.0, 0.0, np.nextafter(1.0, 0.0))
    fa = np.clip((lat + 90.0) / 180.0, 0.0, np.nextafter(1.0, 0.0))
    qlon = np.floor(fl * (1 << nlon)).astype(np.uint64)
    qlat = np.floor(fa * (1 << nlat)).astype(np.uint64)
    # interleave MSB-first lon,lat,lon,...: for even totals the LSB is a lat
    # bit (lon at odd positions); for odd totals the LSB is a lon bit.
    if nlon > nlat:  # odd total
        inter = _spread_bits32(qlon) | (_spread_bits32(qlat) << np.uint64(1))
    else:
        inter = (_spread_bits32(qlon) << np.uint64(1)) | _spread_bits32(qlat)
    # emit base32, 5 bits per char, MSB first
    out = np.empty((lat.size, precision), dtype=np.uint8)
    for i in range(precision):
        shift = np.uint64(5 * (precision - 1 - i))
        out[:, i] = _BASE32[((inter >> shift) & np.uint64(31)).astype(np.int64)]
    return np.array([row.tobytes().decode("ascii") for row in out], dtype=object)


# ---------------------------------------------------------------------------
# quadtree cell grid (S2-style Morton cells)
# ---------------------------------------------------------------------------

MAX_RES = 28
_FRACMAX = np.nextafter(1.0, 0.0)  # == 1 - 2**-53, mirrored in cellexpr.py


def lat_fraction(lat: np.ndarray) -> np.ndarray:
    """Equal-area y fraction of a latitude: (sin(lat)+1)/2 ∈ [0, 1)."""
    return np.clip((np.sin(np.radians(np.asarray(lat, dtype=np.float64))) + 1.0) / 2.0,
                   0.0, _FRACMAX)


def lon_fraction(lon: np.ndarray) -> np.ndarray:
    return np.clip((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0, 0.0, _FRACMAX)


def fraction_to_lat(fy: np.ndarray) -> np.ndarray:
    """Inverse of lat_fraction (degrees)."""
    return np.degrees(np.arcsin(np.clip(2.0 * np.asarray(fy, dtype=np.float64) - 1.0, -1.0, 1.0)))


def cell_id(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """int64 cell id containing each point at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = 1 << res
    ix = np.floor(lon_fraction(lon) * n).astype(np.uint64)
    iy = np.floor(lat_fraction(lat) * n).astype(np.uint64)
    return _pack(ix, iy, res)


def _pack(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    morton = (_spread_bits32(ix) << np.uint64(1)) | _spread_bits32(iy)
    packed = (np.uint64(res) << np.uint64(58)) | morton
    return packed.astype(np.int64)


def cell_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Invert _pack → (ix, iy, res)."""
    cell = np.asarray(cell).astype(np.uint64)
    res = (cell >> np.uint64(58)).astype(np.int64)
    morton = cell & np.uint64((1 << 58) - 1)
    ix = _compact_bits(morton >> np.uint64(1))
    iy = _compact_bits(morton)
    return ix.astype(np.int64), iy.astype(np.int64), res


def _compact_bits(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    ix, iy, res = cell_xy(cell)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return _pack((ix >> shift).astype(np.uint64), (iy >> shift).astype(np.uint64), parent_res)


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int,
               cap: int = 4096) -> np.ndarray:
    """All cells at ``res`` whose tile intersects the bbox (inclusive).

    ``minx > maxx`` means the bbox crosses the antimeridian: the lon range
    wraps, covering [minx, 180) ∪ [-180, maxx] (mirrored in the JVM cover,
    ``cellexpr.with_cover_cells``). ``cap`` guards against degenerate huge
    covers (caller should pick res by geometry size).
    """
    n = 1 << res
    fx0 = lon_fraction(np.asarray(minx))
    fx1 = lon_fraction(np.asarray(maxx))
    fy0 = lat_fraction(np.asarray(miny))  # monotonic → bounds map to bounds
    fy1 = lat_fraction(np.asarray(maxy))
    ix0, ix1 = int(fx0 * n), int(fx1 * n)
    iy0, iy1 = int(fy0 * n), int(fy1 * n)
    # Wrap is a property of the RAW lon range (minx > maxx), not the quantized
    # indices: a wrapped span wider than 360° minus one tile can land ix0<=ix1
    # and must still cover the full x ring (ADVICE r2).
    if fx0 <= fx1:
        ix = np.arange(ix0, ix1 + 1, dtype=np.uint64)
    elif ix0 > ix1:  # antimeridian wrap, disjoint index ranges
        ix = np.concatenate([
            np.arange(ix0, n, dtype=np.uint64), np.arange(0, ix1 + 1, dtype=np.uint64)
        ])
    else:  # wrapped AND index ranges touch/overlap → every x column
        ix = np.arange(0, n, dtype=np.uint64)
    count = len(ix) * (iy1 - iy0 + 1)
    if count > cap:
        raise ValueError(f"bbox cover of {count} cells exceeds cap {cap}; lower res")
    iy = np.arange(iy0, iy1 + 1, dtype=np.uint64)
    gx, gy = np.meshgrid(ix, iy, indexing="ij")
    return _pack(gx.ravel(), gy.ravel(), res)


def k_ring(cell: np.ndarray, k: int = 1) -> np.ndarray:
    """Cells within Chebyshev distance k (incl. self). Shape (n, (2k+1)^2).

    Powers the kNN adjacency join (SURVEY.md J8): explode k_ring on one side,
    equi-join on cell, refine by exact distance.
    """
    ix, iy, res = cell_xy(cell)
    n = (1 << res).astype(np.int64)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    nx = ix[:, None] + dx.ravel()[None, :]
    ny = iy[:, None] + dy.ravel()[None, :]
    nx = np.mod(nx, n[:, None])  # wrap longitude
    ny = np.clip(ny, 0, (n[:, None] - 1))  # clamp latitude
    res_b = np.broadcast_to(res[:, None], nx.shape)
    flat = _pack(nx.ravel().astype(np.uint64), ny.ravel().astype(np.uint64), 0)
    # _pack above wrote res=0; rewrite with real per-cell res
    flat = (flat.astype(np.uint64) & np.uint64((1 << 58) - 1)) | (
        res_b.ravel().astype(np.uint64) << np.uint64(58)
    )
    return flat.astype(np.int64).reshape(nx.shape)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) in degrees — lat bounds via asin inversion."""
    ix, iy, res = cell_xy(np.asarray([cell]))
    n = float(1 << int(res[0]))
    w = 360.0 / n
    minx = -180.0 + float(ix[0]) * w
    miny = float(fraction_to_lat(np.asarray(iy[0] / n)))
    maxy = float(fraction_to_lat(np.asarray((iy[0] + 1) / n)))
    return (minx, miny, minx + w, maxy)


def cells_bounds(cells: np.ndarray) -> np.ndarray:
    """Vectorized cell_bounds → (n, 4) array of (minx, miny, maxx, maxy)."""
    ix, iy, res = cell_xy(np.asarray(cells))
    n = (1 << res).astype(np.float64)
    w = 360.0 / n
    minx = -180.0 + ix * w
    miny = fraction_to_lat(iy / n)
    maxy = fraction_to_lat((iy + 1) / n)
    return np.stack([minx, miny, minx + w, maxy], axis=1)
