"""Output checks that share no code path with what they check.

* ``digest``: an order-independent digest of (block_id, md5 of geometry),
  so two builds of the same world must produce the identical digest.
* ``BlockOracle``: re-assigns sampled documents on the driver without the
  cell index — a bbox filter over every collected block, then the scalar
  ``kernels.pointops.point_in_geom``, with the min-``block_id`` tie-break.
"""

from __future__ import annotations

import hashlib

import numpy as np

_MOD = 1 << 128


def digest(pairs) -> str:
    """Digest of (block_id, geometry_md5) pairs, independent of their order."""
    total = 0
    for block_id, geom_md5 in pairs:
        h = hashlib.md5(f"{block_id}|{geom_md5}".encode()).digest()
        total = (total + int.from_bytes(h, "big")) % _MOD
    return f"{total:032x}"


class BlockOracle:
    """Brute-force doc → block assignment over collected block rows
    (block_id, geometry WKB, minx, miny, maxx, maxy)."""

    def __init__(self, rows):
        from geopull_spark.kernels import wkb

        rows = sorted(rows, key=lambda r: r[0])  # min block_id = first hit
        self.ids = [r[0] for r in rows]
        self.geoms = [wkb.loads(bytes(r[1])) for r in rows]
        self.box = np.array([r[2:6] for r in rows], dtype=np.float64).reshape(-1, 4)

    def candidates(self, lon: float, lat: float) -> np.ndarray:
        b = self.box
        return np.flatnonzero((b[:, 0] <= lon) & (lon <= b[:, 2])
                              & (b[:, 1] <= lat) & (lat <= b[:, 3]))

    def assign(self, lon: float, lat: float) -> str | None:
        from geopull_spark.kernels.pointops import point_in_geom

        px, py = np.array([lon]), np.array([lat])
        for i in self.candidates(lon, lat):
            if point_in_geom(px, py, self.geoms[i])[0]:
                return self.ids[i]
        return None

    def expected(self, docs) -> dict:
        """doc_id → block_id for (doc_id, lon, lat) rows; unassigned docs
        are absent, as they are from the engine's output."""
        out = {}
        for doc_id, lon, lat in docs:
            bid = self.assign(lon, lat)
            if bid is not None:
                out[doc_id] = bid
        return out


def mismatches(expected: dict, rows) -> int:
    """Docs whose engine assignment differs from the oracle's, counting
    docs the engine emitted twice or assigned when the oracle did not."""
    got: dict = {}
    dup = 0
    for doc_id, block_id in rows:
        dup += doc_id in got
        got[doc_id] = block_id
    keys = expected.keys() | got.keys()
    return dup + sum(expected.get(k) != got.get(k) for k in keys)
