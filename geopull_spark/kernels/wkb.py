"""WKB (Well-Known Binary) codec over numpy coordinate arrays.

Replaces the shapely geometry-object column of the reference
(``/root/reference/src/geopull/blocker.py:56`` geometry objects everywhere)
with plain ``bytes`` columns; decode happens only inside kernel batches.

Geometry model (plain tuples, numpy payloads):

    ("Point",            ndarray shape (2,))
    ("LineString",       ndarray shape (n, 2))
    ("Polygon",          [ring0, ring1, ...])      rings are (n, 2) closed
    ("MultiPoint",       [pt, ...])
    ("MultiLineString",  [ls, ...])
    ("MultiPolygon",     [[rings...], ...])
    ("GeometryCollection", [geom, ...])            geom = full tuples

Only 2-D little-endian WKB is produced; both endiannesses are parsed.

``GeomBatch`` is the flat alternative for whole batches: every coordinate
of every geometry in one ``(n, 2)`` array plus ring, part and geometry
offsets (the GeoArrow layout). ``decode`` fills it from a list of WKB in one
pass and ``encode`` writes it back to the bytes ``dumps`` would produce, so
batch kernels run one numpy call per batch instead of one per geometry.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

_TYPE_CODES = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
_CODE_TYPES = {v: k for k, v in _TYPE_CODES.items()}


class WKBError(ValueError):
    pass


_EWKB_SRID = 0x20000000
_EWKB_ZM = 0x80000000 | 0x40000000  # Z | M dimension flags


def _read_header(buf: bytes, pos: int) -> tuple[str, str, int]:
    byte_order = buf[pos]
    endian = "<" if byte_order == 1 else ">"
    (code,) = struct.unpack_from(endian + "I", buf, pos + 1)
    pos += 5
    # EWKB: high bits flag extra dims / an SRID payload. Z/M coordinates
    # would silently misparse the coord stream → reject explicitly; an SRID
    # flag just means 4 extra header bytes to skip (ADVICE r1: previously the
    # flag was masked but the payload not skipped — garbage coordinates).
    if code & _EWKB_ZM:
        raise WKBError(f"EWKB Z/M geometry not supported (code {code:#x})")
    if code & _EWKB_SRID:
        pos += 4  # skip the SRID value; coordinates are 2-D and parse fine
        code &= ~_EWKB_SRID
    if code >= 1000:  # ISO 1001+/2001+/3001+ are Z/M/ZM variants
        raise WKBError(f"ISO WKB Z/M geometry not supported (code {code})")
    gtype = _CODE_TYPES.get(code)
    if gtype is None:
        raise WKBError(f"unsupported WKB type code {code}")
    return gtype, endian, pos


def _parse(buf: bytes, pos: int):
    gtype, e, pos = _read_header(buf, pos)
    if gtype == "Point":
        xy = np.frombuffer(buf, dtype=e + "f8", count=2, offset=pos)
        return (gtype, np.asarray(xy, dtype=np.float64)), pos + 16
    if gtype == "LineString":
        (n,) = struct.unpack_from(e + "I", buf, pos)
        pos += 4
        coords = np.frombuffer(buf, dtype=e + "f8", count=2 * n, offset=pos)
        coords = np.asarray(coords, dtype=np.float64).reshape(n, 2)
        return (gtype, coords), pos + 16 * n
    if gtype == "Polygon":
        (nrings,) = struct.unpack_from(e + "I", buf, pos)
        pos += 4
        rings = []
        for _ in range(nrings):
            (n,) = struct.unpack_from(e + "I", buf, pos)
            pos += 4
            ring = np.frombuffer(buf, dtype=e + "f8", count=2 * n, offset=pos)
            rings.append(np.asarray(ring, dtype=np.float64).reshape(n, 2))
            pos += 16 * n
        return (gtype, rings), pos
    # multi / collection: children are full WKB geometries
    (nparts,) = struct.unpack_from(e + "I", buf, pos)
    pos += 4
    parts = []
    for _ in range(nparts):
        child, pos = _parse(buf, pos)
        parts.append(child)
    if gtype == "GeometryCollection":
        return (gtype, parts), pos
    # strip child wrappers down to payloads for Multi* convenience
    payload = [c[1] for c in parts]
    return (gtype, payload), pos


def loads(buf: bytes):
    """Parse a WKB buffer into the tuple geometry model."""
    if buf is None:
        return None
    geom, _ = _parse(bytes(buf), 0)
    return geom


def _dump(geom, out: list) -> None:
    gtype, payload = geom
    out.append(b"\x01")
    out.append(struct.pack("<I", _TYPE_CODES[gtype]))
    if gtype == "Point":
        out.append(np.asarray(payload, dtype="<f8").tobytes())
    elif gtype == "LineString":
        arr = np.asarray(payload, dtype="<f8")
        out.append(struct.pack("<I", arr.shape[0]))
        out.append(arr.tobytes())
    elif gtype == "Polygon":
        out.append(struct.pack("<I", len(payload)))
        for ring in payload:
            arr = np.asarray(ring, dtype="<f8")
            out.append(struct.pack("<I", arr.shape[0]))
            out.append(arr.tobytes())
    elif gtype == "GeometryCollection":
        out.append(struct.pack("<I", len(payload)))
        for child in payload:
            _dump(child, out)
    else:  # Multi*
        child_type = gtype[5:]  # MultiPoint -> Point etc.
        out.append(struct.pack("<I", len(payload)))
        for child_payload in payload:
            _dump((child_type, child_payload), out)


def dumps(geom) -> bytes:
    """Serialize the tuple geometry model to little-endian WKB."""
    out: list = []
    _dump(geom, out)
    return b"".join(out)


def geom_type(geom) -> str:
    return geom[0]


def get_parts(geom) -> list:
    """Explode Multi*/collection into single geometries (reference F4/F12,
    ``blocker.py:55``, ``blocker.py:118``)."""
    gtype, payload = geom
    if gtype == "GeometryCollection":
        parts = []
        for child in payload:
            parts.extend(get_parts(child))
        return parts
    if gtype.startswith("Multi"):
        child_type = gtype[5:]
        return [(child_type, p) for p in payload]
    return [geom]


def bounds(geom) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) over all coordinates."""
    arrs = _coord_arrays(geom)
    if not arrs:
        return (np.nan, np.nan, np.nan, np.nan)
    allc = np.vstack(arrs)
    mn = allc.min(axis=0)
    mx = allc.max(axis=0)
    return (float(mn[0]), float(mn[1]), float(mx[0]), float(mx[1]))


def _coord_arrays(geom) -> list[np.ndarray]:
    gtype, payload = geom
    if gtype == "Point":
        return [np.asarray(payload, dtype=np.float64).reshape(1, 2)]
    if gtype == "LineString":
        return [np.asarray(payload)]
    if gtype == "Polygon":
        return [np.asarray(r) for r in payload]
    if gtype == "GeometryCollection":
        out = []
        for child in payload:
            out.extend(_coord_arrays(child))
        return out
    child_type = gtype[5:]
    out = []
    for p in payload:
        out.extend(_coord_arrays((child_type, p)))
    return out


def point(x: float, y: float) -> bytes:
    return dumps(("Point", np.array([x, y], dtype=np.float64)))


def linestring(coords) -> bytes:
    return dumps(("LineString", np.asarray(coords, dtype=np.float64)))


def polygon(exterior, holes=()) -> bytes:
    rings = [_close_ring(np.asarray(exterior, dtype=np.float64))]
    rings.extend(_close_ring(np.asarray(h, dtype=np.float64)) for h in holes)
    return dumps(("Polygon", rings))


def _close_ring(ring: np.ndarray) -> np.ndarray:
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[0]])
    return ring


# ---------------------------------------------------------------------------
# flat geometry batch
# ---------------------------------------------------------------------------


class GeomBatch(NamedTuple):
    """Flat (GeoArrow-style) geometry batch.

    Geometry g owns parts ``geom_offsets[g]:geom_offsets[g+1]``, part p owns
    rings ``part_offsets[p]:part_offsets[p+1]``, ring r owns coordinates
    ``ring_offsets[r]:ring_offsets[r+1]``. A part is a Point (one ring of one
    coordinate), a LineString (one ring) or a Polygon; a Point, LineString or
    Polygon geometry has exactly one part. Collections nest one level: a
    GeometryCollection inside a collection is not representable."""

    types: np.ndarray         # (n_geoms,) WKB type code, 1..7
    geom_offsets: np.ndarray  # (n_geoms + 1,) into parts
    part_types: np.ndarray    # (n_parts,) WKB type code, 1..3
    part_offsets: np.ndarray  # (n_parts + 1,) into rings
    ring_offsets: np.ndarray  # (n_rings + 1,) into coords
    coords: np.ndarray        # (n_coords, 2) float64

    def __len__(self) -> int:
        return len(self.types)


def _offsets(counts: list) -> np.ndarray:
    out = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=out[1:])
    return out


def _batch(types, n_parts, part_types, n_rings, ring_lens, coords) -> GeomBatch:
    return GeomBatch(
        np.asarray(types, dtype=np.int64), _offsets(n_parts),
        np.asarray(part_types, dtype=np.int64), _offsets(n_rings),
        _offsets(ring_lens), coords,
    )


def _decode_part(buf, pos, code, e, part_types, n_rings, ring_lens, chunks) -> int:
    part_types.append(code)
    if code == 1:
        nr, counted = 1, False
    elif code == 2:
        nr, counted = 1, True
    else:
        (nr,) = struct.unpack_from(e + "I", buf, pos)
        pos += 4
        counted = True
    n_rings.append(nr)
    for _ in range(nr):
        n = 1
        if counted:
            (n,) = struct.unpack_from(e + "I", buf, pos)
            pos += 4
        end = pos + 16 * n
        if e == "<":
            chunks.append(buf[pos:end])
        else:
            chunks.append(np.frombuffer(buf, ">f8", 2 * n, pos).astype("<f8").tobytes())
        ring_lens.append(n)
        pos = end
    return pos


def decode(bufs) -> GeomBatch:
    """Parse a list of WKB (either byte order, EWKB SRID skipped) into one
    flat batch: headers are walked per geometry, coordinates are copied
    once as a single float64 array."""
    types, n_parts, part_types, n_rings, ring_lens, chunks = [], [], [], [], [], []
    for buf in bufs:
        buf = bytes(buf)
        gtype, e, pos = _read_header(buf, 0)
        code = _TYPE_CODES[gtype]
        types.append(code)
        if code <= 3:
            n_parts.append(1)
            _decode_part(buf, pos, code, e, part_types, n_rings, ring_lens, chunks)
            continue
        (k,) = struct.unpack_from(e + "I", buf, pos)
        pos += 4
        n_parts.append(k)
        for _ in range(k):
            ctype, ce, pos = _read_header(buf, pos)
            ccode = _TYPE_CODES[ctype]
            if ccode > 3 or (code != 7 and ccode != code - 3):
                raise WKBError(f"{ctype} inside {gtype} is not supported in a flat batch")
            pos = _decode_part(buf, pos, ccode, ce, part_types, n_rings, ring_lens, chunks)
    coords = np.frombuffer(b"".join(chunks), dtype="<f8").astype(np.float64).reshape(-1, 2)
    return _batch(types, n_parts, part_types, n_rings, ring_lens, coords)


def from_geoms(geoms) -> GeomBatch:
    """Flat batch of tuple-model geometries (same layout as ``decode``)."""
    types, n_parts, part_types, n_rings, ring_lens, arrs = [], [], [], [], [], []

    def add_part(code, payload):
        part_types.append(code)
        rings = [payload] if code != 3 else payload
        n_rings.append(len(rings))
        for r in rings:
            a = np.asarray(r, dtype=np.float64).reshape(-1, 2)
            arrs.append(a)
            ring_lens.append(len(a))

    for gtype, payload in geoms:
        code = _TYPE_CODES[gtype]
        types.append(code)
        if code <= 3:
            n_parts.append(1)
            add_part(code, payload)
        elif code == 7:
            n_parts.append(len(payload))
            for ctype, cpayload in payload:
                if _TYPE_CODES[ctype] > 3:
                    raise WKBError(f"{ctype} inside {gtype} is not supported in a flat batch")
                add_part(_TYPE_CODES[ctype], cpayload)
        else:
            n_parts.append(len(payload))
            for cpayload in payload:
                add_part(code - 3, cpayload)
    coords = np.concatenate(arrs) if arrs else np.zeros((0, 2), dtype=np.float64)
    return _batch(types, n_parts, part_types, n_rings, ring_lens, coords)


def _segment_sum(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Sum of ``values[offsets[i]:offsets[i+1]]`` per segment (integers)."""
    c = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(values, out=c[1:])
    return c[offsets[1:]] - c[offsets[:-1]]


def _put_u32(out: np.ndarray, pos: np.ndarray, vals) -> None:
    v = np.broadcast_to(np.asarray(vals, dtype="<u4"), pos.shape)
    out[pos[:, None] + np.arange(4)] = np.ascontiguousarray(v).view(np.uint8).reshape(-1, 4)


def encode(batch: GeomBatch) -> list[bytes]:
    """Little-endian WKB per geometry, byte-identical to ``dumps`` of the
    same geometries, written by index arithmetic over the whole batch."""
    types, goff, ptypes, poff, roff, coords = batch
    n_g, n_p, n_r = len(types), len(ptypes), len(roff) - 1
    ring_n = np.diff(roff)
    part_of_ring = np.repeat(np.arange(n_p), np.diff(poff))
    geom_of_part = np.repeat(np.arange(n_g), np.diff(goff))
    ring_hdr = np.where(ptypes[part_of_ring] == 1, 0, 4)
    ring_size = ring_hdr + 16 * ring_n
    part_hdr = np.where(ptypes == 3, 9, 5)
    part_size = part_hdr + _segment_sum(ring_size, poff)
    coll = types > 3
    geom_hdr = np.where(coll, 9, 0)
    geom_size = geom_hdr + _segment_sum(part_size, goff)
    geom_start = np.concatenate([[0], np.cumsum(geom_size)])
    # start of each part/ring = parent start + parent header + preceding siblings
    p_cum = np.concatenate([[0], np.cumsum(part_size)])
    part_start = (geom_start[geom_of_part] + geom_hdr[geom_of_part]
                  + p_cum[:-1] - p_cum[goff[geom_of_part]])
    r_cum = np.concatenate([[0], np.cumsum(ring_size)])
    ring_start = (part_start[part_of_ring] + part_hdr[part_of_ring]
                  + r_cum[:-1] - r_cum[poff[part_of_ring]])
    out = np.zeros(int(geom_start[-1]), dtype=np.uint8)
    gs = geom_start[:-1][coll]
    out[gs] = 1
    _put_u32(out, gs + 1, types[coll])
    _put_u32(out, gs + 5, np.diff(goff)[coll])
    out[part_start] = 1
    _put_u32(out, part_start + 1, ptypes)
    poly = ptypes == 3
    _put_u32(out, part_start[poly] + 5, np.diff(poff)[poly])
    counted = ring_hdr > 0
    _put_u32(out, ring_start[counted], ring_n[counted])
    if len(coords):
        cpos = (np.repeat(ring_start + ring_hdr - 16 * roff[:-1], ring_n)
                + 16 * np.arange(len(coords)))
        raw = np.ascontiguousarray(coords, dtype="<f8").view(np.uint8).reshape(-1, 16)
        out[cpos[:, None] + np.arange(16)] = raw
    buf = out.tobytes()
    ends = geom_start.tolist()
    return [buf[ends[i]:ends[i + 1]] for i in range(n_g)]


def geom_at(batch: GeomBatch, i: int):
    """Tuple-model geometry ``i`` of a batch (coordinates are views)."""
    types, goff, ptypes, poff, roff, coords = batch

    def part(p):
        rings = [coords[roff[r]:roff[r + 1]] for r in range(poff[p], poff[p + 1])]
        code = int(ptypes[p])
        if code == 1:
            return rings[0][0]
        return rings[0] if code == 2 else rings

    code = int(types[i])
    parts = range(goff[i], goff[i + 1])
    if code <= 3:
        return (_CODE_TYPES[code], part(parts[0]))
    if code == 7:
        return (_CODE_TYPES[code],
                [(_CODE_TYPES[int(ptypes[p])], part(p)) for p in parts])
    return (_CODE_TYPES[code], [part(p) for p in parts])


def batch_bounds(batch: GeomBatch) -> np.ndarray:
    """(n_geoms, 4) minx, miny, maxx, maxy per geometry (NaN when a
    geometry has no coordinates): one min/max reduction per batch."""
    co = batch.ring_offsets[batch.part_offsets[batch.geom_offsets]]  # per geometry
    out = np.full((len(batch), 4), np.nan)
    has = np.flatnonzero(co[1:] > co[:-1])
    if len(has):
        starts = co[:-1][has]
        out[has, 0:2] = np.minimum.reduceat(batch.coords, starts, axis=0)
        out[has, 2:4] = np.maximum.reduceat(batch.coords, starts, axis=0)
    return out
