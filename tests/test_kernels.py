"""Kernel unit tests against hand-computed goldens.

Fixture geometries mirror the reference's own unit tests
(/root/reference/tests/test_blocker.py:14-54, tests/test_normalizer.py:16-28)
so expected outputs are independently verifiable.
"""

import numpy as np
import pytest

from geopull_spark.kernels import area, cells, overlay, pointops, polygonize, wkb

UNIT_SQ = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
TWO_SQ = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]


# ---------------------------------------------------------------- wkb
def test_wkb_roundtrip_polygon():
    buf = wkb.polygon(UNIT_SQ, holes=[[(0.25, 0.25), (0.25, 0.5), (0.5, 0.5), (0.5, 0.25)]])
    g = wkb.loads(buf)
    assert g[0] == "Polygon"
    assert len(g[1]) == 2
    assert wkb.dumps(g) == buf
    assert wkb.bounds(g) == (0.0, 0.0, 1.0, 1.0)


def test_wkb_multilinestring_parts():
    ls1 = np.array([[0.0, 0.0], [1.0, 1.0]])
    ls2 = np.array([[2.0, 2.0], [3.0, 3.0]])
    buf = wkb.dumps(("MultiLineString", [ls1, ls2]))
    parts = wkb.get_parts(wkb.loads(buf))
    assert [p[0] for p in parts] == ["LineString", "LineString"]
    assert np.allclose(parts[1][1], ls2)


def test_wkb_big_endian_parse():
    import struct

    buf = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 3.0, 4.0)
    g = wkb.loads(buf)
    assert g[0] == "Point" and np.allclose(g[1], [3.0, 4.0])


# ---------------------------------------------------------------- geohash
def test_geohash_known_values():
    # canonical example from the geohash literature
    gh = cells.geohash_encode(np.array([57.64911]), np.array([10.40744]), 11)
    assert gh[0] == "u4pruydqqvj"
    gh = cells.geohash_encode(np.array([42.6]), np.array([-5.6]), 5)
    assert gh[0] == "ezs42"
    # vectorized batch
    gh = cells.geohash_encode(np.array([0.0, -90.0, 90.0]), np.array([0.0, -180.0, 180.0]), 12)
    assert gh[0] == "s00000000000"
    assert gh[1] == "000000000000"


def test_geohash_precision12_stability():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 100)
    lon = rng.uniform(-179, 179, 100)
    g1 = cells.geohash_encode(lat, lon, 12)
    g2 = cells.geohash_encode(lat, lon, 12)
    assert (g1 == g2).all()
    # prefix property: precision 6 is a prefix of precision 12
    g6 = cells.geohash_encode(lat, lon, 6)
    assert all(a.startswith(b) for a, b in zip(g1, g6))


# ---------------------------------------------------------------- cells
def test_cell_roundtrip_and_parent():
    lon = np.array([-87.6, 10.4, 179.9])
    lat = np.array([41.9, 57.6, -89.9])
    c = cells.cell_id(lon, lat, 12)
    ix, iy, res = cells.cell_xy(c)
    assert (res == 12).all()
    p = cells.cell_parent(c, 8)
    _, _, pres = cells.cell_xy(p)
    assert (pres == 8).all()
    # parent of parent == direct coarse
    assert (cells.cell_parent(c, 8) == cells.cell_parent(cells.cell_parent(c, 10), 8)).all()


def test_cover_bbox_contains_point_cell():
    c = cells.cell_id(np.array([10.5]), np.array([45.5]), 10)[0]
    cover = cells.cover_bbox(10.0, 45.0, 11.0, 46.0, 10)
    assert c in set(cover.tolist())


def test_k_ring_shape_and_self():
    c = cells.cell_id(np.array([10.5]), np.array([45.5]), 10)
    ring = cells.k_ring(c, 1)
    assert ring.shape == (1, 9)
    assert c[0] in set(ring[0].tolist())
    assert len(set(ring[0].tolist())) == 9


# ---------------------------------------------------------------- area
def test_equator_square_area():
    # 1x1 deg at the equator ≈ 111.32km * 110.57km; EPSG:3395 inflates y
    # slightly. Sanity window: planar mercator area of the projected square.
    buf = wkb.polygon(UNIT_SQ)
    a = area.wkb_area_m2(buf)
    proj = area.mercator_3395(np.array(UNIT_SQ + [UNIT_SQ[0]], dtype=float))
    expected = abs(area.ring_signed_area(proj))
    assert a == pytest.approx(expected)
    assert 1.2e10 < a < 1.3e10  # ~111km * ~110.6km


def test_area_hole_subtracts():
    outer = wkb.polygon(TWO_SQ)
    with_hole = wkb.polygon(TWO_SQ, holes=[UNIT_SQ])
    assert area.wkb_area_m2(with_hole) < area.wkb_area_m2(outer)


def test_mercator_inverse_roundtrip():
    pts = np.array([[10.4, 57.6], [-87.6, 41.9], [0.0, 0.0]])
    back = area.inverse_mercator_3395(area.mercator_3395(pts))
    assert np.allclose(back, pts, atol=1e-9)


# ---------------------------------------------------------------- pointops
def test_pip_square():
    rings = [np.array(UNIT_SQ + [UNIT_SQ[0]], dtype=float)]
    px = np.array([0.5, 1.5, -0.1, 0.99])
    py = np.array([0.5, 0.5, 0.5, 0.01])
    assert pointops.points_in_polygon(px, py, rings).tolist() == [True, False, False, True]


def test_pip_hole():
    rings = [
        np.array(TWO_SQ + [TWO_SQ[0]], dtype=float),
        np.array([[0.5, 0.5], [0.5, 1.0], [1.0, 1.0], [1.0, 0.5], [0.5, 0.5]]),
    ]
    px = np.array([0.75, 0.25, 1.75])
    py = np.array([0.75, 0.25, 1.75])
    assert pointops.points_in_polygon(px, py, rings).tolist() == [False, True, True]


def test_representative_point_inside():
    rings = [np.array(UNIT_SQ + [UNIT_SQ[0]], dtype=float)]
    x, y = pointops.representative_point(rings)
    assert pointops.points_in_polygon(np.array([x]), np.array([y]), rings)[0]
    # with a central hole the rep point must dodge it
    rings_h = rings + [np.array([[0.4, 0.4], [0.4, 0.6], [0.6, 0.6], [0.6, 0.4], [0.4, 0.4]])]
    x, y = pointops.representative_point(rings_h)
    assert pointops.points_in_polygon(np.array([x]), np.array([y]), rings_h)[0]


# ---------------------------------------------------------------- polygonize
def _wkb_sq(coords):
    return wkb.polygon(coords)


def test_polygonize_square_plus_diagonal():
    """Reference fixture (tests/test_blocker.py:14-39): unit square boundary +
    diagonal (0,0)-(1,1) → two triangle faces."""
    geoms = [
        wkb.loads(wkb.linestring(UNIT_SQ + [UNIT_SQ[0]])),
        wkb.loads(wkb.linestring([(0.0, 0.0), (1.0, 1.0)])),
    ]
    faces = polygonize.polygonize_geoms(geoms)
    assert len(faces) == 2
    areas = sorted(abs(area.ring_signed_area(f[1][0])) for f in faces)
    assert np.allclose(areas, [0.5, 0.5])


def test_polygonize_duplicated_lines_dedupe():
    """The reference fixture duplicates the diagonal — dedupe must collapse."""
    geoms = [
        wkb.loads(wkb.linestring(UNIT_SQ + [UNIT_SQ[0]])),
        wkb.loads(wkb.linestring([(0.0, 0.0), (1.0, 1.0)])),
        wkb.loads(wkb.linestring([(0.0, 0.0), (1.0, 1.0)])),
    ]
    assert len(polygonize.polygonize_geoms(geoms)) == 2


def test_polygonize_cross_noding():
    """Two crossing diagonals inside a square → 4 faces via a proper
    intersection that exists in no input."""
    geoms = [
        wkb.loads(wkb.linestring(UNIT_SQ + [UNIT_SQ[0]])),
        wkb.loads(wkb.linestring([(0.0, 0.0), (1.0, 1.0)])),
        wkb.loads(wkb.linestring([(0.0, 1.0), (1.0, 0.0)])),
    ]
    faces = polygonize.polygonize_geoms(geoms)
    assert len(faces) == 4
    assert sum(abs(area.ring_signed_area(f[1][0])) for f in faces) == pytest.approx(1.0)


def test_polygonize_dangle_ignored():
    geoms = [
        wkb.loads(wkb.linestring(UNIT_SQ + [UNIT_SQ[0]])),
        wkb.loads(wkb.linestring([(0.5, 0.5), (0.7, 0.9)])),  # dangle
    ]
    faces = polygonize.polygonize_geoms(geoms)
    assert len(faces) == 1
    assert abs(area.ring_signed_area(faces[0][1][0])) == pytest.approx(1.0)


def test_polygonize_t_junction():
    """Horizontal line ending exactly on the square edge (T-junction)."""
    geoms = [
        wkb.loads(wkb.linestring(UNIT_SQ + [UNIT_SQ[0]])),
        wkb.loads(wkb.linestring([(0.0, 0.5), (1.0, 0.5)])),
    ]
    faces = polygonize.polygonize_geoms(geoms)
    assert len(faces) == 2
    areas = sorted(abs(area.ring_signed_area(f[1][0])) for f in faces)
    assert np.allclose(areas, [0.5, 0.5])


def test_polygonize_island_hole():
    """A small square inside a big one → big face carries the island hole,
    island face also emitted (GEOS polygonize semantics)."""
    inner = [(0.4, 0.4), (0.6, 0.4), (0.6, 0.6), (0.4, 0.6)]
    geoms = [
        wkb.loads(wkb.linestring(UNIT_SQ + [UNIT_SQ[0]])),
        wkb.loads(wkb.linestring(inner + [inner[0]])),
    ]
    faces = polygonize.polygonize_geoms(geoms)
    assert len(faces) == 2
    by_rings = sorted(faces, key=lambda f: len(f[1]), reverse=True)
    assert len(by_rings[0][1]) == 2  # outer face with hole
    assert len(by_rings[1][1]) == 1  # island face
    outer_area = area.polygon_area(by_rings[0][1])
    assert outer_area == pytest.approx(1.0 - 0.04)


def test_line_merge_chains():
    segs = np.array(
        [[0, 0, 1, 0], [1, 0, 2, 0], [2, 0, 2, 1], [5, 5, 6, 5]], dtype=float
    )
    merged = polygonize.line_merge(segs)
    lens = sorted(len(m) for m in merged)
    assert lens == [2, 4]


# ---------------------------------------------------------------- overlay
def test_overlay_intersection_offset_squares():
    a = [wkb.loads(_wkb_sq(UNIT_SQ))]
    b = [wkb.loads(_wkb_sq([(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5)]))]
    out = overlay.overlay(a, b, "intersection")
    assert len(out) == 1
    assert area.polygon_area(out[0][1]) == pytest.approx(0.25)


def test_overlay_difference():
    a = [wkb.loads(_wkb_sq(UNIT_SQ))]
    b = [wkb.loads(_wkb_sq([(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5)]))]
    out = overlay.overlay(a, b, "difference")
    total = sum(area.polygon_area(p[1]) for p in out)
    assert total == pytest.approx(0.75)


def test_overlay_union_merges():
    a = [wkb.loads(_wkb_sq(UNIT_SQ))]
    b = [wkb.loads(_wkb_sq([(1.0, 0.0), (2.0, 0.0), (2.0, 1.0), (1.0, 1.0)]))]
    out = overlay.overlay(a, b, "union")
    assert len(out) == 1
    assert area.polygon_area(out[0][1]) == pytest.approx(2.0)


def test_dissolve_three_overlapping():
    """Reference overlap fixture (tests/test_blocker.py:142-154): 3 mutually
    overlapping polys dissolve to one region."""
    tri = wkb.polygon([(0.0, 0.0), (1.0, 1.0), (1.0, 0.0)])
    sq = wkb.polygon(UNIT_SQ)
    small = wkb.polygon([(0.0, 0.0), (0.0, 0.5), (0.5, 0.5), (0.5, 0.0)])
    out = overlay.dissolve([tri, sq, small])
    assert len(out) == 1
    assert area.polygon_area(out[0][1]) == pytest.approx(1.0)


def test_dissolve_hole_preserved():
    """Union of a ring of 4 rectangles around a hole keeps the hole."""
    rects = [
        wkb.polygon([(0, 0), (3, 0), (3, 1), (0, 1)]),
        wkb.polygon([(0, 2), (3, 2), (3, 3), (0, 3)]),
        wkb.polygon([(0, 0), (1, 0), (1, 3), (0, 3)]),
        wkb.polygon([(2, 0), (3, 0), (3, 3), (2, 3)]),
    ]
    out = overlay.dissolve(rects)
    assert len(out) == 1
    assert len(out[0][1]) == 2  # exterior + hole
    assert area.polygon_area(out[0][1]) == pytest.approx(8.0)


def test_make_valid_bowtie():
    """Bow-tie polygon (reference fixture tests/test_blocker.py:147) splits
    into two lobes."""
    bow = wkb.dumps(
        ("Polygon", [np.array([[0, 0], [0, 1], [1, 0], [1, 1], [0, 0]], dtype=float)])
    )
    parts = overlay.make_valid(wkb.loads(bow))
    assert len(parts) == 2
    total = sum(area.polygon_area(p[1]) for p in parts)
    assert total == pytest.approx(0.5)


def test_normalize_deterministic():
    ring = [(1.0, 1.0), (0.0, 1.0), (0.0, 0.0), (1.0, 0.0)]
    g1 = overlay.normalize_geom(wkb.loads(wkb.polygon(ring)))
    g2 = overlay.normalize_geom(wkb.loads(wkb.polygon(list(reversed(ring)))))
    assert wkb.dumps(g1) == wkb.dumps(g2)
    assert tuple(g1[1][0][0]) == (0.0, 0.0)  # starts at lexicographic min


def test_cells_equal_area_across_latitudes():
    """Lambert (lon × sin lat) quantization: spherical cell area is constant —
    ground-area max/min ratio ≈ 1 across ±60° (VERDICT r1 item 5 asks < 2)."""
    areas = []
    for la in [-60.0, -45.0, -20.0, 0.0, 33.3, 59.9]:
        c = int(cells.cell_id(np.array([17.0]), np.array([la]), 9)[0])
        minx, miny, maxx, maxy = cells.cell_bounds(c)
        areas.append((maxx - minx) * (np.sin(np.radians(maxy)) - np.sin(np.radians(miny))))
    assert max(areas) / min(areas) < 1.0001


def test_rect_clip_area_cases():
    """Sutherland–Hodgman polygon ∩ rect area: interior, straddling, hole."""
    from geopull_spark.kernels.clip import geom_rect_clip_area

    sq = ("Polygon", [np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)])
    assert geom_rect_clip_area(sq, (1, 1, 2, 2)) == pytest.approx(1.0)      # rect inside
    assert geom_rect_clip_area(sq, (3, 3, 5, 5)) == pytest.approx(1.0)      # corner overlap
    assert geom_rect_clip_area(sq, (-2, -2, -1, -1)) == pytest.approx(0.0)  # outside
    assert geom_rect_clip_area(sq, (-1, -1, 5, 5)) == pytest.approx(16.0)   # poly inside rect
    donut = ("Polygon", [
        np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float),
        np.array([[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]], float),  # CW hole
    ])
    assert geom_rect_clip_area(donut, (0, 0, 4, 4)) == pytest.approx(12.0)
    assert geom_rect_clip_area(donut, (1, 1, 3, 3)) == pytest.approx(0.0)   # rect == hole
    assert geom_rect_clip_area(donut, (0, 0, 2, 2)) == pytest.approx(3.0)   # quarter w/ hole bite


def test_wkb_ewkb_srid_and_z_handling():
    """EWKB SRID payload is skipped (coords parse correctly); Z/M geometries
    are rejected explicitly instead of misparsing."""
    import struct

    # hand-built EWKB point: little endian, type=1 | SRID flag, srid=4326
    ewkb = b"\x01" + struct.pack("<I", 1 | 0x20000000) + struct.pack("<I", 4326)
    ewkb += struct.pack("<dd", 3.0, 4.0)
    g = wkb.loads(ewkb)
    assert g[0] == "Point" and tuple(g[1]) == (3.0, 4.0)

    zwkb = b"\x01" + struct.pack("<I", 1 | 0x80000000) + struct.pack("<ddd", 1, 2, 3)
    with pytest.raises(wkb.WKBError):
        wkb.loads(zwkb)
    iso_z = b"\x01" + struct.pack("<I", 1001) + struct.pack("<ddd", 1, 2, 3)
    with pytest.raises(wkb.WKBError):
        wkb.loads(iso_z)


def _poly_area(polys):
    from geopull_spark.kernels.area import ring_signed_area

    tot = 0.0
    for g in polys:
        assert g[0] == "Polygon"
        tot += abs(ring_signed_area(np.asarray(g[1][0])))
        for h in g[1][1:]:
            tot -= abs(ring_signed_area(np.asarray(h)))
    return tot


def test_make_valid_multi_crossing_zigzag():
    """Ring crossing itself twice: 8x4 band minus two dip triangles = 24."""
    zig = ("Polygon", [np.array(
        [[0, 0], [2, 2], [4, 0], [6, 2], [8, 0], [8, 4], [0, 4], [0, 0]], float)])
    out = overlay.make_valid(zig)
    assert _poly_area(out) == pytest.approx(24.0)


def test_make_valid_bowtie_with_hole():
    """Bow-tie whose left lobe strictly contains a hole: two lobes of 4,
    hole of 0.24 → area 7.76, and the hole survives as a hole (the kept
    faces re-assemble instead of splitting the lobe into hole-less pieces)."""
    bt = ("Polygon", [
        np.array([[0, 0], [4, 4], [4, 0], [0, 4], [0, 0]], float),
        np.array([[0.3, 1.7], [0.7, 1.7], [0.7, 2.3], [0.3, 2.3], [0.3, 1.7]], float),
    ])
    out = overlay.make_valid(bt)
    assert _poly_area(out) == pytest.approx(7.76)
    assert sorted(len(g[1]) for g in out) == [1, 2]  # one lobe carries the hole


def test_make_valid_nested_shell_even_odd():
    """Same-orientation nested ring: even-odd (GEOS linework) makes it a
    hole — area 100-16, one polygon with 2 rings."""
    nest = ("Polygon", [
        np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float),
        np.array([[2, 2], [6, 2], [6, 6], [2, 6], [2, 2]], float),
    ])
    out = overlay.make_valid(nest)
    assert _poly_area(out) == pytest.approx(84.0)
    assert len(out) == 1 and len(out[0][1]) == 2


def test_make_valid_spike_and_duplicate_vertex():
    """Zero-area collinear spike + consecutive duplicate vertex: cleaned."""
    spike = ("Polygon", [np.array(
        [[0, 0], [4, 0], [4, 0], [4, 2], [6, 2], [4, 2], [4, 4], [0, 4], [0, 0]], float)])
    out = overlay.make_valid(spike)
    assert _poly_area(out) == pytest.approx(16.0)


def test_cover_bbox_antimeridian_wrap():
    """minx > maxx wraps across the antimeridian: cover includes cells on
    both sides and nothing in the unspanned middle."""
    cov = set(cells.cover_bbox(170.0, -5.0, -170.0, 5.0, 6).tolist())
    east = int(cells.cell_id(np.array([175.0]), np.array([0.0]), 6)[0])
    west = int(cells.cell_id(np.array([-175.0]), np.array([0.0]), 6)[0])
    mid = int(cells.cell_id(np.array([0.0]), np.array([0.0]), 6)[0])
    assert east in cov and west in cov and mid not in cov


def test_cover_bbox_wide_wrap_same_tile():
    """ADVICE r2: a wrapped lon span wider than 360° minus one tile quantizes
    minx/maxx into the SAME x tile — the cover must still be the full x ring
    (every column), not one column, with no duplicate cells."""
    res = 5
    n = 1 << res
    cov = cells.cover_bbox(2.0, -5.0, 1.5, 5.0, res, cap=10**6)
    assert len(set(cov.tolist())) == len(cov)  # no duplicates
    ix = cells.cell_xy(cov)[0]
    assert set(ix.tolist()) == set(range(n))  # all 32 x-columns present
    # wrapped with overlapping-but-unequal indices: still the full ring
    cov2 = cells.cover_bbox(2.0, -5.0, 1.9, 5.0, res, cap=10**6)
    assert set(cells.cell_xy(cov2)[0].tolist()) == set(range(n))
    assert len(set(cov2.tolist())) == len(cov2)


def test_unique_points_matches_np_unique_properties():
    """Packed-key unique == np.unique(axis=0) (values, order, inverse,
    counts), on both the packed fast path and the >2^31-span fallback."""
    rng = np.random.default_rng(123)
    cases = [
        rng.integers(-10**9, 10**9, size=(5000, 2)),          # packed path
        rng.integers(-3 * 10**12, 3 * 10**12, size=(3000, 2)),  # fallback path
        np.repeat(rng.integers(0, 50, size=(40, 2)), 25, axis=0),  # heavy dups
    ]
    for pts in cases:
        pts = pts.astype(np.int64)
        got, ginv, gcnt = polygonize.unique_points(pts, return_inverse=True, return_counts=True)
        want, winv, wcnt = np.unique(pts, axis=0, return_inverse=True, return_counts=True)
        assert np.array_equal(got, want)
        assert np.array_equal(ginv, winv.ravel())
        assert np.array_equal(gcnt, wcnt)
        # reconstruction property
        assert np.array_equal(got[ginv], pts)


def test_unique_rows4_matches_np_unique():
    rng = np.random.default_rng(7)
    q = rng.integers(-10**8, 10**8, size=(4000, 4)).astype(np.int64)
    q = np.vstack([q, q[:1000]])  # duplicates
    got, gcnt = polygonize._unique_rows4(q, return_counts=True)
    want, wcnt = np.unique(q, axis=0, return_counts=True)
    assert np.array_equal(got, want) and np.array_equal(gcnt, wcnt)


def test_rect_clip_area_vs_monte_carlo():
    """Sutherland–Hodgman clip area agrees with Monte-Carlo point sampling
    on random star-convex polygons (1% tolerance at 200k samples)."""
    from geopull_spark.kernels.clip import geom_rect_clip_area
    from geopull_spark.kernels.pointops import point_in_geom

    rng = np.random.default_rng(42)
    for trial in range(5):
        # star-convex polygon around the origin
        ang = np.sort(rng.uniform(0, 2 * np.pi, 12))
        rad = rng.uniform(0.5, 2.0, 12)
        ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        geom = ("Polygon", [ring])
        rect = tuple(sorted(rng.uniform(-1.5, 1.5, 2))) + tuple(sorted(rng.uniform(-1.5, 1.5, 2)))
        rect = (rect[0], rect[2], rect[1], rect[3])  # (minx, miny, maxx, maxy)
        got = geom_rect_clip_area(geom, rect)
        n = 200_000
        px = rng.uniform(rect[0], rect[2], n)
        py = rng.uniform(rect[1], rect[3], n)
        frac = point_in_geom(px, py, geom).mean()
        mc = frac * (rect[2] - rect[0]) * (rect[3] - rect[1])
        assert abs(got - mc) <= max(0.01 * max(mc, got), 3e-3), (trial, got, mc)


def test_png_roundtrip_all_filters_and_channels():
    """stdlib-zlib PNG codec: encode→decode is identity for every scanline
    filter type and gray/RGB/RGBA channel layouts."""
    from geopull_spark.kernels.png import png_decode, png_encode

    rng = np.random.default_rng(99)
    for c in (1, 3, 4):
        img = rng.integers(0, 256, size=(13, 9, c), dtype=np.uint8)
        for ft in range(5):
            out = png_decode(png_encode(img, filter_type=ft))
            assert out.shape == (13, 9, c), (c, ft)
            assert (out == img).all(), (c, ft)


def test_png_decode_handbuilt_golden():
    """Decode a PNG whose bytes are laid out by hand (filter-0 scanlines,
    2x2 grayscale with known pixel values) — independent of the encoder."""
    import struct
    import zlib

    from geopull_spark.kernels.png import png_decode

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2x2 gray
    raw = bytes([0, 10, 20, 0, 30, 40])  # filter byte + 2 px, twice
    buf = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    img = png_decode(buf)
    assert img.shape == (2, 2, 1)
    assert img[:, :, 0].tolist() == [[10, 20], [30, 40]]


def test_wav_roundtrip_and_golden():
    from geopull_spark.kernels.png import wav_decode, wav_encode

    samples = (np.sin(np.linspace(0, 20, 400)) * 3000).astype(np.int16)
    buf = wav_encode(samples, rate=8000)
    out, rate = wav_decode(buf)
    assert rate == 8000 and (out == samples).all()
    # hand-check the header layout
    assert buf[:4] == b"RIFF" and buf[8:12] == b"WAVE"
    assert len(buf) == 44 + 800  # 44-byte canonical header + 400 s16 samples


def test_make_valid_pinched_shell_splits():
    """Shell self-touch at a point (figure-8 via a revisited vertex, no edge
    crossing): GEOS linework splits into two polygons."""
    pinch = wkb.loads(wkb.polygon([(0, 0), (1, 0), (0.5, 0.5), (1, 1), (0, 1), (0.5, 0.5)]))
    out = overlay.make_valid(pinch)
    assert len(out) == 2
    areas = sorted(abs(area.ring_signed_area(np.asarray(p[1][0]))) for p in out)
    assert np.allclose(areas, [0.25, 0.25])


def test_make_valid_duplicate_vertex_and_collapsed():
    dup = ("Polygon", [np.array([(0, 0), (1, 0), (1, 0), (1, 1), (0, 1), (0, 0)], float)])
    out = overlay.make_valid(dup)
    assert len(out) == 1
    assert abs(area.ring_signed_area(np.asarray(out[0][1][0]))) == pytest.approx(1.0)
    # ring collapsed to a segment → empty (Polygon-keeping semantics)
    col = ("Polygon", [np.array([(0, 0), (1, 0), (1, 0), (0, 0)], float)])
    assert overlay.make_valid(col) == []


def test_make_valid_mixed_collection_passthrough():
    bow = ("Polygon", [np.array([(0, 0), (1, 1), (1, 0), (0, 1), (0, 0)], float)])
    gc = ("GeometryCollection", [
        ("Point", np.array([5.0, 5.0])),
        ("LineString", np.array([(0, 0), (2, 2)], float)),
        bow,
    ])
    out = overlay.make_valid(gc)
    assert [p[0] for p in out] == ["Point", "LineString", "Polygon", "Polygon"]
    areas = sorted(abs(area.ring_signed_area(np.asarray(p[1][0])))
                   for p in out if p[0] == "Polygon")
    assert np.allclose(areas, [0.25, 0.25])


def test_make_valid_touching_shells_and_hole_touch():
    """Valid inputs stay untouched: MultiPolygon shells meeting at one point,
    and a hole tangent to its shell at one point (area conserved)."""
    mp = ("MultiPolygon", [
        [np.array([(0, 0), (1, 0), (0.5, 0.5), (0, 0)], float)],
        [np.array([(0.5, 0.5), (1, 1), (0, 1), (0.5, 0.5)], float)],
    ])
    out = overlay.make_valid(mp)
    assert len(out) == 2
    ht = ("Polygon", [
        np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], float),
        np.array([(2, 0), (3, 1), (1, 1), (2, 0)], float),
    ])
    out = overlay.make_valid(ht)
    assert len(out) == 1 and len(out[0][1]) == 2  # shell + surviving hole
    tot = sum(abs(area.ring_signed_area(np.asarray(r))) * (1 if i == 0 else -1)
              for i, r in enumerate(out[0][1]))
    assert tot == pytest.approx(15.0)


def test_make_valid_overlapping_shells_even_odd():
    """VERDICT r3 #4 (former documented divergence, now fixed): two
    mutually-overlapping MultiPolygon shells resolve the GEOS-linework way —
    the doubly-covered square has even winding and is REMOVED, leaving the
    two L-shaped lobes (hand-derived: area 2·(4−1)=6, and the overlap's
    midpoint is inside no output part)."""
    from geopull_spark.kernels.pointops import point_in_geom

    mp = ("MultiPolygon", [
        [np.array([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)], float)],
        [np.array([(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)], float)],
    ])
    out = overlay.make_valid(mp)
    polys = [p for p in out if p[0] == "Polygon"]
    assert len(polys) == 2
    total = sum(area.polygon_area(p[1]) for p in polys)
    assert total == pytest.approx(6.0)
    for p in polys:
        assert not point_in_geom(np.array([1.5]), np.array([1.5]), p)[0]


def test_make_valid_disjoint_parts_stay_byte_identical():
    """Non-interacting MultiPolygon parts keep the byte-stable fast path:
    simple parts pass through with their exact input arrays."""
    a = np.array([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)], float)
    b = np.array([(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)], float)
    out = overlay.make_valid(("MultiPolygon", [[a], [b]]))
    assert len(out) == 2
    got = sorted(wkb.dumps(p) for p in out)
    want = sorted([wkb.dumps(("Polygon", [a])), wkb.dumps(("Polygon", [b]))])
    assert got == want


def test_make_valid_bbox_overlap_disjoint_parts_identity():
    """ADVICE r4: valid, mutually-disjoint parts whose BBOXES overlap
    (interlocking L-shapes) must stay byte-identical — grouping is by
    actual geometric interaction, not bbox overlap, so make_valid is the
    identity like GEOS MakeValid on valid input."""
    # two interlocking Ls: bboxes are both (0..3, 0..3) but interiors and
    # boundaries are disjoint
    a = np.array([(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3), (0, 0)], float)
    b = np.array([(2, 1.5), (3, 1.5), (3, 3), (1.5, 3), (1.5, 2.5),
                  (2, 2.5), (2, 1.5)], float)
    out = overlay.make_valid(("MultiPolygon", [[a], [b]]))
    assert sorted(wkb.dumps(p) for p in out) == sorted(
        [wkb.dumps(("Polygon", [a])), wkb.dumps(("Polygon", [b]))]
    )


def test_make_valid_corner_touch_identity():
    """Parts touching at exactly one shared corner are a VALID MultiPolygon:
    no renode, bytes preserved."""
    a = np.array([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)], float)
    b = np.array([(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)], float)
    out = overlay.make_valid(("MultiPolygon", [[a], [b]]))
    assert sorted(wkb.dumps(p) for p in out) == sorted(
        [wkb.dumps(("Polygon", [a])), wkb.dumps(("Polygon", [b]))]
    )


def test_make_valid_part_in_hole_identity():
    """A part sitting inside another part's hole is valid (interiors
    disjoint): even-odd containment over ALL rings keeps them independent
    and byte-stable."""
    donut_ext = np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], float)
    donut_hole = np.array([(2, 2), (2, 8), (8, 8), (8, 2), (2, 2)], float)
    island = np.array([(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)], float)
    out = overlay.make_valid(("MultiPolygon", [[donut_ext, donut_hole], [island]]))
    assert sorted(wkb.dumps(p) for p in out) == sorted([
        wkb.dumps(("Polygon", [donut_ext, donut_hole])),
        wkb.dumps(("Polygon", [island])),
    ])


def test_make_valid_nested_part_still_joint():
    """A part fully inside another part's INTERIOR still takes the joint
    path (even winding → hole), as before the regrouping."""
    big = np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], float)
    small = np.array([(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)], float)
    out = overlay.make_valid(("MultiPolygon", [[big], [small]]))
    polys = [p for p in out if p[0] == "Polygon"]
    total = sum(area.polygon_area(p[1]) for p in polys)
    assert total == pytest.approx(96.0)  # 100 − 4: nested square becomes a hole


def test_make_valid_archipelago_scales():
    """ADVICE r4 (medium): grouping must be O(n log n + k), not an O(n²)
    Python loop — 20k disjoint islands in one MultiPolygon must group in
    well under a minute (the old loop would do 2×10⁸ Python iterations)."""
    import time

    n = 20000
    xs = (np.arange(n) % 200) * 2.0
    ys = (np.arange(n) // 200) * 2.0
    parts = [
        [np.array([(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1), (x, y)], float)]
        for x, y in zip(xs, ys)
    ]
    t0 = time.time()
    out = overlay.make_valid(("MultiPolygon", parts))
    assert len(out) == n
    assert time.time() - t0 < 30.0


def test_is_simple_large_polygon_no_cap():
    """Round 5: the 400-segment cap is gone — a 5000-vertex valid polygon
    passes through make_valid byte-identical, and the same polygon with one
    crossing injected is still caught."""
    n = 5000
    th = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rad = 1.0 + 0.2 * np.sin(7 * th)
    ring = np.column_stack([rad * np.cos(th), rad * np.sin(th)])
    ring = np.vstack([ring, ring[0]])
    assert overlay.is_simple_polygon([ring])
    out = overlay.make_valid(("Polygon", [ring]))
    assert len(out) == 1 and wkb.dumps(out[0]) == wkb.dumps(("Polygon", [ring]))
    crossed = ring.copy()
    # drag one vertex far outside: its chords must pierce the boundary
    crossed[n // 2] = [3.0, 0.05]
    assert not overlay.is_simple_polygon([crossed])


def test_make_valid_snap_noding_golden():
    """The ONE remaining documented divergence vs GEOS, pinned as a golden:
    self-intersection coordinates are snapped to the exact 1e-9° grid
    (GEOS's floating noder may differ in the last ulp). Bow-tie whose
    crossing is at x=0.4 (not binary-representable): our output vertex is
    exactly dequant(quant(0.4)) = round(0.4e9)·1e-9."""
    from geopull_spark.kernels.polygonize import _quant, _dequant

    ring = np.array([(0, 0), (1, 0.3), (1, 0), (0, 0.2), (0, 0)], float)
    out = overlay.make_valid(("Polygon", [ring]))
    assert len(out) == 2
    expected_x = float(_dequant(_quant(np.array([0.4]))))
    expected_y = float(_dequant(_quant(np.array([0.12]))))
    verts = np.vstack([np.asarray(p[1][0]) for p in out])
    d = np.abs(verts - [expected_x, expected_y]).sum(axis=1)
    assert (d < 1e-15).sum() >= 2  # the snapped crossing appears in both lobes


def test_jpeg_roundtrip_gray_and_rgb():
    """Baseline JPEG codec (r4): encode→decode reproduces smooth images
    closely; exact dimensions on non-multiple-of-8 sizes."""
    from geopull_spark.kernels.jpeg import jpeg_decode, jpeg_encode

    g = np.outer(np.linspace(0, 255, 45), np.ones(59)).astype(np.uint8)
    out = jpeg_decode(jpeg_encode(g, 90))
    assert out.shape == (45, 59)
    assert np.abs(out.astype(float) - g).mean() < 2.0

    x = np.linspace(0, 255, 59)
    rgb = np.stack([np.tile(x, (45, 1)), np.tile(x[::-1], (45, 1)),
                    np.full((45, 59), 128.0)], axis=-1).astype(np.uint8)
    out3 = jpeg_decode(jpeg_encode(rgb, 90))
    assert out3.shape == (45, 59, 3)
    assert np.abs(out3.astype(float) - rgb).mean() < 3.0


def test_jpeg_420_subsampled_decode():
    """Decoder handles 2x2-sampled MCU layout (4:2:0) with odd dimensions."""
    from geopull_spark.kernels.jpeg import jpeg_decode, jpeg_encode

    x = np.linspace(0, 255, 41)
    rgb = np.stack([np.tile(x, (33, 1)), np.tile(x[::-1], (33, 1)),
                    np.full((33, 41), 100.0)], axis=-1).astype(np.uint8)
    out = jpeg_decode(jpeg_encode(rgb, 85, subsample="420"))
    assert out.shape == (33, 41, 3)
    assert np.abs(out.astype(float) - rgb).mean() < 6.0


def test_jpeg_unsupported_and_malformed_raise():
    from geopull_spark.kernels.jpeg import jpeg_decode, jpeg_encode

    with pytest.raises(ValueError):
        jpeg_decode(b"\x00\x01not a jpeg")
    # arithmetic-coded frame marker (SOF9) → loud unsupported error
    g = np.zeros((8, 8), dtype=np.uint8)
    buf = bytearray(jpeg_encode(g, 85))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC9
    with pytest.raises(ValueError, match="SOF9"):
        jpeg_decode(bytes(buf))
    with pytest.raises(ValueError):
        jpeg_decode(b"\xff\xd8\xff\xe0\x00\x00garbage")


def test_jpeg_fill_bytes_before_markers_decode():
    """T.81 §B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker; a spec-conformant padded file must decode identically to the
    unpadded one instead of failing marker alignment (ADVICE r5)."""
    from geopull_spark.kernels.jpeg import jpeg_decode, jpeg_encode

    g = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 251
    buf = jpeg_encode(g, 90)
    base = jpeg_decode(buf)
    # pad before the DQT marker and before EOI with 0xFF fill runs
    i = buf.find(b"\xff\xdb")
    assert i > 0
    padded = buf[:i] + b"\xff" * 3 + buf[i:]
    j = padded.rfind(b"\xff\xd9")
    padded = padded[:j] + b"\xff" * 2 + padded[j:]
    out = jpeg_decode(padded)
    assert np.array_equal(out, base)


def test_jpeg_progressive_bit_identical_to_baseline():
    """Progressive (SOF2) decode, T.81 Annex G: the same quantized
    coefficients entropy-coded with spectral selection + successive
    approximation (DC Al 1→0, AC bands at Al 2→1→0, EOB runs, refinement
    correction bits) must decode to EXACTLY the baseline path's pixels —
    a completely different entropy coding is the cross-check."""
    from geopull_spark.kernels.jpeg import (jpeg_decode, jpeg_encode,
                                            jpeg_encode_progressive)

    rng = np.random.RandomState(7)
    cases = []
    for hh, ww, q in [(9, 9, 30), (24, 40, 85), (56, 33, 95), (64, 64, 60)]:
        grad = np.clip(np.outer(np.linspace(0, 255, hh), np.ones(ww))
                       + rng.randn(hh, ww) * 25, 0, 255).astype(np.uint8)
        cases.append((grad, q))
        cases.append((rng.randint(0, 256, size=(hh, ww, 3)).astype(np.uint8), q))
    for img, q in cases:
        prog = jpeg_encode_progressive(img, q)
        # 8 scans for grayscale, 20 for RGB (DC first/refine + 2 AC bands
        # per component at Al 2→1→0)
        assert b"\xff\xc2" in prog
        assert prog.count(b"\xff\xda\x00") >= (8 if img.ndim == 2 else 20)
        got = jpeg_decode(prog)
        want = jpeg_decode(jpeg_encode(img, q))
        assert np.array_equal(got, want), (img.shape, q)
    # restart markers inside progressive scans: DC preds + EOB runs resync
    img, q = cases[3]
    want = jpeg_decode(jpeg_encode(img, q))
    for ri in (1, 3):
        buf = jpeg_encode_progressive(img, q, restart_interval=ri)
        assert b"\xff\xdd" in buf and b"\xff\xd0" in buf
        assert np.array_equal(jpeg_decode(buf), want), ri


def test_jpeg_multiscan_baseline_raises():
    """ADVICE r4: a baseline multi-scan JPEG (SOS with fewer components
    than the frame — legal per T.81) must raise loudly instead of silently
    decoding only the Y scan as grayscale."""
    from geopull_spark.kernels.jpeg import jpeg_decode, jpeg_encode

    g = np.full((16, 16), 128, dtype=np.uint8)
    rgb = np.stack([g, g, g], axis=-1)
    buf = bytearray(jpeg_encode(rgb, 85))
    i = buf.find(b"\xff\xda")
    assert i >= 0
    seglen = (buf[i + 2] << 8) | buf[i + 3]
    assert seglen == 12 and buf[i + 4] == 3  # 3-component interleaved SOS
    # rewrite to a 1-component scan: keep comp 0 spec + spectral bytes
    new_seg = bytes([0, 8, 1]) + bytes(buf[i + 5:i + 7]) + bytes(buf[i + 11:i + 14])
    patched = bytes(buf[:i + 2]) + new_seg + bytes(buf[i + 2 + seglen:])
    with pytest.raises(ValueError, match="multi-scan"):
        jpeg_decode(patched)


def test_minhash_batch_kernel_bit_identical():
    """VERDICT r4 #6: the batched signature kernel (one pass per Arrow
    batch) must match the per-document kernel bit-for-bit — including docs
    shorter than k, empty docs, seam-adjacent grams, and strides."""
    from geopull_spark.kernels.texthash import minhash_bands, minhash_bands_batch

    rng = np.random.RandomState(11)
    docs = [bytes(rng.randint(32, 127, size=n, dtype=np.uint8).tolist())
            for n in [0, 1, 3, 7, 8, 9, 50, 200, 1000, 4096, 5, 8, 64]]
    docs += [b"aaaaaaaaaaaaaaaa", b"abcabcabcabc", bytes(range(256)) * 4]
    for k, n_bands, stride in [(8, 8, 1), (5, 4, 1), (8, 8, 3), (3, 2, 2)]:
        batch = minhash_bands_batch(docs, k, n_bands, stride)
        for i, d in enumerate(docs):
            single = minhash_bands(d, k, n_bands, stride)
            assert list(batch[i]) == single, (k, n_bands, stride, i)


def test_minhash_arrow_kernel_bit_identical(monkeypatch):
    """The Arrow-buffer signature kernel matches the per-document kernel
    bit for bit: null and empty texts, texts shorter than k, multibyte
    UTF-8, ``string`` and ``large_string``, sliced arrays (non-zero offset),
    one text longer than a window and a batch over many windows, at the
    stride cases of the batch test; once at the module's window size and
    once at a small prime one, so that window seams fall everywhere."""
    import pyarrow as pa

    from geopull_spark.kernels import texthash
    from geopull_spark.kernels.texthash import minhash_bands, minhash_bands_arrow

    rng = np.random.RandomState(17)

    def ascii_text(n):
        return bytes(rng.randint(32, 127, size=n, dtype=np.uint8).tolist()).decode()

    multi = np.array(list("aé ß日本語🙂x"))
    texts = [ascii_text(n) for n in [0, 1, 3, 7, 8, 9, 50, 200, 1000, 4096]]
    texts += [None, "", "aaaaaaaaaaaaaaaa", "héllo wörld", "日本", "🙂🙃", None, "ab"]
    texts += ["".join(rng.choice(multi, size=3000)), ascii_text(2 * texthash._CHUNK + 123)]
    texts += [ascii_text(int(n)) for n in rng.randint(0, 1500, size=120)]
    texts += [None, "".join(rng.choice(multi, size=20))]
    for k, n_bands, stride in [(8, 8, 1), (5, 4, 1), (8, 8, 3), (3, 2, 2)]:
        want = [[None] * n_bands if t is None else minhash_bands(t.encode(), k, n_bands, stride)
                for t in texts]
        for chunk in (texthash._CHUNK, 97):
            monkeypatch.setattr(texthash, "_CHUNK", chunk)
            for typ in (pa.string(), pa.large_string()):
                arr = pa.array(texts, typ)
                for lo, hi in ((0, len(texts)), (11, len(texts) - 3), (17, 17), (20, 21)):
                    got = minhash_bands_arrow(arr[lo:hi], k, n_bands, stride)
                    assert got.type == pa.list_(pa.int64())
                    assert got.to_pylist() == want[lo:hi], (k, stride, chunk, typ, lo, hi)
            monkeypatch.undo()


def test_winnow_batch_kernel_bit_identical():
    """The batched winnowing kernel (one rolling-hash pass per sub-group,
    vectorized cross-doc FNV fold) must match the per-document kernel
    bit-for-bit — empty docs, docs shorter than k, docs with fewer grams
    than one window, heavy-duplicate minima, and multi-chunk batches."""
    from geopull_spark.kernels.texthash import winnow_fingerprint, winnow_fingerprint_batch

    rng = np.random.RandomState(13)
    docs = [bytes(rng.randint(32, 127, size=n, dtype=np.uint8).tolist())
            for n in [0, 1, 3, 7, 8, 9, 10, 33, 50, 200, 1000, 4096]]
    docs += [b"aaaaaaaaaaaaaaaaaaaaaaaa", b"abcabcabcabcabcabc", bytes(range(256)) * 4]
    # low-entropy long docs → many duplicate window minima (exercises the
    # distinct pass); two 300KB docs force a sub-group boundary
    docs += [bytes(rng.randint(97, 101, size=5000, dtype=np.uint8).tolist()),
             bytes(rng.randint(32, 127, size=300_000, dtype=np.uint8).tolist()),
             bytes(rng.randint(32, 127, size=300_000, dtype=np.uint8).tolist())]
    for k, window in [(8, 4), (5, 3), (8, 1), (3, 16)]:
        batch = winnow_fingerprint_batch(docs, k, window)
        for i, d in enumerate(docs):
            assert tuple(batch[i]) == winnow_fingerprint(d, k, window), (k, window, i)


def test_winnow_arrow_kernel_bit_identical(monkeypatch):
    """The Arrow-buffer fingerprint kernel matches the per-document kernel
    bit for bit: null, empty, shorter-than-k and multibyte texts, ``string``
    and ``large_string``, sliced arrays, and sub-groups of the module's
    window size and of a small prime one (one doc longer than a window)."""
    import pyarrow as pa

    from geopull_spark.kernels import texthash
    from geopull_spark.kernels.texthash import winnow_fingerprint, winnow_fingerprint_arrow

    rng = np.random.RandomState(19)
    texts = [None, "", "abc", "héllo wörld", "日本語🙂" * 40, None, "a" * 300]
    texts += [bytes(rng.randint(32, 127, size=int(n), dtype=np.uint8).tolist()).decode()
              for n in rng.randint(0, 1500, size=150)]
    for k, window in [(8, 4), (5, 3), (3, 16)]:
        want = [dict(zip(["fingerprint", "n_fingerprint_grams"],
                         (None, None) if t is None else winnow_fingerprint(t.encode(), k, window)))
                for t in texts]
        for chunk in (texthash._CHUNK, 97):
            monkeypatch.setattr(texthash, "_CHUNK", chunk)
            for typ in (pa.string(), pa.large_string()):
                arr = pa.array(texts, typ)
                for lo, hi in ((0, len(texts)), (5, len(texts) - 2), (9, 9)):
                    got = winnow_fingerprint_arrow(arr[lo:hi], k, window)
                    assert got.to_pylist() == want[lo:hi], (k, window, chunk, typ, lo, hi)
            monkeypatch.undo()


def test_media_decode_fuzz_clean_errors():
    """VERDICT r4 #4 (crawl robustness): random truncation, bit flips, and
    garbage splices over PNG/WAV/JPEG fixtures must either decode or raise a
    clean ValueError/NotImplementedError — never IndexError/KeyError/
    zlib.error/struct.error, and never hang (the JPEG bit-reader zero-pads
    at EOF and the MCU loop is count-bounded)."""
    import time

    from geopull_spark.kernels.jpeg import (jpeg_decode, jpeg_encode,
                                            jpeg_encode_progressive)
    from geopull_spark.kernels.png import png_decode, png_encode, wav_decode, wav_encode

    from geopull_spark.kernels.gif import gif_decode, gif_encode

    g = np.outer(np.linspace(0, 255, 24), np.ones(32)).astype(np.uint8)
    rgb = np.stack([g, g[::-1], np.full_like(g, 70)], axis=-1)
    _grng = np.random.RandomState(5)
    fixtures = {
        "jpeg": (jpeg_encode(rgb, 85), jpeg_decode),
        "jpeg_prog": (jpeg_encode_progressive(rgb, 85), jpeg_decode),
        "png": (png_encode(g, filter_type=2), png_decode),
        "gif": (gif_encode(_grng.randint(0, 16, (24, 32)).astype(np.uint8),
                           _grng.randint(0, 256, (16, 3)).astype(np.uint8),
                           interlace=True, gce=True), gif_decode),
        "png_pal_adam7": (__import__(
            "geopull_spark.kernels.png", fromlist=["png_encode_full"]
        ).png_encode_full(_grng.randint(0, 16, (24, 32)).astype(np.uint8),
                          palette=_grng.randint(0, 256, (16, 3)).astype(np.uint8),
                          depth=4, interlace=True, filter_type=4), png_decode),
        "bmp": (__import__(
            "geopull_spark.kernels.bmp", fromlist=["bmp_encode"]
        ).bmp_encode(_grng.randint(0, 256, (24, 32, 3)).astype(np.uint8)),
            __import__("geopull_spark.kernels.bmp",
                       fromlist=["bmp_decode"]).bmp_decode),
        "wav": (wav_encode(np.arange(-300, 300, dtype=np.int16), rate=8000), wav_decode),
    }
    rng = np.random.RandomState(42)
    n_err = 0
    for name, (buf, dec) in fixtures.items():
        for trial in range(150):
            b = bytearray(buf)
            mode = trial % 3
            if mode == 0:
                b = b[:rng.randint(1, len(b))]
            elif mode == 1:
                for _ in range(rng.randint(1, 6)):
                    i = rng.randint(len(b))
                    b[i] ^= 1 << rng.randint(8)
            else:
                i = rng.randint(len(b))
                b[i:i + 8] = bytes(rng.randint(0, 256, size=8, dtype=np.uint8))
            t0 = time.time()
            try:
                dec(bytes(b))
            except (ValueError, NotImplementedError):
                n_err += 1
            # any other exception type propagates → test fails
            assert time.time() - t0 < 10.0, f"{name} trial {trial} too slow"
    assert n_err > 100  # the fuzz actually hit error paths


def test_jpeg_restart_interval_roundtrip():
    """DRI/RSTn path: encoder emits restart markers, decoder resynchronizes
    (DC predictors reset) — output identical quality to the no-DRI stream."""
    from geopull_spark.kernels.jpeg import jpeg_decode, jpeg_encode

    g = np.outer(np.linspace(0, 255, 48), np.ones(64)).astype(np.uint8)
    plain = jpeg_decode(jpeg_encode(g, 90))
    with_dri = jpeg_decode(jpeg_encode(g, 90, restart_interval=5))
    assert np.array_equal(plain, with_dri)
    rgb = np.stack([g, g[::-1], np.full_like(g, 70)], axis=-1)
    out = jpeg_decode(jpeg_encode(rgb, 85, restart_interval=3))
    assert out.shape == (48, 64, 3)
    assert np.abs(out.astype(float) - rgb).mean() < 2.0


def test_geotiff_roundtrip_all_layouts():
    """From-spec GeoTIFF codec: strip/tile layouts × none/deflate ×
    predictor × byte orders × dtypes roundtrip exactly, and the
    georeferencing affine survives."""
    from geopull_spark.kernels.tiff import tiff_decode, tiff_encode

    rng = np.random.RandomState(5)
    img_u16 = rng.randint(0, 60000, size=(37, 53)).astype(np.uint16)
    img_f32 = (rng.rand(37, 53) * 1e4).astype(np.float32)
    img_u8 = rng.randint(0, 255, size=(37, 53)).astype(np.uint8)
    img_i32 = rng.randint(-5000, 5000, size=(37, 53)).astype(np.int32)
    cases = [
        dict(arr=img_u16, compression=1),
        dict(arr=img_u16, compression=8),
        dict(arr=img_u16, compression=8, predictor=2),
        dict(arr=img_u16, compression=8, tile_size=16),
        dict(arr=img_f32, compression=8, tile_size=32),
        dict(arr=img_u8, compression=1, rows_per_strip=7),
        dict(arr=img_i32, compression=8, byteorder=">"),
        dict(arr=img_u16, compression=1, byteorder=">", tile_size=16),
    ]
    for kw in cases:
        arr = kw.pop("arr")
        buf = tiff_encode(arr, lon0=10.0, lat0=48.5, px_lon=0.01, px_lat=0.02, **kw)
        got, meta = tiff_decode(buf)
        assert got.dtype == arr.dtype and np.array_equal(got, arr), kw
        assert (meta["lon0"], meta["lat0"]) == (10.0, 48.5)
        assert (meta["px_lon"], meta["px_lat"]) == (0.01, 0.02)


def test_geotiff_nodata_and_errors():
    """Nodata surfaces in meta; unsupported shapes and truncation raise a
    clean ValueError (crawl-robustness contract shared with PNG/WAV/JPEG)."""
    import pytest

    from geopull_spark.kernels.tiff import tiff_decode, tiff_encode

    arr = np.arange(64, dtype=np.uint16).reshape(8, 8)
    buf = tiff_encode(arr, 0.0, 1.0, 0.1, 0.1, nodata=7.0)
    got, meta = tiff_decode(buf)
    assert meta["nodata"] == 7.0 and np.array_equal(got, arr)

    with pytest.raises(ValueError):
        tiff_decode(b"XX" + buf[2:])          # bad byte-order mark
    with pytest.raises(ValueError):
        tiff_decode(buf[:30])                  # truncated IFD
    with pytest.raises(ValueError):
        tiff_decode(buf[:-40])                 # pixel bytes beyond EOF
    corrupt = bytearray(tiff_encode(arr, 0, 1, 0.1, 0.1, compression=8))
    corrupt[-10] ^= 0xFF                       # bad deflate stream
    with pytest.raises(ValueError):
        tiff_decode(bytes(corrupt))
    with pytest.raises(ValueError):
        tiff_encode(arr.astype(np.float64), 0, 1, 0.1, 0.1)  # f8 unsupported


def test_tiff_lzw_codec():
    """From-spec TIFF LZW (MSB-first, early change, Clear/EOI): a
    hand-derived spec golden, roundtrips across width growth (9→12 bits)
    and table resets, and clean errors on corrupt streams."""
    from geopull_spark.kernels.tiff import lzw_decode, lzw_encode

    # hand-computed golden for b'\x00\x00\x00':
    # codes 256, 0, 258, 257 at 9 bits → 0x80 0x00 0x20 0x50 0x10
    assert lzw_encode(b"\x00\x00\x00") == bytes([0x80, 0x00, 0x20, 0x50, 0x10])
    assert lzw_decode(bytes([0x80, 0x00, 0x20, 0x50, 0x10])) == b"\x00\x00\x00"

    rng = np.random.RandomState(9)
    cases = [b"", b"a", b"ab" * 5, bytes(range(256)),
             bytes(rng.randint(0, 256, 3000).tolist()),      # 9→10→11 bit widths
             bytes(rng.randint(0, 256, 40000).tolist()),     # forces table reset
             bytes(rng.randint(0, 4, 20000).tolist()),       # long matches
             b"\x00" * 10000]                                 # degenerate runs
    for d in cases:
        assert lzw_decode(lzw_encode(d)) == d, len(d)

    import pytest

    with pytest.raises(ValueError):
        lzw_decode(lzw_encode(b"hello world")[:-3] + b"\xff\xff\xff\xff")
    with pytest.raises(ValueError):
        lzw_decode(lzw_encode(b"x" * 100), max_out=10)


def test_geotiff_lzw_roundtrip():
    from geopull_spark.kernels.tiff import tiff_decode, tiff_encode

    rng = np.random.RandomState(6)
    arr = rng.randint(0, 4000, size=(45, 61)).astype(np.uint16)
    for kw in [dict(compression=5), dict(compression=5, predictor=2),
               dict(compression=5, tile_size=16, byteorder=">")]:
        buf = tiff_encode(arr, 5.0, 50.0, 0.01, 0.01, **kw)
        got, meta = tiff_decode(buf)
        assert np.array_equal(got, arr), kw
        assert meta["compression"] == 5


def test_tiff_packbits_codec():
    """PackBits (TIFF 6.0 §9): spec example roundtrips, runs/literals/128s."""
    from geopull_spark.kernels.tiff import (packbits_decode, packbits_encode,
                                            tiff_decode, tiff_encode)

    # the spec's worked example (§9): unpacked → packed
    unpacked = bytes([0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA,
                      0xAA, 0x80, 0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA,
                      0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA])
    packed = bytes([0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03,
                    0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA])
    assert packbits_encode(unpacked) == packed
    assert packbits_decode(packed) == unpacked

    rng = np.random.RandomState(4)
    for d in [b"", b"a", b"ab" * 200, b"\x00" * 1000,
              bytes(rng.randint(0, 3, 5000).tolist()),
              bytes(rng.randint(0, 256, 5000).tolist())]:
        assert packbits_decode(packbits_encode(d)) == d

    import pytest
    with pytest.raises(ValueError):
        packbits_decode(bytes([0x05, 0x01]))  # literal run beyond EOF

    arr = rng.randint(0, 250, size=(33, 47)).astype(np.uint8)
    got, meta = tiff_decode(tiff_encode(arr, 0.0, 1.0, 0.1, 0.1, compression=32773))
    assert np.array_equal(got, arr) and meta["compression"] == 32773


def test_tiff_float_predictor3():
    """Predictor 3 (TIFF TechNote 3): hand-computed golden pins the wire
    layout (MSB-first byte planes, byte-wise diff), roundtrips across
    compressions/byteorders/layouts, int samples rejected."""
    import pytest
    from geopull_spark.kernels.tiff import tiff_decode, tiff_encode, tiff_parse_meta

    # golden: row [1.0, 2.0] f32 → BE bytes 3F800000 40000000 → planes
    # 3F 40 | 80 00 | 00 00 | 00 00 → diffed 3F 01 40 80 00 00 00 00
    one_row = np.array([[1.0, 2.0]], dtype=np.float32)
    buf = tiff_encode(one_row, 0.0, 1.0, 0.1, 0.1, compression=1, predictor=3,
                      rows_per_strip=1)
    meta = tiff_parse_meta(buf)
    off, cnt = meta["offsets"][0], meta["counts"][0]
    assert buf[off: off + cnt] == bytes([0x3F, 0x01, 0x40, 0x80, 0, 0, 0, 0])
    got, _ = tiff_decode(buf)
    assert np.array_equal(got, one_row)

    rng = np.random.RandomState(11)
    arr = (rng.randn(37, 53) * 100).astype(np.float32)
    for kw in [dict(compression=1), dict(compression=8), dict(compression=5),
               dict(compression=32773), dict(compression=8, byteorder=">"),
               dict(compression=8, tile_size=16)]:
        got, meta = tiff_decode(tiff_encode(arr, 0.0, 1.0, 0.1, 0.1,
                                            predictor=3, **kw))
        assert np.array_equal(got, arr), kw
        assert meta["predictor"] == 3

    with pytest.raises(ValueError):  # predictor 3 on ints
        tiff_encode(np.zeros((4, 4), np.uint8), 0, 1, 0.1, 0.1, predictor=3)
    with pytest.raises(ValueError):  # predictor 2 on floats
        tiff_encode(arr, 0, 1, 0.1, 0.1, predictor=2)


def test_bigtiff():
    """BigTIFF (magic 43): header golden, roundtrips across layouts/endians/
    compressions, LONG8 chunk offsets survive >4 GiB without truncation."""
    import struct

    import pytest
    from geopull_spark.kernels.tiff import tiff_decode, tiff_encode, tiff_parse_meta

    rng = np.random.RandomState(9)
    arr = rng.randint(0, 60000, size=(41, 29)).astype(np.uint16)
    buf = tiff_encode(arr, 5.0, 45.0, 0.1, 0.1, compression=8, bigtiff=True)
    # header: II, magic 43, offset-size 8, reserved 0, first IFD at 16
    assert buf[:16] == b"II" + struct.pack("<HHHQ", 43, 8, 0, 16)
    got, meta = tiff_decode(buf)
    assert np.array_equal(got, arr) and meta["bigtiff"] is True
    assert (meta["lon0"], meta["lat0"]) == (5.0, 45.0)

    for kw in [dict(compression=1, rows_per_strip=8), dict(compression=5),
               dict(compression=32773), dict(byteorder=">", tile_size=16),
               dict(compression=8, byteorder=">")]:
        got, meta = tiff_decode(tiff_encode(arr, 5.0, 45.0, 0.1, 0.1,
                                            bigtiff=True, **kw))
        assert np.array_equal(got, arr), kw
        assert meta["bigtiff"] is True
    fl = (rng.rand(20, 20) * 9).astype(np.float32)
    got, _ = tiff_decode(tiff_encode(fl, 0, 1, 0.1, 0.1, predictor=3, bigtiff=True))
    assert np.array_equal(got, fl)
    # classic files still parse as non-big
    assert tiff_parse_meta(tiff_encode(arr, 5.0, 45.0, 0.1, 0.1))["bigtiff"] is False

    # the point of BigTIFF: a chunk offset beyond 4 GiB. Take a single-strip
    # file (offset inline in the IFD), patch it to 5 GiB, and check the
    # parser returns it unclipped (a u32 reader would wrap to 1 GiB).
    one = tiff_encode(arr, 5.0, 45.0, 0.1, 0.1, compression=1,
                      rows_per_strip=64, bigtiff=True)
    m = tiff_parse_meta(one)
    assert len(m["offsets"]) == 1
    old = m["offsets"][0]
    pos = one.index(struct.pack("<Q", old), 16)
    big_off = 5 << 30
    patched = one[:pos] + struct.pack("<Q", big_off) + one[pos + 8:]
    assert tiff_parse_meta(patched)["offsets"][0] == big_off

    with pytest.raises(ValueError):  # corrupted BigTIFF offset size
        tiff_parse_meta(b"II" + struct.pack("<HHHQ", 43, 4, 0, 16) + b"\x00" * 16)


def test_tiff_overviews_cog():
    """COG overview chain: encode with 2 decimated levels as chained IFDs,
    parse the chain back, decode every level exactly, geo inherited from
    IFD 0 with pixel size scaled by the width ratio."""
    from geopull_spark.kernels.tiff import (tiff_decode, tiff_decode_chunk,
                                            tiff_encode, tiff_parse_meta,
                                            tiff_parse_overviews)

    def assemble(data, meta):
        out = np.zeros((meta["height"], meta["width"]), dtype=np.dtype(meta["dtype"]))
        cw, ch = meta["chunk_width"], meta["chunk_height"]
        for idx, (off, cnt) in enumerate(zip(meta["offsets"], meta["counts"])):
            a = tiff_decode_chunk(meta, idx, data[off: off + cnt])
            ty, tx = divmod(idx, meta["chunks_across"])
            y0 = ty * ch if meta["layout"] == "tile" else idx * ch
            x0 = tx * cw
            ys = min(a.shape[0], meta["height"] - y0)
            xs = min(cw, meta["width"] - x0)
            out[y0: y0 + ys, x0: x0 + xs] = a[:ys, :xs]
        return out

    rng = np.random.RandomState(13)
    arr = rng.randint(0, 5000, size=(64, 48)).astype(np.uint16)
    want = [arr, arr[::2, ::2], arr[::2, ::2][::2, ::2]]
    for kw in [dict(compression=8, rows_per_strip=16, nodata=7.0),
               dict(compression=5, bigtiff=True),
               dict(compression=1, tile_size=16, byteorder=">")]:
        buf = tiff_encode(arr, 10.0, 50.0, 0.25, 0.5, overviews=2, **kw)
        metas = tiff_parse_overviews(buf)
        assert [m["width"] for m in metas] == [48, 24, 12]
        assert [m["height"] for m in metas] == [64, 32, 16]
        for m, w in zip(metas, want):
            assert np.array_equal(assemble(buf, m), w), kw
        # geo: shared anchor, pixel size doubles per level; nodata inherited
        assert all((m["lon0"], m["lat0"]) == (10.0, 50.0) for m in metas)
        assert [m["px_lon"] for m in metas] == [0.25, 0.5, 1.0]
        assert [m["px_lat"] for m in metas] == [0.5, 1.0, 2.0]
        if kw.get("nodata"):
            assert all(m["nodata"] == 7.0 for m in metas)
        # first IFD unchanged for plain readers
        full, meta0 = tiff_decode(buf)
        assert np.array_equal(full, arr) and meta0["width"] == 48
    # no-overview files: chain of one
    assert len(tiff_parse_overviews(tiff_encode(arr, 0, 1, 0.1, 0.1))) == 1


def test_gif_codec():
    """GIF87a/89a: LZW wire golden pins the LSB-first width-bump convention,
    image roundtrips across palettes/interlace/extensions, table-overflow
    restart, error paths."""
    import pytest

    from geopull_spark.kernels.gif import (gif_decode, gif_encode,
                                           gif_lzw_decode, gif_lzw_encode)

    # hand-derived golden, mcs=2 (clear=4, eoi=5), pixels 0 1 2 0 1 2:
    # codes (4,w3)(0,w3)(1,w3)(2,w3) — entry 8 = 2^3 assigned here, width
    # bumps — (6,w4)(2,w4)(5,w4); LSB-first packing → 44 64 52
    data = bytes([0, 1, 2, 0, 1, 2])
    assert gif_lzw_encode(data, 2) == bytes([0x44, 0x64, 0x52])
    assert gif_lzw_decode(bytes([0x44, 0x64, 0x52]), 2, max_out=6) == data

    rng = np.random.RandomState(3)
    # table-overflow restart: 50k random bytes force >4096 entries
    big = bytes(rng.randint(0, 256, 50000).tolist())
    assert gif_lzw_decode(gif_lzw_encode(big, 8), 8, max_out=len(big)) == big

    for trial in range(4):
        h, w = rng.randint(5, 90), rng.randint(5, 90)
        n = int(rng.choice([2, 7, 64, 256]))
        pal = rng.randint(0, 256, size=(n, 3)).astype(np.uint8)
        idx = rng.randint(0, n, size=(h, w)).astype(np.uint8)
        for interlace in (False, True):
            for gce in (False, True):
                buf = gif_encode(idx, pal, interlace=interlace, gce=gce)
                assert np.array_equal(gif_decode(buf), pal[idx]), \
                    (trial, interlace, gce)

    with pytest.raises(ValueError):
        gif_decode(b"GIF90a" + b"\x00" * 20)  # bad signature
    with pytest.raises(ValueError):
        gif_decode(b"GIF89a" + b"\x00" * 7 + b"\x3b")  # no image data
    ok = gif_encode(np.zeros((4, 4), np.uint8), np.zeros((2, 3), np.uint8))
    with pytest.raises(ValueError):  # truncated mid color table
        gif_decode(ok[:14])


def test_png_extended_shapes():
    """Real-crawl PNG shapes: palette 1/2/4/8-bit, sub-byte gray, 16-bit
    gray/RGB (high-byte preview), RGBA, Adam7 interlace, all byte-level
    filters; legacy 8-bit surface unchanged."""
    import pytest

    from geopull_spark.kernels.png import png_decode, png_encode, png_encode_full

    rng = np.random.RandomState(6)
    g = rng.randint(0, 256, (20, 30)).astype(np.uint8)
    for ft in range(5):  # legacy path untouched
        assert np.array_equal(png_decode(png_encode(g, filter_type=ft))[:, :, 0], g)

    for depth in (1, 2, 4, 8):
        idx = rng.randint(0, 1 << depth, (19, 27)).astype(np.uint8)
        pal = rng.randint(0, 256, (1 << depth, 3)).astype(np.uint8)
        for il in (False, True):
            for ft in (0, 1, 4):
                buf = png_encode_full(idx, palette=pal, depth=depth,
                                      interlace=il, filter_type=ft)
                assert np.array_equal(png_decode(buf), pal[idx]), (depth, il, ft)

    for depth in (1, 2, 4):
        gq = rng.randint(0, 1 << depth, (23, 17)).astype(np.uint8)
        got = png_decode(png_encode_full(gq, depth=depth, interlace=True,
                                         filter_type=2))
        want = (gq.astype(np.int64) * (255 // ((1 << depth) - 1)))
        assert np.array_equal(got, want.astype(np.uint8)[:, :, None]), depth

    rgb16 = rng.randint(0, 65536, (9, 31, 3)).astype(np.uint16)
    for il in (False, True):
        got = png_decode(png_encode_full(rgb16, depth=16, interlace=il,
                                         filter_type=4))
        assert np.array_equal(got, (rgb16 >> 8).astype(np.uint8)), il
    rgba = rng.randint(0, 256, (14, 14, 4)).astype(np.uint8)
    assert np.array_equal(
        png_decode(png_encode_full(rgba, interlace=True, filter_type=1)), rgba)

    # paletted stream with no PLTE / index beyond PLTE → clean errors
    buf = png_encode_full(np.zeros((4, 4), np.uint8),
                          palette=np.zeros((2, 3), np.uint8), depth=8)
    no_plte = buf.replace(b"PLTE", b"pLTe")
    with pytest.raises(ValueError):
        png_decode(no_plte)


def test_wav_sample_formats():
    """WAV real-crawl sample formats: PCM 8/16/24/32-bit + IEEE float32,
    all normalized to int16; 24/32-bit and float roundtrip exactly, 8-bit
    keeps the high byte."""
    from geopull_spark.kernels.png import wav_decode, wav_encode

    rng = np.random.RandomState(12)
    s = rng.randint(-32768, 32768, 400).astype(np.int16)
    for bits in (16, 24, 32):
        got, rate = wav_decode(wav_encode(s, rate=44100, bits=bits))
        assert rate == 44100 and np.array_equal(got, s), bits
    got, _ = wav_decode(wav_encode(s, bits=8))
    assert np.array_equal(got, (s.astype(np.int32) >> 8 << 8).astype(np.int16))
    got, _ = wav_decode(wav_encode(s, float32=True))
    assert np.abs(got.astype(np.int32) - s.astype(np.int32)).max() <= 1

    import pytest
    with pytest.raises(ValueError):
        wav_encode(s, bits=12)
    # fmt 3 must be 32-bit; 12-bit PCM unsupported → loud errors
    buf = bytearray(wav_encode(s, bits=16))
    i = buf.find(b"fmt ")
    buf[i + 22] = 12  # bits field
    with pytest.raises(ValueError):
        wav_decode(bytes(buf))


def test_bmp_codec():
    """BMP: 24-bit BGR bottom-up/top-down, 32-bit, palette 1/4/8-bit with
    4-byte row padding, clean errors on RLE/short data."""
    import pytest

    from geopull_spark.kernels.bmp import bmp_decode, bmp_encode

    rng = np.random.RandomState(14)
    rgb = rng.randint(0, 256, (21, 35, 3)).astype(np.uint8)
    for td in (False, True):
        assert np.array_equal(bmp_decode(bmp_encode(rgb, top_down=td)), rgb), td
    for depth in (1, 4, 8):
        pal = rng.randint(0, 256, (1 << depth, 3)).astype(np.uint8)
        idx = rng.randint(0, 1 << depth, (13, 29)).astype(np.uint8)
        got = bmp_decode(bmp_encode(idx, palette=pal, bpp=depth))
        assert np.array_equal(got, pal[idx]), depth
    # 32-bit BGRA: splice alpha into a 24-bit encode manually
    buf32 = bmp_encode(rgb)  # start from 24-bit then rebuild as 32
    import struct as _s
    a = np.dstack([rgb[:, :, ::-1], np.full(rgb.shape[:2], 200, np.uint8)])
    h, w = rgb.shape[:2]
    data = a[::-1].reshape(h, w * 4).tobytes()
    hdr = b"BM" + _s.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 0, len(data), 0, 0, 0, 0)
    assert np.array_equal(bmp_decode(hdr + info + data), rgb)

    with pytest.raises(ValueError):
        bmp_decode(b"BM" + b"\x00" * 60)  # zero dims
    rle = bytearray(bmp_encode(rgb))
    rle[30] = 1  # BI_RLE8 flag on a 24-bit image is invalid
    with pytest.raises(ValueError, match="RLE8"):
        bmp_decode(bytes(rle))
    with pytest.raises(ValueError):
        bmp_decode(bmp_encode(rgb)[:100])  # truncated pixels


def test_bmp_rle8():
    """BI_RLE8: run/EOL/EOF roundtrip through the fixture encoder, plus
    hand-built delta and absolute-mode escapes with word padding."""
    import struct as _s

    import pytest

    from geopull_spark.kernels.bmp import bmp_decode, bmp_encode

    rng = np.random.RandomState(16)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    # runs-heavy image so RLE actually compresses
    idx = np.repeat(rng.randint(0, 256, (17, 8)).astype(np.uint8), 4, axis=1)
    buf = bmp_encode(idx, palette=pal, bpp=8, rle8=True)
    assert len(buf) < len(bmp_encode(idx, palette=pal, bpp=8))  # it compresses
    assert np.array_equal(bmp_decode(buf), pal[idx])

    # hand-built stream: run, absolute mode (odd n → pad byte), delta skip
    # (skipped pixels stay palette[0]), EOL, EOF
    w, h = 10, 3
    stream = bytes([4, 7]) + bytes([0, 3, 1, 2, 3, 0]) + bytes([0, 2, 2, 1]) \
        + bytes([1, 9]) + bytes([0, 0]) + bytes([3, 5]) + bytes([0, 1])
    pal_q = np.zeros((256, 4), np.uint8)
    pal_q[:, [2, 1, 0]] = pal
    data_off = 14 + 40 + len(pal_q.tobytes())
    info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(stream), 0, 0, 256, 0)
    hdr = b"BM" + _s.pack("<IHHI", data_off + len(stream), 0, 0, data_off)
    got = bmp_decode(hdr + info + pal_q.tobytes() + stream)
    grid = np.zeros((h, w), np.uint8)
    grid[0, :4] = 7           # run
    grid[0, 4:7] = [1, 2, 3]  # absolute (padded to word)
    grid[1, 9] = 9            # delta dx=2, dy=1 → cursor (9, 1), run of 1
    grid[2, :3] = 5           # after EOL
    assert np.array_equal(got, pal[grid[::-1]])  # stored bottom-up

    with pytest.raises(ValueError):  # missing EOF escape
        bmp_decode(hdr + info + pal_q.tobytes() + bytes([4, 7]))


def test_dp_simplify_properties():
    """Douglas–Peucker: kept vertices are an ordered subset, endpoints
    fixed, EVERY dropped vertex within tol of the simplified polyline,
    collinear chains collapse to endpoints, rings stay closed and valid,
    idempotent."""
    from geopull_spark.kernels.pointops import dp_simplify, simplify_geom
    from geopull_spark.kernels.wkb import dumps, loads

    def max_dev(orig, simp):
        # min distance of each original vertex to the simplified segments
        worst = 0.0
        for p in orig:
            best = np.inf
            for a, b in zip(simp[:-1], simp[1:]):
                seg = b - a
                L2 = seg @ seg
                t = 0.0 if L2 == 0 else np.clip(((p - a) @ seg) / L2, 0, 1)
                best = min(best, float(np.hypot(*(p - (a + t * seg)))))
            worst = max(worst, best)
        return worst

    rng = np.random.RandomState(15)
    for trial in range(8):
        n = rng.randint(5, 200)
        pts = np.cumsum(rng.randn(n, 2), axis=0)
        tol = float(rng.choice([0.05, 0.3, 1.0, 5.0]))
        s = dp_simplify(pts, tol)
        assert np.array_equal(s[0], pts[0]) and np.array_equal(s[-1], pts[-1])
        # ordered subset
        idx = [np.flatnonzero((pts == v).all(axis=1))[0] for v in s]
        assert idx == sorted(idx)
        assert max_dev(pts, s) <= tol + 1e-9, (trial, tol)
        assert np.array_equal(dp_simplify(s, tol), s)  # idempotent

    line = np.array([[0, 0], [1, 0.0], [2, 0], [3, 0], [4, 0]], float)
    assert len(dp_simplify(line, 1e-9)) == 2  # collinear → endpoints

    # ring: noisy circle simplifies to a closed valid ring within tol
    th = np.linspace(0, 2 * np.pi, 100, endpoint=False)
    ring = np.stack([np.cos(th), np.sin(th)], axis=1)
    ring = np.vstack([ring, ring[:1]])
    g = simplify_geom(("Polygon", [ring]), 0.05)
    out = np.asarray(g[1][0])
    assert np.array_equal(out[0], out[-1]) and 4 <= len(out) < len(ring)
    assert max_dev(ring, out) <= 0.05 + 1e-9
    # collapse: tiny triangle under a huge tol → whole polygon dropped
    tri = np.array([[0, 0], [1e-6, 0], [0, 1e-6], [0, 0]], float)
    assert simplify_geom(("Polygon", [tri]), 1.0) is None
    # multipolygon: collapsed part dropped, survivor kept; WKB roundtrips
    mp = ("MultiPolygon", [[ring], [tri]])
    g2 = simplify_geom(mp, 0.05)
    assert g2[0] == "MultiPolygon" and len(g2[1]) == 1
    assert loads(dumps(g2))[0] == "MultiPolygon"


# ---------------------------------------------------------------- flat batch
@pytest.fixture(scope="module")
def kernel_world():
    """A seeded street grid over a land square with a lake, without Spark:
    its raw polygonize faces (``blocker._make_blocks``, as WKB), the
    finished blocks of the blocker's group kernel, and the two segment
    soups that kernel nodes (the raw lines, and the clipped lines with the
    land enclosure)."""
    import pandas as pd

    from geopull_spark.kernels.clip import clip_segments_to_polygons
    from geopull_spark.operators import blocker

    rng = np.random.default_rng(11)
    lake = [(0.41, 0.4), (0.6, 0.42), (0.58, 0.57), (0.43, 0.55)]
    land = wkb.polygon(UNIT_SQ, holes=[lake])
    lines = []
    for k in range(1, 24):
        x, y = k / 24 + rng.uniform(-0.01, 0.01, 2)
        lines.append(wkb.linestring([(x, -0.05), (x + rng.uniform(-0.03, 0.03), 1.05)]))
        lines.append(wkb.linestring([(-0.05, y), (0.5, y + rng.uniform(-0.01, 0.01)),
                                     (1.05, y + rng.uniform(-0.03, 0.03))]))
    lines.append(wkb.linestring([(0.0, 0.0), (1.0, 1.0)]))  # through grid nodes
    lines.append(wkb.linestring([(0.2, 0.2), (0.23, 0.21)]))  # dangle
    land_pdf = pd.DataFrame({"region_code": ["AAA"], "part_id": [0], "geometry": [land]})
    lines_pdf = pd.DataFrame({"l_geometry": lines})
    post = blocker._block_cogroup(land_pdf, lines_pdf)
    parts = [wkb.loads(land)]
    line_segs = polygonize.geoms_to_segments([wkb.loads(b) for b in lines])
    raw = [wkb.dumps(b) for b in blocker._make_blocks(parts, line_segs)]
    clipped = clip_segments_to_polygons(line_segs, parts)
    enclosure = polygonize.geoms_to_segments([("LineString", parts[0][1][0])])
    soups = [line_segs, np.vstack([clipped, enclosure])]
    return {"raw": raw, "post": post, "land": land, "lines": lines, "soups": soups}


def _batch_fixtures():
    import struct

    sq = np.array(TWO_SQ + [TWO_SQ[0]], dtype=float)
    hole = np.array(UNIT_SQ[::-1] + [UNIT_SQ[-1]], dtype=float) * 0.5 + 0.5
    geoms = [
        ("Polygon", [sq, hole]),
        ("MultiPolygon", [[sq], [sq + 5, hole + 5]]),
        ("GeometryCollection", [("Point", np.array([1.0, 2.0])), ("LineString", sq[:3]),
                                ("Polygon", [sq, hole])]),
        ("MultiPoint", [np.array([1.0, 2.0]), np.array([3.0, 4.0])]),
        ("MultiLineString", [sq[:2], sq[1:]]),
        ("Point", np.array([np.nan, np.nan])),  # empty point
        ("Polygon", []),
        ("LineString", np.zeros((0, 2))),
        ("MultiPolygon", []),
        ("GeometryCollection", []),
    ]
    bufs = [wkb.dumps(g) for g in geoms]
    # big-endian EWKB with an SRID: parses to the little-endian encoding
    be = b"\x00" + struct.pack(">III", 3 | 0x20000000, 4326, 2)
    for ring in (sq, hole):
        be += struct.pack(">I", len(ring)) + ring.astype(">f8").tobytes()
    bufs.append(be)
    return bufs


def test_flat_batch_wkb_roundtrip_byte_identical(kernel_world):
    """WKB → flat batch → WKB gives back the bytes ``dumps(loads(b))``
    gives, for every block the blocker built (raw faces and canonical
    output) and for every geometry type, empty ones and big-endian EWKB."""
    blocks = kernel_world["raw"] + [bytes(b) for b in kernel_world["post"]["geometry"]]
    assert len(blocks) > 400
    assert wkb.encode(wkb.decode(blocks)) == blocks
    bufs = _batch_fixtures()
    want = [wkb.dumps(wkb.loads(b)) for b in bufs]
    assert want[:-1] == bufs[:-1] and want[-1] == bufs[0]
    batch = wkb.decode(bufs)
    assert wkb.encode(batch) == want
    assert wkb.encode(wkb.from_geoms([wkb.loads(b) for b in bufs])) == want
    assert [wkb.dumps(wkb.geom_at(batch, i)) for i in range(len(bufs))] == want
    for i, b in enumerate(want):
        g = wkb.loads(b)
        if any(len(c) for c in wkb._coord_arrays(g)):
            assert tuple(wkb.batch_bounds(batch)[i]) == pytest.approx(
                wkb.bounds(g), nan_ok=True)
        else:
            assert np.isnan(wkb.batch_bounds(batch)[i]).all()
    nested = wkb.dumps(("GeometryCollection", [("MultiPoint", [np.zeros(2)])]))
    with pytest.raises(wkb.WKBError):
        wkb.decode([nested])


def test_segment_sums_match_np_sum():
    """The batched sums reproduce np.sum bit for bit, across numpy's
    8-lane, pairwise-split and buffer-chunk regimes."""
    rng = np.random.default_rng(3)
    lens = np.concatenate([np.arange(0, 300), rng.integers(0, 20_000, 12)])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    t = rng.standard_normal(int(lens.sum())) * 10.0 ** rng.uniform(-6, 12, int(lens.sum()))
    got = area.segment_sums(t, starts, lens)
    want = np.array([np.sum(t[s:s + n]) for s, n in zip(starts, lens)])
    assert np.array_equal(got, want)


def test_batch_area_m2_bit_identical(kernel_world):
    """Batched areas equal per-geometry ``geom_area_m2`` exactly: world
    blocks, the holed land, every fixture type, and rings long enough for
    numpy's pairwise split (> 128) and buffer chunks (> 8192)."""
    t = np.linspace(0, 2 * np.pi, 20_001)
    circle = np.column_stack([10 + np.cos(t), 50 + 0.7 * np.sin(t)])
    circle[-1] = circle[0]
    bufs = kernel_world["raw"] + [kernel_world["land"], wkb.polygon(circle[:-1]),
                                  wkb.polygon(circle[:300])]
    bufs += _batch_fixtures()
    got = area.batch_area_m2(wkb.decode(bufs))
    want = np.array([area.wkb_area_m2(b) for b in bufs])
    assert np.array_equal(got, want)
    assert np.array_equal(area.ring_signed_areas(circle, np.array([0, len(circle)])),
                          [area.ring_signed_area(circle)])


def _candidate_pairs_per_cell(q, max_pairs=50_000_000):
    """The per-cell reference for ``polygonize._candidate_pairs``: the same
    grid, then one ``np.triu_indices`` per occupied cell."""
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
    cell = max(span * 2, 1)
    nx = int((gmaxx - gminx) // cell) + 1
    ny = int((gmaxy - gminy) // cell) + 1
    while nx * ny > 4 * n + 16:
        cell *= 2
        nx = int((gmaxx - gminx) // cell) + 1
        ny = int((gmaxy - gminy) // cell) + 1
    bins: dict = {}
    for s in range(n):
        for bx in range(int((minx[s] - gminx) // cell), int((maxx[s] - gminx) // cell) + 1):
            for by in range(int((miny[s] - gminy) // cell), int((maxy[s] - gminy) // cell) + 1):
                bins.setdefault(bx * ny + by, []).append(s)
    pairs = []
    total = 0
    for key in sorted(bins):
        ids = np.sort(np.asarray(bins[key], dtype=np.int64))
        c = len(ids)
        if c < 2:
            continue
        ii, jj = np.triu_indices(c, k=1)
        total += len(ii)
        if total > max_pairs:
            raise MemoryError("noding candidate pairs exceed cap")
        pairs.append(np.column_stack([ids[ii], ids[jj]]))
    if not pairs:
        return np.zeros((0, 2), dtype=np.int64)
    pairs = np.unique(np.vstack(pairs), axis=0)
    i, j = pairs[:, 0], pairs[:, 1]
    ok = ((minx[i] <= maxx[j]) & (maxx[i] >= minx[j])
          & (miny[i] <= maxy[j]) & (maxy[i] >= miny[j]))
    return pairs[ok]


def _node_round_dict(q):
    """The per-split-point reference for ``polygonize._node_round``: split
    points gathered in a dict per segment, one chain built per segment."""
    n = len(q)
    if n < 2:
        return q, False
    pairs = _candidate_pairs_per_cell(q)
    if len(pairs) == 0:
        return q, False
    f = q.astype(np.float64)
    i, j = pairs[:, 0], pairs[:, 1]
    p, r = f[i, 0:2], f[i, 2:4] - f[i, 0:2]
    s0, s = f[j, 0:2], f[j, 2:4] - f[j, 0:2]
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = s0 - p
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / denom
        u = (qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]) / denom
    eps = 1e-12
    proper = (np.abs(denom) > eps) & (t > eps) & (t < 1 - eps) & (u > eps) & (u < 1 - eps)
    split_pts: dict = {}

    def add_split(seg_idx_arr, pts_q):
        for k in range(len(seg_idx_arr)):
            split_pts.setdefault(int(seg_idx_arr[k]), []).append(pts_q[k])

    if proper.any():
        ipq = np.round(p[proper] + t[proper, None] * r[proper]).astype(np.int64)
        add_split(i[proper], ipq)
        add_split(j[proper], ipq)
    for (src, dst) in ((j, i), (i, j)):
        for end in (0, 2):
            pt = f[src][:, end:end + 2]
            a, b = f[dst][:, 0:2], f[dst][:, 2:4]
            ab, ap = b - a, pt - a
            cross = ab[:, 0] * ap[:, 1] - ab[:, 1] * ap[:, 0]
            ab_len2 = np.einsum("ij,ij->i", ab, ab)
            tt = np.einsum("ij,ij->i", ap, ab) / np.maximum(ab_len2, 1)
            on = (np.abs(cross) <= 0.75 * np.sqrt(ab_len2)) & (tt > eps) & (tt < 1 - eps)
            if on.any():
                add_split(dst[on], q[src][on, end:end + 2])
    if not split_pts:
        return q, False
    keep = np.ones(n, dtype=bool)
    new_segs = []
    for idx, pts in split_pts.items():
        a, b = q[idx, 0:2], q[idx, 2:4]
        pts_arr = np.unique(np.asarray(pts, dtype=np.int64), axis=0)
        d = b.astype(np.float64) - a.astype(np.float64)
        tvals = ((pts_arr - a) @ d) / max(float(d @ d), 1.0)
        chain = np.vstack([a, pts_arr[np.argsort(tvals)], b])
        keep[idx] = False
        new_segs.append(np.column_stack([chain[:-1], chain[1:]]))
    q = np.vstack([q[keep]] + new_segs)
    return polygonize._dedupe_segments(q), True


def _node_segments_dict(segments, max_rounds=3):
    q = polygonize._quant(segments.reshape(-1, 2)).reshape(-1, 4)
    q = polygonize._dedupe_segments(q)
    for _ in range(max_rounds):
        q, changed = _node_round_dict(q)
        if not changed:
            break
    return q


def _quantized(segments):
    return polygonize._dedupe_segments(
        polygonize._quant(np.asarray(segments, dtype=float).reshape(-1, 2)).reshape(-1, 4))


def test_candidate_pairs_match_per_cell_reference(kernel_world):
    """One repeat/cumsum construction gives the per-cell loop's pair array:
    on the world's soups, with every segment in one cell, with segments
    spanning many cells, for n < 2, and at the ``max_pairs`` cap."""
    rng = np.random.default_rng(5)
    one_cell = [(0.0, y, 1e-6, 1e-7 - y) for y in np.linspace(0, 1e-7, 40)]  # a fan
    short = rng.uniform(0, 1e-3, (300, 2))
    many = np.vstack([np.column_stack([short, short + rng.uniform(0, 1e-5, (300, 2))]),
                      [[0, 0, 1e-3, 1e-3], [0, 1e-3, 1e-3, 0], [0, 5e-4, 1e-3, 5e-4]]])
    soups = [_quantized(s) for s in kernel_world["soups"]]
    soups += [_quantized(one_cell), _quantized(many)]
    for q in soups:
        assert np.array_equal(polygonize._candidate_pairs(q), _candidate_pairs_per_cell(q))
    for q in (np.zeros((0, 4), dtype=np.int64), soups[-1][:1]):
        assert polygonize._candidate_pairs(q).shape == (0, 2)
    q = soups[-2]  # one cell of 40 segments: 780 raw pairs
    assert len(polygonize._candidate_pairs(q, max_pairs=780)) == 780
    for fn in (polygonize._candidate_pairs, _candidate_pairs_per_cell):
        with pytest.raises(MemoryError):
            fn(q, max_pairs=779)


def test_node_segments_match_dict_reference(kernel_world):
    """Split points gathered as arrays node every soup exactly as the
    per-point dict did: the world's soups, and T-junction, collinear-overlap,
    crossing and many-splits fixtures."""
    fan = [(0.0, 0.0, 1.0, 0.0)] + [(x, -0.1, x + 0.01, 0.1) for x in np.linspace(0.05, 0.95, 30)]
    fixtures = [
        [(0.0, 0.0, 2.0, 0.0), (1.0, 0.0, 1.0, 1.0)],  # T-junction
        [(0.0, 0.0, 2.0, 0.0), (1.0, 0.0, 3.0, 0.0), (0.5, 0.0, 0.5, 1.0)],  # collinear
        [(0.0, 0.0, 1.0, 1.0), (0.0, 1.0, 1.0, 0.0), (0.0, 0.5, 1.0, 0.5)],  # crossings
        fan,  # one segment split 30 times
    ]
    for segs in kernel_world["soups"] + [np.asarray(f, dtype=float) for f in fixtures]:
        assert np.array_equal(polygonize.node_segments(segs), _node_segments_dict(segs))
