"""Arrow-batched pandas UDFs wrapping the numpy geometry kernels.

These are the engine's scalar geometry functions (SURVEY.md §2.8). Each is a
Series→Series pandas UDF: WKB bytes in, primitive/struct/array out. No
per-row Python objects cross the JVM↔Python boundary outside Arrow batches
(BASELINE.json input_hint hard requirement).

Per-batch memoization: repeated WKB values within a batch (common after
cell-explode joins, where one block meets many docs) are decoded once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import area as _area
from ..kernels import cells as _cells
from ..kernels import overlay as _overlay
from ..kernels import pointops as _pointops
from ..kernels import wkb as _wkb

BBOX_TYPE = T.StructType(
    [
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)

POINT_TYPE = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)


@pandas_udf(T.DoubleType())
def st_area_m2(wkb_col: pd.Series) -> pd.Series:
    """Metric EPSG:3395 area (reference F5, blocker.py:100)."""
    cache: dict[bytes, float] = {}
    out = np.zeros(len(wkb_col))
    for i, buf in enumerate(wkb_col):
        if buf is None:
            continue
        key = bytes(buf)
        if key not in cache:
            cache[key] = _area.wkb_area_m2(key)
        out[i] = cache[key]
    return pd.Series(out)


@pandas_udf(T.StringType())
def st_geom_type(wkb_col: pd.Series) -> pd.Series:
    out = []
    for buf in wkb_col:
        out.append(None if buf is None else _wkb.loads(bytes(buf))[0])
    return pd.Series(out, dtype=object)


@pandas_udf(BBOX_TYPE)
def st_bbox(wkb_col: pd.Series) -> pd.DataFrame:
    n = len(wkb_col)
    arr = np.full((n, 4), np.nan)
    for i, buf in enumerate(wkb_col):
        if buf is not None:
            arr[i] = _wkb.bounds(_wkb.loads(bytes(buf)))
    return pd.DataFrame(arr, columns=["minx", "miny", "maxx", "maxy"])


@pandas_udf(POINT_TYPE)
def st_rep_point(wkb_col: pd.Series) -> pd.DataFrame:
    """Point guaranteed inside the polygon (reference F2, blocker.py:308)."""
    n = len(wkb_col)
    arr = np.full((n, 2), np.nan)
    for i, buf in enumerate(wkb_col):
        if buf is None:
            continue
        g = _wkb.loads(bytes(buf))
        if g[0] == "Polygon":
            arr[i] = _pointops.representative_point(g[1])
        elif g[0] == "MultiPolygon" and g[1]:
            arr[i] = _pointops.representative_point(g[1][0])
        elif g[0] == "Point":
            arr[i] = g[1]
    return pd.DataFrame(arr, columns=["x", "y"])


def st_geohash(lat_col, lon_col, precision: int = 12):
    """Geohash of (lat, lon) — reference F1 block-ID scheme (blocker.py:308-310)."""

    @pandas_udf(T.StringType())
    def _gh(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            _cells.geohash_encode(lat.to_numpy(np.float64), lon.to_numpy(np.float64), precision),
            dtype=object,
        )

    return _gh(lat_col, lon_col)


def st_cell(lon_col, lat_col, res: int):
    """Quadtree cell id of a point at resolution ``res`` (join key)."""

    @pandas_udf(T.LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(_cells.cell_id(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res))

    return _cell(lon_col, lat_col)


def st_cover_cells(wkb_col, res: int):
    """Cells covering the geometry bbox → explode for the cell-key join
    (SURVEY.md J1-J4/J7 two-phase spatial join)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _cover(wkbs: pd.Series) -> pd.Series:
        out = []
        for buf in wkbs:
            if buf is None:
                out.append([])
                continue
            b = _wkb.bounds(_wkb.loads(bytes(buf)))
            out.append(_cells.cover_bbox(b[0], b[1], b[2], b[3], res).tolist())
        return pd.Series(out, dtype=object)

    return _cover(wkb_col)


def st_simplify(wkb_col, tol: float):
    """Douglas–Peucker simplification (non-topology-preserving, the GEOS
    ``simplify`` shape): kept vertices are a subset of the input, endpoints
    / ring closure preserved, every dropped vertex within ``tol`` of the
    simplified line. Parts that collapse below a valid ring are dropped
    (NULL when nothing survives). Arrow-batched, no per-row Python beyond
    the numpy kernel."""

    @pandas_udf(T.BinaryType())
    def _simp(wkbs: pd.Series) -> pd.Series:
        out = []
        for buf in wkbs:
            if buf is None:
                out.append(None)
                continue
            g = _pointops.simplify_geom(_wkb.loads(bytes(buf)), tol)
            out.append(None if g is None else _wkb.dumps(g))
        return pd.Series(out, dtype=object)

    return _simp(wkb_col)


def st_k_ring(cell_col, k: int = 1):
    @pandas_udf(T.ArrayType(T.LongType()))
    def _kr(cell: pd.Series) -> pd.Series:
        rings = _cells.k_ring(cell.to_numpy(np.int64), k)
        return pd.Series([row.tolist() for row in rings], dtype=object)

    return _kr(cell_col)


@pandas_udf(T.BooleanType())
def st_contains_point(wkb_col: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Exact PIP refine after the cell-key equi-join (reference J7).

    Groups the Arrow batch by identical polygon WKB so each polygon is decoded
    once and tested against all its candidate points vectorized.
    """
    px = lon.to_numpy(np.float64)
    py = lat.to_numpy(np.float64)
    out = np.zeros(len(wkb_col), dtype=bool)
    groups: dict[bytes, list[int]] = {}
    for i, buf in enumerate(wkb_col):
        if buf is not None:
            groups.setdefault(bytes(buf), []).append(i)
    for buf, idxs in groups.items():
        g = _wkb.loads(buf)
        ii = np.asarray(idxs)
        out[ii] = _pointops.point_in_geom(px[ii], py[ii], g)
    return pd.Series(out)


@pandas_udf(T.ArrayType(T.BinaryType()))
def st_explode_parts(wkb_col: pd.Series) -> pd.Series:
    """Multi* → parts (reference F4, gdf.explode at blocker.py:55)."""
    out = []
    for buf in wkb_col:
        if buf is None:
            out.append([])
        else:
            out.append([_wkb.dumps(p) for p in _wkb.get_parts(_wkb.loads(bytes(buf)))])
    return pd.Series(out, dtype=object)


@pandas_udf(T.ArrayType(T.BinaryType()))
def st_make_valid_parts(wkb_col: pd.Series) -> pd.Series:
    """make_valid, possibly splitting (reference F3, blocker.py:119)."""
    out = []
    for buf in wkb_col:
        if buf is None:
            out.append([])
        else:
            out.append([_wkb.dumps(p) for p in _overlay.make_valid(_wkb.loads(bytes(buf)))])
    return pd.Series(out, dtype=object)


@pandas_udf(T.BinaryType())
def st_normalize(wkb_col: pd.Series) -> pd.Series:
    """Canonical vertex order for bit-reproducible output (reference F11)."""
    out = []
    for buf in wkb_col:
        if buf is None:
            out.append(None)
        else:
            out.append(_wkb.dumps(_overlay.normalize_geom(_wkb.loads(bytes(buf)))))
    return pd.Series(out, dtype=object)
