"""Arrow-batched pandas UDFs wrapping the numpy geometry kernels.

These are the engine's scalar geometry functions (SURVEY.md §2.8). Each is a
Series→Series pandas UDF: WKB bytes in, primitive/struct/array out. No
per-row Python objects cross the JVM↔Python boundary outside Arrow batches
(BASELINE.json input_hint hard requirement).

Per-batch memoization: ``st_area_m2`` computes each distinct WKB value of a
batch once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import area as _area
from ..kernels import cells as _cells
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


@pandas_udf(BBOX_TYPE)
def st_bbox(wkb_col: pd.Series) -> pd.DataFrame:
    n = len(wkb_col)
    arr = np.full((n, 4), np.nan)
    for i, buf in enumerate(wkb_col):
        if buf is not None:
            arr[i] = _wkb.bounds(_wkb.loads(bytes(buf)))
    return pd.DataFrame(arr, columns=["minx", "miny", "maxx", "maxy"])


def st_cell(lon_col, lat_col, res: int):
    """Quadtree cell id of a point at resolution ``res`` (join key)."""

    @pandas_udf(T.LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(_cells.cell_id(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res))

    return _cell(lon_col, lat_col)


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
