"""JVM (Catalyst) ↔ numpy parity for the cell grid — load-bearing: the doc
side of every spatial join derives keys via functions/cellexpr.py while
kernels (kNN, zonal) use kernels/cells.py; a single
disagreeing bit would silently drop candidates at cell boundaries."""

import numpy as np
import pandas as pd
import pytest

from geopull_spark.functions import cellexpr
from geopull_spark.kernels import cells as kc
from geopull_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="cellexpr_tests", master="local[4]", shuffle_partitions=4)


def test_point_cells_match_numpy(spark):
    rng = np.random.default_rng(42)
    lon = rng.uniform(-179.99, 179.99, 3000)
    lat = rng.uniform(-89.99, 89.99, 3000)
    # the ends of the ranges, where the fraction clamps
    lon[:4] = [-180.0, 180.0, 0.0, -0.0]
    lat[:4] = [-90.0, 90.0, 0.0, 89.999999]
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for res in (0, 7, 10, 14, 28):
        got = np.array([r[0] for r in cellexpr.with_cell(df, res).select("cell").collect()])
        assert (got == kc.cell_id(lon, lat, res)).all(), res


def test_doc_cells_match_numpy_per_res_and_multi_res(spark):
    """A point's cell at one or several resolutions at once, each derived by
    shifting one MAX_RES morton code: with_cell at MAX_RES, then parent_expr
    down to every resolution of the list."""
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    # the ends of the ranges, where the fraction clamps
    lon[:4] = [-180.0, 180.0, 0.0, -0.0]
    lat[:4] = [-90.0, 90.0, 0.0, 89.999999]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [str(i) for i in range(len(lon))], "lon": lon, "lat": lat}))
    fine = cellexpr.with_cell(docs, kc.MAX_RES, out="mcell")
    for res_list in ([0], [7], [10], [14], [28], [8, 11, 14]):
        d = fine.select("doc_id", *[cellexpr.parent_expr("mcell", kc.MAX_RES, r).alias(f"c{r}")
                                    for r in res_list])
        got = {int(r["doc_id"]): {r[f"c{res}"] for res in res_list} for r in d.collect()}
        want = {i: {int(kc.cell_id(lon[i:i + 1], lat[i:i + 1], res)[0]) for res in res_list}
                for i in range(len(lon))}
        assert got == want, res_list


def test_with_cell_stays_small_in_the_plan(spark):
    """Analyzed expression nodes of the point-cell projection. The key reads
    the quantized point by reference; the single-expression form of the
    spread copied each axis' quantization 32 times per key (~2,400 nodes for
    pcell + cell)."""
    df = spark.createDataFrame(pd.DataFrame({"lon": [0.0], "lat": [0.0]}))
    d = cellexpr.with_cell(df, 14)

    def nodes(plan):
        n = sum(len(e.treeString().splitlines()) for e in _iter(plan.expressions()))
        return n + sum(nodes(c) for c in _iter(plan.children()))

    assert nodes(d._jdf.queryExecution().analyzed()) < 300


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def test_parent_expr_matches_numpy(spark):
    rng = np.random.default_rng(7)
    c = kc.cell_id(rng.uniform(-180, 180, 500), rng.uniform(-90, 90, 500), 14)
    dfc = spark.createDataFrame(pd.DataFrame({"cell": c}))
    gp = np.array([r[0] for r in dfc.select(cellexpr.parent_expr("cell", 14, 10)).collect()])
    assert (gp == kc.cell_parent(c, 10)).all()


def test_cover_expr_matches_numpy_incl_adaptive_and_wrap(spark):
    rng = np.random.default_rng(11)
    bb = pd.DataFrame({
        "minx": rng.uniform(-179, 170, 100),
        "miny": rng.uniform(-85, 80, 100),
    })
    bb["maxx"] = bb.minx + rng.uniform(0, 5.0, 100)   # some force adaptive res
    bb["maxy"] = bb.miny + rng.uniform(0, 5.0, 100)
    bb["rid"] = range(100)
    # antimeridian-wrapping bbox
    bb.loc[0, ["minx", "miny", "maxx", "maxy"]] = [175.0, -2.0, -176.0, 3.0]
    # wide wrap whose endpoints share an x tile at the adaptively-lowered res
    # (ADVICE r2: must cover the full x ring, not one column)
    bb.loc[1, ["minx", "miny", "maxx", "maxy"]] = [2.0, -5.0, 1.5, 5.0]
    cov = cellexpr.with_cover_cells(spark.createDataFrame(bb), 14)
    got: dict = {}
    resmap: dict = {}
    for r in cov.select("rid", "cell", "cell_res").collect():
        got.setdefault(r["rid"], set()).add(r["cell"])
        resmap[r["rid"]] = r["cell_res"]
    for i in range(100):
        want = set(kc.cover_bbox(bb.minx[i], bb.miny[i], bb.maxx[i], bb.maxy[i],
                                 resmap[i], cap=10**7).tolist())
        assert got[i] == want, i
