"""Normalize stage: admin polygons → per-region land parts.

Distributed translation of ``GeopullNormalizer``
(``/root/reference/src/geopull/normalizer.py:48-158``):

1. keep numeric admin levels (P3 filter, normalizer.py:83) — Catalyst rlike;
2. metric area per polygon — Arrow-batched pandas UDF (F5);
3. per-(region, level) area sums — built-in hash aggregate (A1);
4. level choice per region: keep 4 iff present and Σarea₄ ≥ Σarea₂
   (normalizer.py:87-95) — tiny DF, broadcast-joined back;
5. dissolve per region (A2) — ``applyInPandas`` union kernel;
6. coastline difference when the kept level is 2 (normalizer.py:99-129);
7. water dissolve + difference (normalizer.py:131-158);
8. explode to Polygon parts (blocker input, blocker.py:55-56).

Region is the natural partition key (the reference's per-country loop,
orchestrator.py:87-91); every geometric group kernel is keyed by it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import st_area_m2
from ..kernels import overlay as _overlay
from ..kernels import wkb as _wkb

LAND_SCHEMA = T.StructType(
    [
        T.StructField("region_code", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("geometry", T.BinaryType()),
        # bbox computed in-kernel (the geometry is already decoded here);
        # downstream consumers (part routing in the blocker, GeoParquet
        # sinks) read these columns instead of paying a separate
        # ArrowEvalPython st_bbox stage — measured ~0.3 cpu-s of fixed
        # per-task Python-runner overhead × ntasks per extra stage (round 3)
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)

_LAND_COLS = LAND_SCHEMA.fieldNames()


def _part_rows(region: str, parts: list) -> list[tuple]:
    """Deterministic (region, part_id, wkb, bbox) rows: parts ordered by
    canonical WKB bytes (part-split invariant)."""
    entries = []
    for p in parts:
        buf = _wkb.dumps(p)
        b = _wkb.bounds(p)
        entries.append((buf, b))
    entries.sort(key=lambda e: e[0])
    return [
        (region, i, buf, b[0], b[1], b[2], b[3]) for i, (buf, b) in enumerate(entries)
    ]


def numeric_admin(admin: DataFrame) -> DataFrame:
    """P3+P4: numeric admin_level only, cast to int (normalizer.py:83-84)."""
    return admin.filter(F.col("admin_level").rlike("^[0-9]+$")).withColumn(
        "admin_level", F.col("admin_level").cast("int")
    )


def choose_levels(admin_num: DataFrame) -> DataFrame:
    """Per-region kept admin level (normalizer.py:86-95). Returns
    (region_code, keep_level) — a tiny dimension DF for a broadcast join."""
    sums = (
        admin_num.withColumn("area_m2", st_area_m2("geometry"))
        .groupBy("region_code", "admin_level")
        .agg(F.sum("area_m2").alias("level_area"))
    )
    pivoted = (
        sums.groupBy("region_code")
        .agg(
            F.max(F.when(F.col("admin_level") == 4, F.col("level_area"))).alias("a4"),
            F.max(F.when(F.col("admin_level") == 2, F.col("level_area"))).alias("a2"),
        )
        .withColumn(
            "keep_level",
            F.when(
                F.col("a4").isNotNull() & (F.col("a4") >= F.coalesce(F.col("a2"), F.lit(0.0))),
                F.lit(4),
            ).otherwise(F.lit(2)),
        )
        .select("region_code", "keep_level")
    )
    return pivoted


def _difference_cogroup(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Per-region overlay difference: land parts minus (dissolved) right side.

    Rows with no right-side match pass through unchanged (cheap path — the
    cell-join formulation of J3; here the group is the region)."""
    if len(left) == 0:
        return pd.DataFrame(columns=_LAND_COLS)
    region = left["region_code"].iloc[0]
    # the zero-decode pass-through assumes canonical engine WKB (_part_rows
    # output: little-endian, one Polygon per row). Externally-sourced WKB
    # (big-endian, Multi*, non-canonical serialization) would sort/order
    # differently than the decode/re-dump path, so gate on the cheap header
    # check (byte 0 = 0x01 LE, type word = 3 Polygon) and fall back to the
    # overlay path when it fails (ADVICE r4).
    canonical = all(
        len(b) >= 5 and b[0] == 1 and bytes(b)[1:5] == b"\x03\x00\x00\x00"
        for b in (bytes(x) for x in left["geometry"])
    )
    if len(right) == 0 and canonical:
        rows = sorted(
            zip(left["geometry"], left["minx"], left["miny"], left["maxx"], left["maxy"]),
            key=lambda r: bytes(r[0]),
        )
        return pd.DataFrame(
            [(region, i, bytes(g), mnx, mny, mxx, mxy)
             for i, (g, mnx, mny, mxx, mxy) in enumerate(rows)],
            columns=_LAND_COLS,
        )
    a = [_wkb.loads(bytes(b)) for b in left["geometry"]]
    b = [_wkb.loads(bytes(x)) for x in right["geometry"]]
    parts = _overlay.overlay(a, b, "difference")
    # make_valid after overlay (normalizer.py:128, :157)
    valid = []
    for p in parts:
        valid.extend(_overlay.make_valid(p))
    return pd.DataFrame(_part_rows(region, valid), columns=_LAND_COLS)


def subtract_by_region(land: DataFrame, other: DataFrame) -> DataFrame:
    """J3 overlay difference, grouped by region via cogrouped applyInPandas.

    The bbox columns ride into the kernel so the no-right-match cheap path
    can pass rows through without any WKB decode/encode."""
    return (
        land.select("region_code", "part_id", "geometry", "minx", "miny", "maxx", "maxy")
        .groupBy("region_code")
        .cogroup(other.select("region_code", "geometry").groupBy("region_code"))
        .applyInPandas(_difference_cogroup, LAND_SCHEMA)
    )


def _normalize_cogroup(admin_pdf: pd.DataFrame, other_pdf: pd.DataFrame) -> pd.DataFrame:
    """Fused per-region normalize kernel: level choice (keep 4 iff present
    and Σarea₄ ≥ Σarea₂, normalizer.py:86-95) → dissolve kept-level admin →
    coastline difference when kept level is 2 (normalizer.py:59-60, 99-129)
    → water difference (normalizer.py:131-158). One Python stage per region
    instead of four — at small per-region payloads the Python-worker
    round-trips and extra shuffles dominate, not the geometry; the level
    areas are computed here from the rows the group already holds instead of
    a separate UDF+agg+broadcast-join subplan (``choose_levels`` remains as
    the standalone API)."""
    if len(admin_pdf) == 0:
        return pd.DataFrame(columns=_LAND_COLS)
    from ..kernels.area import wkb_area_m2

    region = admin_pdf["region_code"].iloc[0]
    levels = admin_pdf["admin_level"].to_numpy()
    areas = {lv: 0.0 for lv in (2, 4)}
    for lv, buf in zip(levels, admin_pdf["geometry"]):
        if lv in areas:
            areas[lv] += wkb_area_m2(bytes(buf))
    keep_level = 4 if ((levels == 4).any() and areas[4] >= areas[2]) else 2
    kept = admin_pdf.loc[levels == keep_level, "geometry"]
    land = _overlay.dissolve([bytes(b) for b in kept])
    if len(other_pdf):
        if keep_level == 2:
            coast = [
                _wkb.loads(bytes(b))
                for b in other_pdf.loc[other_pdf["role"] == "coast", "o_geometry"]
            ]
            # sjoin-intersects gate (normalizer.py:110-116): difference only
            # when some coast polygon actually intersects (bbox prefilter +
            # nonzero intersection)
            if coast:
                inter = _overlay.overlay(land, coast, "intersection")
                if inter:
                    land = _overlay.overlay(land, coast, "difference")
        water = [
            _wkb.loads(bytes(b))
            for b in other_pdf.loc[other_pdf["role"] == "water", "o_geometry"]
        ]
        if water:
            land = _overlay.overlay(land, water, "difference")
    valid = []
    for p in land:
        valid.extend(_overlay.make_valid(p))
    parts = []
    for p in valid:
        for part in _wkb.get_parts(p):
            if part[0] == "Polygon":
                parts.append(part)
    # deterministic part order: canonical WKB (inside _part_rows)
    return pd.DataFrame(_part_rows(region, parts), columns=_LAND_COLS)


def normalize_land(
    admin: DataFrame, water: DataFrame, coastline: DataFrame | None = None
) -> DataFrame:
    """Full normalize: admin+water(+coastline) → exploded land parts."""
    admin_num = numeric_admin(admin)
    # rename right-side columns — both sides share lineage with osm_ways and
    # Spark flags the cogroup as an ambiguous self-join otherwise
    other = water.select(
        F.col("region_code").alias("o_region"), F.col("geometry").alias("o_geometry")
    ).withColumn("role", F.lit("water"))
    if coastline is not None:
        other = other.unionByName(
            coastline.select(
                F.col("region_code").alias("o_region"), F.col("geometry").alias("o_geometry")
            ).withColumn("role", F.lit("coast"))
        )
    # Explicit dp-sized repartition on the group key (r6): AQE does not
    # reliably coalesce cogroup input exchanges, so the kernel stage
    # otherwise inherits spark.sql.shuffle.partitions tasks (128 at the
    # bench config) — each Python task pays a fixed runner/Arrow floor that
    # dominates this stage's tiny per-region kernels. defaultParallelism
    # scales with the cluster, and the normalize kernel's inputs per region
    # (admin/water/coast polygons) stay small relative to the street load,
    # so one task slot per core is the right granularity at every size.
    dp = admin_num.sparkSession.sparkContext.defaultParallelism
    return (
        admin_num.select("region_code", "admin_level", "geometry")
        .repartition(dp, "region_code")
        .groupBy("region_code")
        .cogroup(other.repartition(dp, "o_region").groupBy("o_region"))
        .applyInPandas(_normalize_cogroup, LAND_SCHEMA)
    )
