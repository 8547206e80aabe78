"""Catalyst column expressions for the equal-area cell grid.

Pure-JVM mirror of ``kernels/cells.py`` (same packing: ``(res << 58) |
morton(lon_bits, sinlat_bits)``). The doc→block assignment hot path uses ONLY
these expressions — point cell id, parent cell, and bbox cover all evaluate
inside whole-stage codegen, so no Arrow batch ever crosses to Python for key
derivation (round-2 rework of the ArrowEvalPython stages flagged in
BENCH_r01; reference join semantics unchanged:
``/root/reference/src/geopull/blocker.py:104``).

Build cost: a key is planned for every doc batch, so how it is built shows up
per batch. Each expression here is one short SQL text (``F.expr``: 3 py4j
calls whatever its size, where every Column-API operator costs ~12 for its
call-site capture), and a value read twice — a quantized coordinate, a bbox
fraction, a spread step — is first projected into a column and read by
reference, so no subtree is ever copied into the plan.

Parity note: the lon/lat→fraction arithmetic is the same IEEE-double sequence
as the numpy kernel; ``sin`` may differ in the last ulp between JVM and numpy
for a measure-zero set of inputs, which only matters where a JVM-derived key
must equal a numpy-derived key — the engine keeps each join's two sides on
the same implementation (assignment: both JVM; kNN/zonal: both numpy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_RES = 28
_FRACMAX = 1.0 - 2.0**-53  # np.nextafter(1.0, 0.0)

_SPREAD_STEPS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _sql_res(res: int | str) -> str:
    """A resolution as SQL: an int literal or a (backquoted) column name."""
    return str(res) if isinstance(res, int) else f"`{res}`"


def lon_fraction_sql(lon: str) -> str:
    """x fraction of column ``lon`` in [0, 1), as SQL text."""
    return f"least(greatest((`{lon}` + 180.0D) / 360.0D, 0.0D), {_FRACMAX!r}D)"


def lat_fraction_sql(lat: str) -> str:
    """Equal-area y fraction of column ``lat``: (sin(lat)+1)/2 — Lambert
    cylindrical — as SQL text."""
    return f"least(greatest((sin(radians(`{lat}`)) + 1.0D) / 2.0D, 0.0D), {_FRACMAX!r}D)"


def ixy_expr(lon: str, lat: str, res: int) -> tuple[Column, Column]:
    """Integer tile (ix, iy) of columns ``lon``/``lat`` at ``res``."""
    n = float(1 << res)
    return (F.expr(f"CAST(floor({lon_fraction_sql(lon)} * {n!r}D) AS BIGINT)"),
            F.expr(f"CAST(floor({lat_fraction_sql(lat)} * {n!r}D) AS BIGINT)"))


def with_spread(df: DataFrame, cols: list[str]) -> DataFrame:
    """Morton bit-spread of long columns in [0, 2^28), in place: bit i → bit 2i.

    One projection per step, so a step reads its input by reference: written
    as one expression, ``c | (c << s)`` names its input twice per step and
    copies it 2^5 = 32 times into the plan. Catalyst keeps the steps as
    separate projects (it does not inline an input read twice), and
    whole-stage codegen fuses them into one loop."""
    for shift, mask in _SPREAD_STEPS:
        df = df.withColumns({
            c: F.expr(f"(`{c}` | shiftleft(`{c}`, {shift})) & {mask}L") for c in cols
        })
    return df


def with_packed(df: DataFrame, ix: str, iy: str, res: int | str, out: str) -> DataFrame:
    """``out`` = cell id of the integer tile columns ``ix``, ``iy`` at ``res``
    (an int or a column name): ``(res << 58) | morton(ix, iy)``. The tile
    columns are consumed (dropped)."""
    df = with_spread(df, [ix, iy])
    packed = F.expr(
        f"shiftleft(CAST({_sql_res(res)} AS BIGINT), 58) | shiftleft(`{ix}`, 1) | `{iy}`"
    )
    return df.withColumn(out, packed).drop(ix, iy)


def with_cell(df: DataFrame, res: int, lon: str = "lon", lat: str = "lat",
              out: str = "cell") -> DataFrame:
    """Point cell id at one resolution — the join key, fully JVM-side.

    lon/lat are quantized once to integer tiles at MAX_RES and interleaved.
    Per axis floor(f·2^r) == floor(f·2^MAX_RES) >> (MAX_RES−r), and
    interleaving commutes with that shift, so the cell at ``res`` is the
    MAX_RES morton code shifted right 2·(MAX_RES−res)."""
    ix, iy = ixy_expr(lon, lat, MAX_RES)
    df = with_spread(df.withColumns({"_qx": ix, "_qy": iy}), ["_qx", "_qy"])
    df = df.withColumn("_morton", F.expr("shiftleft(_qx, 1) | _qy")).drop("_qx", "_qy")
    cell = F.expr(
        f"shiftleft(CAST({res} AS BIGINT), 58) | "
        f"shiftrightunsigned(_morton, {2 * (MAX_RES - res)})"
    )
    return df.withColumn(out, cell).drop("_morton")


def parent_expr(cell: str, cell_res: int, parent_res: int) -> Column:
    """Parent of fixed-resolution cells in column ``cell``: shift the morton
    code 2·Δres bits."""
    return F.expr(
        f"shiftleft(CAST({parent_res} AS BIGINT), 58) | "
        f"shiftrightunsigned(`{cell}` & {(1 << 58) - 1}L, {2 * (cell_res - parent_res)})"
    )


def with_cover_cells(
    df: DataFrame,
    res: int,
    out: str = "cell",
    target: int | None = 48,
    res_out: str = "cell_res",
) -> DataFrame:
    """Explode each row onto the cells covering its bbox (columns ``minx``,
    ``miny``, ``maxx``, ``maxy``) — the UDTF-style cover (SURVEY §2.10) as
    two JVM ``sequence``+``explode`` generates.

    ``target`` caps the per-axis tile count by LOWERING the resolution for
    oversized bboxes (per row): a geometry spanning the whole region no longer
    blows the old hard cap (``ADVICE.md`` r1, cover-cap ValueError) — it just
    indexes at a coarser res, recorded per row in ``res_out``
    (``spatial_join.build_block_cell_index``). ``target=None`` keeps the
    resolution fixed (required for the refine-group cover, where both
    cogroup sides must share one resolution).
    """
    df = df.withColumns({
        "_fx0": F.expr(lon_fraction_sql("minx")),
        "_fx1": F.expr(lon_fraction_sql("maxx")),
        "_fy0": F.expr(lat_fraction_sql("miny")),
        "_fy1": F.expr(lat_fraction_sql("maxy")),
    })
    if target is None:
        res_eff = F.lit(res)
    else:
        # largest r with extent_fraction · 2^r ≤ target  (guard zero extents);
        # minx > maxx ⇒ the bbox crosses the antimeridian (wrapped lon range)
        res_eff = F.expr(
            f"CAST(greatest(least({res}, "
            f"floor(log2({float(target)!r}D / greatest(CASE WHEN _fx1 >= _fx0 "
            f"THEN _fx1 - _fx0 ELSE 1.0D - (_fx0 - _fx1) END, 1e-15D))), "
            f"floor(log2({float(target)!r}D / greatest(_fy1 - _fy0, 1e-15D)))), 0) AS INT)"
        )
    df = df.withColumn(res_out, res_eff)
    n = f"pow(2.0D, CAST(`{res_out}` AS DOUBLE))"
    df = df.withColumns({
        "_ix0": F.expr(f"CAST(floor(_fx0 * {n}) AS BIGINT)"),
        "_ix1": F.expr(f"CAST(floor(_fx1 * {n}) AS BIGINT)"),
        "_iy0": F.expr(f"CAST(floor(_fy0 * {n}) AS BIGINT)"),
        "_iy1": F.expr(f"CAST(floor(_fy1 * {n}) AS BIGINT)"),
        "_nx": F.expr(f"CAST({n} AS BIGINT)"),
    })
    # antimeridian wrap: [ix0, n) ∪ [0, ix1]  (mirrors kernels.cells.cover_bbox).
    # Wrap is decided on the raw fractions (fx0 <= fx1 ⇔ minx <= maxx), not the
    # quantized indices — a wrapped span wider than 360° minus one tile can land
    # ix0 <= ix1 and must still cover the full x ring (ADVICE r2).
    xseq = F.expr(
        "CASE WHEN _fx0 <= _fx1 THEN sequence(_ix0, _ix1) "
        "WHEN _ix0 > _ix1 THEN concat(sequence(_ix0, _nx - 1), sequence(0L, _ix1)) "
        "ELSE sequence(0L, _nx - 1) END"
    )
    df = df.withColumn("_cix", F.explode(xseq))
    df = df.withColumn("_ciy", F.explode(F.expr("sequence(_iy0, _iy1)")))
    df = df.drop("_fx0", "_fx1", "_fy0", "_fy1", "_ix0", "_ix1", "_iy0", "_iy1", "_nx")
    return with_packed(df, "_cix", "_ciy", res_out, out)
