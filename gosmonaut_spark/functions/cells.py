"""Hierarchical cell grid (H3/S2-style, from scratch) — resolutions 0..15.

Design: an equirectangular quadtree over (lon, lat). At resolution ``r`` the
world is a ``2^r x 2^r`` grid::

    x = floor((lon + 180) / 360 * 2^r)   clamped to [0, 2^r - 1]
    y = floor(( 90 - lat) / 180 * 2^r)   clamped to [0, 2^r - 1]
    cell = (1 << 2r) | (x << r) | y

The leading 1 bit makes the id self-describing (res = (bit_length-1)//2) and
keeps ids from different resolutions disjoint — so a tile table can mix
resolutions in one long column. Parent/child/neighbor relations are integer
arithmetic only; every spatial operator downstream (PIP candidate pruning,
kNN rings, raster roll-ups) therefore reduces to plain equi-joins and
groupBys that Catalyst optimizes like any other relational plan — there is
no UDF anywhere in the tiling hot path, and the same arithmetic is
expressible in ANSI SQL for the DuckDB oracle.

This recasts the reference's integer-unit coordinate discipline
(/root/reference/decode.go:517-519 — coords are scaled int64 units) into a
tile index. Max res 15 → 2^30 cells; a dense metro at res 12 is ~10m cells
of a few hundred meters — matching H3 res ~9 granularity.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_RES = 0
MAX_RES = 15


def _grid_n(res: int) -> int:
    return 1 << res


def cell_x(lon: Column | str, res: int) -> Column:
    lon = F.col(lon) if isinstance(lon, str) else lon
    n = _grid_n(res)
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")


def cell_y(lat: Column | str, res: int) -> Column:
    lat = F.col(lat) if isinstance(lat, str) else lat
    n = _grid_n(res)
    raw = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")


def cell_from_xy(x: Column, y: Column, res: int) -> Column:
    return (F.lit(1 << (2 * res)).cast("long") + x * F.lit(_grid_n(res)) + y).cast(
        "long"
    )


def cell_expr(lat: Column | str, lon: Column | str, res: int) -> Column:
    """cell id at resolution ``res`` — pure native expression."""
    if not MIN_RES <= res <= MAX_RES:
        raise ValueError(f"res must be in [{MIN_RES},{MAX_RES}]")
    return cell_from_xy(cell_x(lon, res), cell_y(lat, res), res)


def cell_res(cell: Column | str) -> Column:
    """Recover the resolution from the self-describing id:
    bit_length(cell) - 1 == 2*res, i.e. res = floor(log2(cell)) / 2."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    return (F.floor(F.log2(cell.cast("double"))) / 2).cast("int")


def cell_parent(cell: Column | str, res: int, parent_res: int | None = None) -> Column:
    """Parent cell id. Needs the child's res (static per pipeline stage).

    With the flag-bit encoding, one-level coarsening of the *interleaved*
    form would be ``cell >> 2``; our x-major form recomputes x,y by shifts —
    still branch-free integer ops, Catalyst constant-folds the literals.
    """
    cell = F.col(cell) if isinstance(cell, str) else cell
    if parent_res is None:
        parent_res = res - 1
    if not MIN_RES <= parent_res <= res:
        raise ValueError("parent_res must be <= res")
    d = res - parent_res
    x = F.shiftright(cell, res) - F.lit(1 << res)  # (1<<2r | x<<r) >> r = (1<<r)+x
    y = cell - F.shiftleft(F.shiftright(cell, res), res)  # low r bits
    return cell_from_xy(F.shiftright(x, d), F.shiftright(y, d), parent_res)


def cell_np(lat, lon, res: int):
    """Numpy twin of :func:`cell_expr` (same floor/clamp math) — used by the
    polygon cover kernel and as the pure-Python test oracle."""
    import numpy as np

    n = _grid_n(res)
    x = np.clip(np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * float(n)), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((90.0 - np.asarray(lat, dtype=np.float64)) / 180.0 * float(n)), 0, n - 1).astype(np.int64)
    return (np.int64(1 << (2 * res)) + x * np.int64(n) + y).astype(np.int64)


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The identical cell computation as ANSI SQL (DuckDB oracle twin).

    Must stay textually in lockstep with :func:`cell_expr` — both engines
    evaluate the same IEEE-double arithmetic, so results are bit-identical.
    """
    n = _grid_n(res)
    x = (
        f"least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {float(n)}) "
        f"as bigint), 0), {n - 1})"
    )
    y = (
        f"least(greatest(cast(floor((90.0 - ({lat_expr})) / 180.0 * {float(n)}) "
        f"as bigint), 0), {n - 1})"
    )
    return f"({1 << (2 * res)} + ({x}) * {n} + ({y}))"


# ---------------------------------------------------------------------------
# Z-order (Morton) codes — the LAYOUT twin of the x-major cell id above.
# cell_from_xy keys are x-major (x*2^r + y): perfect for equi-joins and
# parent arithmetic, but an x-major SORT scatters spatial neighbors. The
# Morton code interleaves the x/y bits instead, so sorting by it clusters
# 2D neighbors into contiguous key runs — which is exactly what
# Delta/Iceberg Z-ORDER clustering exploits for file skipping: a bbox
# becomes a handful of contiguous morton ranges, and a scan over a
# morton-sorted table prunes everything outside them. Pure integer
# magic-number spreads (shift/and/or).
# ---------------------------------------------------------------------------

_MORTON_SPREADS = (  # 16-bit -> 32-bit even-bit spread (res <= 15 fits)
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_bits(v: Column) -> Column:
    for sh, mask in _MORTON_SPREADS:
        v = F.shiftleft(v, sh).bitwiseOR(v).bitwiseAND(F.lit(mask))
    return v


def morton_from_xy(x: Column, y: Column) -> Column:
    """Interleave two <=16-bit grid coordinates: x in even bits, y odd."""
    return _spread_bits(x).bitwiseOR(F.shiftleft(_spread_bits(y), 1))


def morton_expr(lat: Column | str, lon: Column | str, res: int) -> Column:
    """Morton code of the point's res-``res`` grid cell (same floor/clamp
    x/y law as :func:`cell_expr` — the two ids index the SAME cell)."""
    if not MIN_RES <= res <= MAX_RES:
        raise ValueError(f"res must be in [{MIN_RES},{MAX_RES}]")
    return morton_from_xy(cell_x(lon, res), cell_y(lat, res))


# ---------------------------------------------------------------------------
# Web-Mercator (slippy z/x/y) tiles — the interop standard
# ---------------------------------------------------------------------------

WEB_MERCATOR_MAX_LAT = 85.05112878


def slippy_xy(
    lat: Column | str, lon: Column | str, zoom: int
) -> tuple[Column, Column]:
    """Slippy-map tile coordinates (OSM/Google z/x/y convention) at
    ``zoom`` → ``(x, y)`` integer columns.

    The engine's native grid (equirectangular, this module) optimizes
    joins; real map stacks (tile servers, MVT pipelines, basemap
    caches) speak Web-Mercator z/x/y, so exports need THIS encoding:

        x = floor((lon + 180)/360 · 2^z)
        y = floor((1 − asinh(tan φ)/π)/2 · 2^z),  φ clamped to
            (asinh spelled ln(t + √(t²+1)) — DuckDB has no asinh, and
            the spelled form is the identical tree on both engines)
            ±85.05112878° (the Mercator square's edge)

    Transcendental-floor discipline (the bearing_sectors rule): the y
    fraction is rounded to 1e-12 BEFORE the floor so a cross-engine
    libm ulp in tan/asinh cannot flip a tile at the boundary; 1e-12 of
    the unit interval is ~4·10⁻⁶ of a zoom-18 tile — far below any
    geographic meaning. x is pure arithmetic (no rounding needed).
    Both columns clamp to [0, 2^z − 1].
    """
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lon) if isinstance(lon, str) else lon
    n = 1 << int(zoom)
    la = F.least(
        F.greatest(la, F.lit(-WEB_MERCATOR_MAX_LAT)),
        F.lit(WEB_MERCATOR_MAX_LAT),
    )
    x_raw = F.floor((lo + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    x = F.least(F.greatest(x_raw, F.lit(0)), F.lit(n - 1)).cast("long")
    t = F.tan(F.radians(la))
    # asinh spelled out (DuckDB has no asinh): identical tree both engines
    mer = F.log(t + F.sqrt(t * t + F.lit(1.0)))
    yfrac = (F.lit(1.0) - mer / F.lit(math.pi)) / F.lit(2.0)
    y_raw = F.floor(
        F.round(yfrac * F.lit(float(n)), 12)
    )
    y = F.least(F.greatest(y_raw, F.lit(0)), F.lit(n - 1)).cast("long")
    return x, y


def slippy_xy_sql(lat_expr: str, lon_expr: str, zoom: int) -> tuple[str, str]:
    """DuckDB twin — textually the same clamp/round/floor law."""
    n = 1 << int(zoom)
    la = (
        f"least(greatest({lat_expr}, {-WEB_MERCATOR_MAX_LAT!r}), "
        f"{WEB_MERCATOR_MAX_LAT!r})"
    )
    x = (
        f"least(greatest(CAST(floor((({lon_expr}) + 180.0) / 360.0 "
        f"* {float(n)!r}) AS BIGINT), 0), {n - 1})"
    )
    t = f"tan(radians({la}))"
    mer = f"ln(({t}) + sqrt(({t}) * ({t}) + 1.0))"
    yfrac = f"(1.0 - ({mer}) / {math.pi!r}) / 2.0"
    y = (
        f"least(greatest(CAST(floor(round(({yfrac}) * {float(n)!r}, 12)) "
        f"AS BIGINT), 0), {n - 1})"
    )
    return x, y
