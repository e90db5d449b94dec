"""Tiling engine — raster<->vector aggregation over the cell grid (B6/B9/B10).

All operators are plain groupBys/joins over integer cell ids (see
functions/cells.py), so Catalyst plans them like any relational workload:
partial aggregation map-side, AQE coalesces small partitions, and the salted
variants absorb dense-cell skew that AQE's skew-join handling doesn't cover
(skewed *aggregation* keys, e.g. one metro cell holding 1e9 points at res 5
over a 10^12-page corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_expr, cell_parent


def points_to_tiles(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Vector -> raster: aggregate points into tiles at ``res``.

    Default aggregate is a count; pass extra aggs for weighted layers.
    Output: ``(res int, cell long, n_points long, ...)``.
    """
    aggs = aggs or []
    grouped = (
        points.withColumn("cell", cell_expr(lat, lon, res))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"), *aggs)
    )
    return grouped.select(F.lit(res).alias("res"), *grouped.columns)


def salted_points_to_tiles(
    points: DataFrame,
    res: int,
    lat: str = "lat",
    lon: str = "lon",
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted count for skew-heavy resolutions (B10).

    Phase 1 groups by (cell, salt) — the hot cell's rows spread over
    ``n_salts`` reducers; phase 2 merges the partials. The extra shuffle is
    tiny (one row per (cell, salt)). Salt is derived from a stable hash of
    the row, not rand(), so re-runs are deterministic.
    """
    salted = points.withColumn("cell", cell_expr(lat, lon, res)).withColumn(
        "salt", F.pmod(F.xxhash64(F.col(lat), F.col(lon)), F.lit(n_salts))
    )
    partial = salted.groupBy("cell", "salt").agg(F.count(F.lit(1)).alias("pc"))
    return (
        partial.groupBy("cell")
        .agg(F.sum("pc").alias("n_points"))
        .select(F.lit(res).alias("res"), "cell", "n_points")
    )


def rollup_tiles(tiles: DataFrame, res: int, parent_res: int) -> DataFrame:
    """Raster roll-up: re-aggregate tiles at ``res`` to ``parent_res`` by
    pure integer parent arithmetic (no re-scan of the points)."""
    return (
        tiles.withColumn("cell", cell_parent("cell", res, parent_res))
        .groupBy("cell")
        .agg(F.sum("n_points").alias("n_points"))
        .select(F.lit(parent_res).alias("res"), "cell", "n_points")
    )


def tile_pyramid(
    points: DataFrame,
    min_res: int,
    max_res: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Tiles for every resolution in [min_res, max_res] in two
    aggregations: the points aggregate once into the finest layer, each
    finest tile expands into one ``(res, parent cell, n_points)`` row per
    level (multi-level ``cell_parent`` is one integer expression), and one
    ``groupBy(res, cell)`` sums them — combined map-side, so its exchange
    moves about one row per (partition, layer cell). The points are never
    re-scanned per level, and nothing is cached, so there is nothing to
    release. Integer sums are associative, so every layer equals a direct
    aggregation at its resolution."""
    finest = points_to_tiles(points, max_res, lat, lon)
    levels = [
        F.struct(F.lit(r).alias("res"), cell_parent("cell", max_res, r).alias("cell"), "n_points")
        for r in range(max_res, min_res - 1, -1)
    ]
    return (
        finest.select(F.inline(F.array(*levels)))
        .groupBy("res", "cell")
        .agg(F.sum("n_points").alias("n_points"))
    )


def write_tiles(tiles: DataFrame, path: str) -> None:
    """Ordered tile write: range-partition by (res, cell) so each output
    file covers a contiguous spatial extent (x-major cell ids are spatially
    coherent along y-stripes) — the scale path for tile-server consumption.
    """
    writer = tiles.repartitionByRange("res", "cell").sortWithinPartitions("res", "cell")
    writer.write.mode("overwrite").parquet(path)


def focal_sum(
    tiles: DataFrame,
    res: int,
    k: int = 1,
    value_col: str = "n_points",
) -> DataFrame:
    """Raster focal (neighborhood) sum: for every occupied cell, the sum
    of ``value_col`` over the ``(2k+1)²`` neighborhood — the map-algebra
    smoothing kernel (heatmap blur, density smoothing) every raster
    engine ships, expressed relationally.

    Scatter form: each occupied cell EXPLODES its (2k+1)² neighbor
    offsets (x wraps across the antimeridian like the kNN ring; y is
    clamped by dropping off-grid rows — no polar wrap, matching the
    grid's geometry) and contributes its value to each target cell; one
    hash agg collects contributions; an inner join keeps only cells
    that exist in the input (empty neighbors contribute implicitly 0,
    and purely-synthetic cells are not reported).

    Scale shape (100 TB lens): fan-out is a constant (2k+1)² per
    OCCUPIED cell — the working set is tiles, not points, already
    reduced by points_to_tiles' map-side combine; the agg keys are the
    same integer cells, so AQE coalescing/salting guidance from the
    pyramid applies unchanged. No window, no self-join on ranges.

    Output: ``(cell, focal_sum, n_neighbors)`` — ``n_neighbors`` counts
    the OCCUPIED cells (itself included) that contributed.
    """
    n = 1 << res
    x = ((F.col("cell") - F.lit(1 << (2 * res))) / F.lit(n)).cast("long")
    y = ((F.col("cell") - F.lit(1 << (2 * res))) % F.lit(n)).cast("long")
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)
        ]
    )
    scattered = (
        tiles.select(
            F.col(value_col).alias("__v"), x.alias("x"), y.alias("y"),
            F.explode(offsets).alias("o"),
        )
        .select(
            "__v",
            ((F.col("x") + F.col("o.dx") + F.lit(n)) % F.lit(n)).alias("nx"),
            (F.col("y") + F.col("o.dy")).alias("ny"),
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < n))
        .select(
            (F.lit(1 << (2 * res)) + F.col("nx") * F.lit(n) + F.col("ny")).alias(
                "cell"
            ),
            "__v",
        )
    )
    contrib = scattered.groupBy("cell").agg(
        F.sum("__v").alias("focal_sum"), F.count(F.lit(1)).alias("n_neighbors")
    )
    return tiles.select("cell").join(contrib, "cell")


def focal_sum_sql(tiles_sql: str, res: int, k: int = 1) -> str:
    """DuckDB twin of :func:`focal_sum` — same wrap/clamp law over an
    offset cross join. ``tiles_sql`` must yield ``(cell, n_points)``."""
    n = 1 << res
    base = 1 << (2 * res)
    offs = ", ".join(
        f"({dx}, {dy})" for dx in range(-k, k + 1) for dy in range(-k, k + 1)
    )
    return f"""WITH fs_tiles AS MATERIALIZED ({tiles_sql}),
fs_xy AS (
  SELECT n_points AS v,
         CAST((cell - {base}) // {n} AS BIGINT) AS x,
         CAST((cell - {base}) % {n} AS BIGINT) AS y
  FROM fs_tiles
),
fs_off(dx, dy) AS (VALUES {offs}),
fs_scat AS (
  SELECT ({base} + ((x + dx + {n}) % {n}) * {n} + (y + dy)) AS cell, v
  FROM fs_xy, fs_off
  WHERE y + dy >= 0 AND y + dy < {n}
),
fs_c AS (
  SELECT cell, sum(v) AS focal_sum, count(*) AS n_neighbors
  FROM fs_scat GROUP BY cell
)
SELECT t.cell, CAST(c.focal_sum AS BIGINT) AS focal_sum, c.n_neighbors
FROM (SELECT cell FROM fs_tiles) t JOIN fs_c c USING (cell)"""


def idw_surface(
    pts: DataFrame,
    res: int,
    k: int = 1,
    value_col: str = "v",
    lat_col: str = "lat",
    lon_col: str = "lon",
    w_scale: int = 1_000_000_000,
    d_scale: int = 1_000_000,
) -> DataFrame:
    """Inverse-distance-weighted interpolation surface: every grid cell
    within ``k`` cells of any sample point gets the IDW estimate of the
    integer metric ``value_col`` — the scattered-points → raster step
    (sensor fields, price surfaces, signal-strength maps).

    Determinism law (the engine's integer-scaled-sum discipline): the
    weight is QUANTIZED to an integer before any aggregation —
    ``wq = floor(w_scale / (1 + floor(d2 * d_scale)))`` with ``d2`` the
    planar deg² distance from the sample to the target CELL CENTER.
    Both floors operate on bit-identical doubles, so numerator
    ``Σ v·wq`` and denominator ``Σ wq`` are exact BIGINT sums (order-
    free) and the final single division is bit-exact cross-engine. The
    quantization grain is part of the operator's contract, like the mm
    rounding in ``trajectory_length``. Planar, no antimeridian wrap
    (same approximation family as ``simplify_track``); off-grid
    neighbors are dropped.

    Scale shape (100 TB lens): constant (2k+1)² scatter per SAMPLE
    point (inherent to IDW — each pair needs its own distance), one
    map-side-combinable hash agg on the integer cell key; no window,
    no join. Output bounded by occupied-neighborhood cells.

    Output: ``(cell, n_samples, idw_value)``.
    """
    n = 1 << res
    base = 1 << (2 * res)
    x = F.floor(
        F.least(
            F.greatest(
                F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))),
                F.lit(0),
            ),
            F.lit(n - 1),
        )
    ).cast("long")
    y = F.floor(
        F.least(
            F.greatest(
                F.floor((F.lit(90.0) - F.col(lat_col)) / F.lit(180.0) * F.lit(float(n))),
                F.lit(0),
            ),
            F.lit(n - 1),
        )
    ).cast("long")
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)
        ]
    )
    scattered = (
        pts.select(
            F.col(value_col).alias("__v"),
            F.col(lat_col).alias("__lat"),
            F.col(lon_col).alias("__lon"),
            x.alias("x"),
            y.alias("y"),
            F.explode(offsets).alias("o"),
        )
        .select(
            "__v",
            "__lat",
            "__lon",
            (F.col("x") + F.col("o.dx")).alias("nx"),
            (F.col("y") + F.col("o.dy")).alias("ny"),
        )
        .where(
            (F.col("nx") >= 0)
            & (F.col("nx") < n)
            & (F.col("ny") >= 0)
            & (F.col("ny") < n)
        )
    )
    clat = F.lit(90.0) - (F.col("ny").cast("double") + F.lit(0.5)) / F.lit(
        float(n)
    ) * F.lit(180.0)
    clon = (F.col("nx").cast("double") + F.lit(0.5)) / F.lit(float(n)) * F.lit(
        360.0
    ) - F.lit(180.0)
    d2 = (F.col("__lat") - clat) * (F.col("__lat") - clat) + (
        F.col("__lon") - clon
    ) * (F.col("__lon") - clon)
    # clamped to >= 1: a sample inside the k-neighborhood always counts
    # (a floor-to-zero tail weight would make the denominator sum 0 for
    # cells reached only by far samples — ANSI divide-by-zero)
    wq = F.greatest(
        F.floor(
            F.lit(float(w_scale))
            / (F.lit(1.0) + F.floor(d2 * F.lit(float(d_scale))).cast("double"))
        ).cast("long"),
        F.lit(1),
    )
    weighted = scattered.select(
        (F.lit(base) + F.col("nx") * F.lit(n) + F.col("ny")).alias("cell"),
        (F.col("__v") * wq).alias("__num"),
        wq.alias("__den"),
    )
    return (
        weighted.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("__num").alias("__sn"),
            F.sum("__den").alias("__sd"),
        )
        .select(
            "cell",
            "n_samples",
            (F.col("__sn").cast("double") / F.col("__sd").cast("double")).alias(
                "idw_value"
            ),
        )
    )


def idw_surface_sql(
    pts_sql: str,
    res: int,
    k: int = 1,
    value_expr: str = "v",
    lat_expr: str = "lat",
    lon_expr: str = "lon",
    w_scale: int = 1_000_000_000,
    d_scale: int = 1_000_000,
) -> str:
    """DuckDB twin — identical floor/quantize/sum/divide law.
    ``pts_sql`` must yield value/lat/lon columns."""
    n = 1 << res
    base = 1 << (2 * res)
    offs = ", ".join(
        f"({dx}, {dy})" for dx in range(-k, k + 1) for dy in range(-k, k + 1)
    )
    return f"""WITH iw_src AS ({pts_sql}),
iw_xy AS (
  SELECT {value_expr} AS v, {lat_expr} AS plat, {lon_expr} AS plon,
         least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {float(n)}) AS BIGINT), 0), {n - 1}) AS x,
         least(greatest(cast(floor((90.0 - ({lat_expr})) / 180.0 * {float(n)}) AS BIGINT), 0), {n - 1}) AS y
  FROM iw_src
),
iw_off(dx, dy) AS (VALUES {offs}),
iw_scat AS (
  SELECT v, plat, plon, x + dx AS nx, y + dy AS ny
  FROM iw_xy, iw_off
  WHERE x + dx >= 0 AND x + dx < {n} AND y + dy >= 0 AND y + dy < {n}
),
iw_w AS (
  SELECT ({base} + nx * {n} + ny) AS cell, v,
         greatest(CAST(floor({float(w_scale)} / (1.0 + CAST(floor(
           ((plat - (90.0 - (CAST(ny AS DOUBLE) + 0.5) / {float(n)} * 180.0))
            * (plat - (90.0 - (CAST(ny AS DOUBLE) + 0.5) / {float(n)} * 180.0))
            + (plon - ((CAST(nx AS DOUBLE) + 0.5) / {float(n)} * 360.0 - 180.0))
            * (plon - ((CAST(nx AS DOUBLE) + 0.5) / {float(n)} * 360.0 - 180.0)))
           * {float(d_scale)}) AS DOUBLE))) AS BIGINT), 1) AS wq
  FROM iw_scat
)
SELECT cell, count(*) AS n_samples,
       CAST(sum(v * wq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE) AS idw_value
FROM iw_w GROUP BY cell"""


def compact_cells(cells: DataFrame, res: int, min_res: int = 0) -> DataFrame:
    """Quadtree compaction of a cell set (H3 ``compactCells`` analog):
    wherever all 4 children of a parent are present, replace them with
    the parent, recursively down to ``min_res`` — the minimal
    mixed-resolution cover of the same area. Because cell ids are
    self-describing (the ``1 << 2r`` flag bit encodes the resolution),
    the output is a single ``cell`` column holding mixed resolutions
    that every other operator can consume directly.

    Why it matters at 100 TB: coverage sets (viewsheds, service areas,
    crawled-region masks) stored compacted shrink by the filled-area
    factor (a fully-covered continent at res 12 collapses to a handful
    of coarse cells), and containment joins against a compacted cover
    are equi-joins on the ancestor chain instead of massive fine-cell
    IN-lists.

    Plan: ``res - min_res`` fixed rounds; each round ONE hash agg on the
    parent key (complete = exactly 4 distinct children — input is made
    distinct first) + one anti-join to emit the survivors. The working
    set only shrinks; all arithmetic is branch-free integer shifts.
    """
    if not 0 <= min_res <= res:
        raise ValueError("compact_cells: need 0 <= min_res <= res")
    cur = cells.select("cell").distinct()
    kept = []
    for r in range(res, min_res, -1):
        par = cur.select(
            "cell", cell_parent("cell", r, r - 1).alias("__p")
        )
        complete = (
            par.groupBy("__p")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") == 4)
            .select(F.col("__p").alias("cell"))
        )
        # complete parents absorb their children; survivors emit final
        kept.append(
            par.join(
                complete.select(F.col("cell").alias("__p")), "__p", "left_anti"
            ).select("cell")
        )
        cur = complete
    out = cur
    for k in kept:
        out = out.unionByName(k)
    return out


def compact_cells_sql(cells_sql: str, res: int, min_res: int = 0) -> str:
    """DuckDB twin — the identical per-level complete-parent law,
    unrolled one CTE trio per level. ``cells_sql`` must yield ``cell``."""
    if not 0 <= min_res <= res:
        raise ValueError("compact_cells_sql: need 0 <= min_res <= res")
    parts = [f"WITH cp{res} AS (SELECT DISTINCT cell FROM ({cells_sql}))"]
    finals = []
    for r in range(res, min_res, -1):
        nr = 1 << r
        pbase, pn = 1 << (2 * (r - 1)), 1 << (r - 1)
        parent = (
            f"({pbase} + (((cell // {nr}) - {nr}) // 2) * {pn}"
            f" + ((cell % {nr}) // 2))"
        )
        parts.append(
            f"cp{r}_par AS (SELECT cell, {parent} AS p FROM cp{r})"
        )
        parts.append(
            f"cp{r - 1} AS (SELECT p AS cell FROM cp{r}_par "
            f"GROUP BY p HAVING count(*) = 4)"
        )
        parts.append(
            f"cp{r}_keep AS (SELECT cell FROM cp{r}_par WHERE p NOT IN "
            f"(SELECT cell FROM cp{r - 1}))"
        )
        finals.append(f"SELECT cell FROM cp{r}_keep")
    finals.append(f"SELECT cell FROM cp{min_res}")
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


def cover_contains(
    pts: DataFrame,
    cover: DataFrame,
    res: int,
    min_res: int = 0,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Membership of points in a COMPACTED (mixed-resolution) cell cover
    — the query-side payoff of :func:`compact_cells`: a point is inside
    the cover iff ANY of its ancestor cells (its res-``res`` cell, that
    cell's parent, … down to ``min_res``) appears in the cover set.
    Returns the matching point ids (``id_col``), each once.

    Plan: the ancestor chain is ``res - min_res + 1`` branch-free
    integer expressions riding the scan, exploded (constant fan-out)
    into an equi-join on the cover's cell key — a broadcast semi-join
    for any human-sized cover, a hash semi-join otherwise; never an
    IN-list of fine cells. A minimal cover holds at most one ancestor
    per point, but the output dedups anyway so non-minimal covers are
    also correct.
    """
    chain = [cell_expr(lat_col, lon_col, res)]
    for r in range(res, min_res, -1):
        chain.append(cell_parent(chain[-1], r, r - 1))
    exploded = pts.select(
        F.col(id_col), F.explode(F.array(*chain)).alias("cell")
    )
    return (
        exploded.join(cover.select("cell"), "cell", "left_semi")
        .select(id_col)
        .distinct()
    )


def cover_contains_sql(
    pts_sql: str,
    cover_sql: str,
    res: int,
    min_res: int = 0,
    id_expr: str = "id",
    lat_expr: str = "lat",
    lon_expr: str = "lon",
) -> str:
    """DuckDB twin — same ancestor-chain membership law (EXISTS against
    the cover with the chained parent arithmetic)."""
    from ..functions.cells import cell_sql

    exprs = [cell_sql(lat_expr, lon_expr, res)]
    cur = f"cc_a{res}"
    sel = [f"{exprs[0]} AS cc_a{res}"]
    for r in range(res, min_res, -1):
        nr = 1 << r
        pbase, pn = 1 << (2 * (r - 1)), 1 << (r - 1)
        parent = (
            f"({pbase} + ((({cur} // {nr}) - {nr}) // 2) * {pn}"
            f" + (({cur} % {nr}) // 2))"
        )
        sel.append(f"{parent} AS cc_a{r - 1}")
        cur = f"cc_a{r - 1}"
    anc_cols = ", ".join(f"cc_a{r}" for r in range(res, min_res - 1, -1))
    return f"""WITH cc_pts AS (
  SELECT {id_expr} AS pid, {", ".join(sel)}
  FROM ({pts_sql})
),
cc_cover AS (SELECT cell FROM ({cover_sql}))
SELECT DISTINCT pid AS {id_expr}
FROM cc_pts
WHERE EXISTS (SELECT 1 FROM cc_cover c
              WHERE c.cell IN ({anc_cols}))"""


def label_regions(tiles: DataFrame, res: int) -> DataFrame:
    """Raster region labeling (blob / connected-component labeling over
    occupied cells, 4-connectivity): every occupied cell gets a region
    id = the minimum cell id of its orthogonally-connected blob — the
    map-algebra "group contiguous area" step (landmass extraction,
    coverage-patch naming, contiguous-AOI detection) that turns a tile
    layer back into vector-ish regions.

    ``tiles`` carries cell ids at resolution ``res`` (column ``cell``).
    Adjacency wraps across the antimeridian in x (same geometry as
    ``focal_sum``) and clamps at the poles in y.

    Plan shape (100 TB lens): each occupied cell derives its right and
    down neighbor ids by integer arithmetic (branch-free, rides the
    scan) and an equi-join against the occupied set keeps real edges —
    O(2) candidates per cell, never a range join; the component fold is
    the engine's O(log n)-round alternating-star
    :func:`..operators.graph.connected_components` on the EDGE table;
    isolated cells never enter the loop and are restored by a left
    join. Returns ``(cell, region)``.
    """
    cells = tiles.select("cell").distinct()
    n = 1 << res
    base = 1 << (2 * res)
    x = ((F.col("cell") - F.lit(base)) / F.lit(n)).cast("long")
    y = F.pmod(F.col("cell") - F.lit(base), F.lit(n))
    right = F.lit(base) + F.pmod(x + 1, F.lit(n)) * F.lit(n) + y
    down = F.lit(base) + x * F.lit(n) + (y + 1)
    cand = cells.select(
        F.col("cell").alias("u"), right.alias("v")
    ).where(F.col("u") != F.col("v")).unionByName(
        cells.select(F.col("cell").alias("u"), down.alias("v")).where(
            y + 1 < F.lit(n)
        )
    )
    edges = cand.join(
        cells.select(F.col("cell").alias("v")), "v", "left_semi"
    )
    from .graph import connected_components

    comp = connected_components(edges, "u", "v")
    return (
        cells.join(comp.withColumnRenamed("id", "cell"), "cell", "left")
        .select(
            "cell",
            F.coalesce(F.col("component"), F.col("cell")).alias("region"),
        )
    )


def label_regions_sql(tiles_sql: str, res: int) -> str:
    """DuckDB twin — same neighbor law, recursive reachability closure
    (exact on oracle inputs; the engine runs the star algorithm)."""
    n = 1 << res
    base = 1 << (2 * res)
    x = f"((a.cell - {base}) // {n})"
    y = f"((a.cell - {base}) % {n})"
    right = f"({base} + (({x} + 1) % {n}) * {n} + {y})"
    down = f"({base} + {x} * {n} + ({y} + 1))"
    return f"""WITH RECURSIVE rl_cells AS MATERIALIZED (
  SELECT DISTINCT cell FROM ({tiles_sql})
),
rl_dir AS MATERIALIZED (
  SELECT a.cell AS u, b.cell AS v
  FROM rl_cells a JOIN rl_cells b ON b.cell = {right}
  WHERE a.cell <> b.cell
  UNION ALL
  SELECT a.cell, b.cell
  FROM rl_cells a JOIN rl_cells b ON b.cell = {down}
  WHERE {y} + 1 < {n}
),
rl_pairs AS MATERIALIZED (
  SELECT u, v FROM rl_dir UNION SELECT v, u FROM rl_dir
),
rl_reach(id, lbl) AS (
  SELECT cell, cell FROM rl_cells
  UNION
  SELECT p.v, r.lbl FROM rl_reach r JOIN rl_pairs p ON p.u = r.id
)
SELECT id AS cell, min(lbl) AS region FROM rl_reach GROUP BY id"""


def hotspots_gi(
    tiles: DataFrame,
    res: int,
    k: int = 1,
    z: int = 2,
    value_col: str = "n_points",
) -> DataFrame:
    """Getis-Ord Gi* hot/cold-spot detection over a tile layer with an
    EXACT integer significance law — the standard local spatial
    statistic (crime/disease/demand clustering) without a single float.

    Gi* compares each cell's (2k+1)²-neighborhood sum W (self included)
    against its expectation under the global distribution of the n
    OCCUPIED cells (study area = occupied cells, documented choice —
    empty ocean does not dilute the field). The usual z-test

        (W - m·S/n) / (s·sqrt(m(n-m)/(n-1)))   with s² = (nQ-S²)/n²

    is multiplied through by n²(n-1), giving the integer inequality

        (n-1)·(nW - mS)²  >  z²·(nQ - S²)·m·(n-m)

    (m = occupied neighbor count incl. self). Both sides are exact
    BIGINTs: flags are bit-reproducible across engines and
    partitionings — no libm, no boundary flips. Overflow envelope:
    needs n²·W² within int64; callers at planetary cell counts
    pre-aggregate to a coarser res (documented contract, same family
    as anomaly_flags).

    Returns flagged cells ``(cell, w_sum, m_neighbors, spot)`` with
    ``spot`` ∈ {'hot','cold'}.

    Plan shape (100 TB lens): neighborhood sums reuse
    :func:`focal_sum` (constant scatter over occupied tiles); the
    global (n, S, Q) is one 1-row agg broadcast back — no window over
    the whole layer, no join explosion.
    """
    zz = int(z) * int(z)
    base_stats = tiles.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast("long")).alias("__s"),
        F.sum(
            F.col(value_col).cast("long") * F.col(value_col).cast("long")
        ).alias("__q"),
    )
    focal = focal_sum(tiles, res, k=k, value_col=value_col)
    j = focal.crossJoin(F.broadcast(base_stats))
    n, s, q = F.col("__n"), F.col("__s"), F.col("__q")
    w, m = F.col("focal_sum").cast("long"), F.col("n_neighbors").cast("long")
    dev = n * w - m * s
    lhs = (n - F.lit(1)) * dev * dev
    rhs = F.lit(zz) * (n * q - s * s) * m * (n - m)
    return (
        j.where(lhs > rhs)
        .select(
            "cell",
            F.col("focal_sum").alias("w_sum"),
            F.col("n_neighbors").alias("m_neighbors"),
            F.when(dev > 0, F.lit("hot")).otherwise(F.lit("cold")).alias("spot"),
        )
    )


def hotspots_gi_sql(
    tiles_sql: str, res: int, k: int = 1, z: int = 2
) -> str:
    """DuckDB twin — identical focal law + integer inequality.
    ``tiles_sql`` must yield ``(cell, n_points)``."""
    zz = int(z) * int(z)
    focal = focal_sum_sql(tiles_sql, res, k=k)
    return f"""WITH hg_focal AS (
{focal}
),
hg_stats AS (
  SELECT count(*) AS n, sum(CAST(n_points AS BIGINT)) AS s,
         sum(CAST(n_points AS BIGINT) * CAST(n_points AS BIGINT)) AS q
  FROM ({tiles_sql})
)
SELECT f.cell, CAST(f.focal_sum AS BIGINT) AS w_sum,
       f.n_neighbors AS m_neighbors,
       CASE WHEN g.n * f.focal_sum - f.n_neighbors * g.s > 0
            THEN 'hot' ELSE 'cold' END AS spot
FROM hg_focal f CROSS JOIN hg_stats g
WHERE (g.n - 1) * (g.n * f.focal_sum - f.n_neighbors * g.s)
      * (g.n * f.focal_sum - f.n_neighbors * g.s)
    > {zz} * (g.n * g.q - g.s * g.s) * f.n_neighbors * (g.n - f.n_neighbors)"""


def st_hotspots_gi(
    st_tiles: DataFrame,
    res: int,
    k: int = 1,
    t_k: int = 1,
    z: int = 2,
    value_col: str = "n_points",
    tbin_col: str = "tbin",
) -> DataFrame:
    """Space-TIME Getis-Ord Gi* — the emerging-hotspot primitive (the
    space-time cube analysis ESRI popularized): each occupied
    (cell, time-bin) voxel tests its (2k+1)² × (2·t_k+1) neighborhood
    sum against the global field, with the SAME n²(n-1)-multiplied
    exact-integer significance law as :func:`hotspots_gi` — flags are
    bit-reproducible, no float mean/stddev anywhere.

    Study area = occupied voxels (documented, as in the 2-D op).
    Spatial x wraps at the antimeridian, y clamps at the poles; time
    clamps at the data's edge bins implicitly (no wrap — neighbors
    simply don't exist there, shrinking m like the spatial borders).

    Plan shape (100 TB lens): constant (2k+1)²(2t_k+1) scatter per
    OCCUPIED voxel + one hash agg on the (cell, tbin) key; global
    (n, S, Q) is one broadcast 1-row agg. Returns flagged voxels
    ``(cell, tbin, w_sum, m_neighbors, spot)``.
    """
    zz = int(z) * int(z)
    n_grid = 1 << res
    base = 1 << (2 * res)
    x = ((F.col("cell") - F.lit(base)) / F.lit(n_grid)).cast("long")
    y = F.pmod(F.col("cell") - F.lit(base), F.lit(n_grid))
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(dt).alias("dt")
            )
            for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)
            for dt in range(-t_k, t_k + 1)
        ]
    )
    voxels = st_tiles.select(
        "cell",
        F.col(tbin_col).alias("__t"),
        F.col(value_col).cast("long").alias("__v"),
    )
    scattered = (
        voxels.select(
            "__v",
            x.alias("x"),
            y.alias("y"),
            "__t",
            F.explode(offsets).alias("o"),
        )
        .select(
            "__v",
            (F.pmod(F.col("x") + F.col("o.dx") + F.lit(n_grid), F.lit(n_grid))).alias("nx"),
            (F.col("y") + F.col("o.dy")).alias("ny"),
            (F.col("__t") + F.col("o.dt")).alias("nt"),
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < n_grid))
        .select(
            (F.lit(base) + F.col("nx") * F.lit(n_grid) + F.col("ny")).alias("cell"),
            F.col("nt").alias("__t"),
            "__v",
        )
    )
    contrib = scattered.groupBy("cell", "__t").agg(
        F.sum("__v").alias("w_sum"), F.count(F.lit(1)).alias("m_neighbors")
    )
    focal = voxels.select("cell", "__t").join(contrib, ["cell", "__t"])
    stats = voxels.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__q"),
    )
    j = focal.crossJoin(F.broadcast(stats))
    n, s, q = F.col("__n"), F.col("__s"), F.col("__q")
    w, m = F.col("w_sum"), F.col("m_neighbors")
    dev = n * w - m * s
    lhs = (n - F.lit(1)) * dev * dev
    rhs = F.lit(zz) * (n * q - s * s) * m * (n - m)
    return (
        j.where(lhs > rhs)
        .select(
            "cell",
            F.col("__t").alias(tbin_col),
            "w_sum",
            "m_neighbors",
            F.when(dev > 0, F.lit("hot")).otherwise(F.lit("cold")).alias("spot"),
        )
    )


def st_hotspots_gi_sql(
    st_tiles_sql: str,
    res: int,
    k: int = 1,
    t_k: int = 1,
    z: int = 2,
) -> str:
    """DuckDB twin — identical voxel scatter + integer inequality.
    ``st_tiles_sql`` must yield ``(cell, tbin, n_points)``."""
    zz = int(z) * int(z)
    n_grid = 1 << res
    base = 1 << (2 * res)
    offs = ", ".join(
        f"({dx}, {dy}, {dt})"
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
        for dt in range(-t_k, t_k + 1)
    )
    return f"""WITH sth_vox AS MATERIALIZED (
  SELECT cell, tbin, CAST(n_points AS BIGINT) AS v FROM ({st_tiles_sql})
),
sth_xy AS (
  SELECT v, CAST((cell - {base}) // {n_grid} AS BIGINT) AS x,
         CAST((cell - {base}) % {n_grid} AS BIGINT) AS y, tbin
  FROM sth_vox
),
sth_off(dx, dy, dt) AS (VALUES {offs}),
sth_scat AS (
  SELECT ({base} + ((x + dx + {n_grid}) % {n_grid}) * {n_grid} + (y + dy)) AS cell,
         tbin + dt AS tbin, v
  FROM sth_xy, sth_off
  WHERE y + dy >= 0 AND y + dy < {n_grid}
),
sth_c AS (
  SELECT cell, tbin, sum(v) AS w_sum, count(*) AS m_neighbors
  FROM sth_scat GROUP BY cell, tbin
),
sth_f AS (
  SELECT x.cell, x.tbin, c.w_sum, c.m_neighbors
  FROM (SELECT cell, tbin FROM sth_vox) x JOIN sth_c c USING (cell, tbin)
),
sth_g AS (
  SELECT count(*) AS n, sum(v) AS s, sum(v * v) AS q FROM sth_vox
)
SELECT f.cell, f.tbin, CAST(f.w_sum AS BIGINT) AS w_sum, f.m_neighbors,
       CASE WHEN g.n * f.w_sum - f.m_neighbors * g.s > 0
            THEN 'hot' ELSE 'cold' END AS spot
FROM sth_f f CROSS JOIN sth_g g
WHERE (g.n - 1) * (g.n * f.w_sum - f.m_neighbors * g.s)
      * (g.n * f.w_sum - f.m_neighbors * g.s)
    > {zz} * (g.n * g.q - g.s * g.s) * f.m_neighbors * (g.n - f.m_neighbors)"""


def _res_ladder_sql(cell_expr_txt: str) -> str:
    """Per-row resolution of a self-describing cell id as a pure CASE
    ladder of integer compares (no log2 — libm-free, ulp-free, portable
    to any SQL engine)."""
    out = "0"
    for r in range(1, 16):
        out = f"CASE WHEN {cell_expr_txt} >= {1 << (2 * r)} THEN {r} ELSE {out} END"
    return out


def uncompact_cells(cells: DataFrame, target_res: int) -> DataFrame:
    """Inverse of :func:`compact_cells`: expand a MIXED-resolution cell
    set to uniform ``target_res`` cells — the read-side adapter when a
    consumer needs a flat raster (join against a single-res tile layer,
    export, k-ring math) from a compacted cover.

    Plan: one fixed branch per source resolution 0..target (a cell's
    res is its flag-bit range, so each branch is a literal-only filter
    + literal shift arithmetic + a bounded ``sequence`` explode — no
    data-dependent CASE ladders, every branch whole-stage-codegens
    small), unioned. Cells already AT ``target_res`` pass through;
    cells FINER than the target are rejected loudly (expanding cannot
    coarsen — that is :func:`compact_cells`' direction).

    ``compact_cells`` → ``uncompact_cells`` is an exact identity on any
    uniform-res input (tested); fan-out is the true area, so a
    compacted continent expands to exactly its fine cells — callers
    wanting bounded output keep covers compacted and join with
    :func:`cover_contains` instead.
    """
    t = int(target_res)
    # each resolution branch re-scans the input: truncate the upstream
    # lineage once (a compacted cover is tiny by construction) so the
    # union does not replicate the producer plan per branch — the same
    # localCheckpoint discipline as the iterative operators
    cells = cells.select("cell").localCheckpoint()
    cell = F.col("cell")
    # STRICT guard branch: any cell above the target flag range raises
    # at execution (assert_true rides the scan — no extra job)
    guard = cells.where(cell >= F.lit(1 << (2 * (t + 1)))).select(
        F.assert_true(
            F.lit(False),
            F.lit(f"uncompact_cells: cell finer than target_res {t}"),
        ).cast("long").alias("cell")
    )
    branches = [guard]
    for r in range(t + 1):
        lo = 1 << (2 * r)
        hi = 1 << (2 * r + 2)
        d = t - r
        side = 1 << d
        n_r = 1 << r
        b = cells.where((cell >= F.lit(lo)) & (cell < F.lit(hi)))
        if d == 0:
            branches.append(b.select("cell"))
            continue
        x = F.shiftright(cell, r) - F.lit(n_r)
        y = cell - F.shiftleft(F.shiftright(cell, r), r)
        exploded = b.select(
            x.alias("__x"),
            y.alias("__y"),
            F.explode(F.sequence(F.lit(0), F.lit(side * side - 1))).alias("__i"),
        )
        cx = F.col("__x") * F.lit(side) + F.shiftright(F.col("__i"), d)
        cy = F.col("__y") * F.lit(side) + F.pmod(F.col("__i"), F.lit(side))
        branches.append(
            exploded.select(
                (F.lit(1 << (2 * t)) + cx * F.lit(1 << t) + cy).alias("cell")
            )
        )
    out = branches[0]
    for br in branches[1:]:
        out = out.unionByName(br)
    return out


def uncompact_cells_sql(cells_sql: str, target_res: int) -> str:
    """DuckDB twin — identical CASE-ladder / shift / explode law (the
    finer-than-target guard is the engine's job; the twin assumes valid
    input)."""
    t = int(target_res)
    res = _res_ladder_sql("cell")
    p_lad = "0"
    for r in range(16):
        p_lad = f"CASE WHEN res = {r} THEN {1 << r} ELSE {p_lad} END"
    s_lad = "0"
    for r in range(16):
        d = t - r
        sv = 1 << d if d >= 0 else 0
        s_lad = f"CASE WHEN res = {r} THEN {sv} ELSE {s_lad} END"
    return f"""WITH uc_src AS (SELECT cell FROM ({cells_sql})),
uc_res AS (SELECT cell, {res} AS res FROM uc_src),
uc_st AS (
  SELECT cell, res, {p_lad} AS p, {s_lad} AS side FROM uc_res
),
uc_xy AS (
  SELECT CAST(cell // p AS BIGINT) - p AS x, cell % p AS y, side FROM uc_st
),
uc_i AS (
  SELECT x, y, side, unnest(range(0, side * side)) AS i FROM uc_xy
)
SELECT ({1 << (2 * t)} + (x * side + CAST(i // side AS BIGINT)) * {1 << t}
        + (y * side + i % side)) AS cell
FROM uc_i"""


def polyfill(
    polygons: DataFrame, res: int, max_cells: int = 4096
) -> DataFrame:
    """Rasterize polygons: every res-``res`` cell whose CENTER lies inside
    the closed ring (even-odd PNPOLY) -> ``(polygon_id, cell)``.

    The dual of :func:`points_to_tiles` cover-of-points: here the *polygon*
    is enumerated, not the data — the H3-polyfill primitive that turns the
    reference's assembled areas (gosmonaut.go:156-186 way stitching) into a
    raster layer joinable against any tile table by plain equi-join.

    Scale shape: candidate enumeration is the bbox span at ``res``, bounded
    per polygon by ``max_cells`` (a loud ``raise_error`` rides the
    projection — a continent-sized ring at res 14 must be covered at a
    coarser res, as :func:`point_in_polygon_join`'s adaptive cover does
    with :func:`polygon_cover_cells`, or be split by compaction). The
    inside test is the native ray-cast fold from operators/pip.py — no
    UDF, no shuffle: one narrow map over the polygon table, output fan-out
    <= max_cells per row.
    """
    from ..functions.cells import _grid_n, cell_from_xy, cell_x, cell_y
    from .pip import ray_cast_inside

    p = polygons.select(
        "polygon_id",
        "lats",
        "lons",
        F.array_min("lats").alias("pf_min_lat"),
        F.array_max("lats").alias("pf_max_lat"),
        F.array_min("lons").alias("pf_min_lon"),
        F.array_max("lons").alias("pf_max_lon"),
    )
    x0 = cell_x("pf_min_lon", res)
    x1 = cell_x("pf_max_lon", res)
    y0 = cell_y("pf_max_lat", res)  # y grows southward
    y1 = cell_y("pf_min_lat", res)
    n_cand = (x1 - x0 + F.lit(1)) * (y1 - y0 + F.lit(1))
    x1_guarded = F.when(n_cand <= F.lit(int(max_cells)), x1).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"polyfill: polygon bbox exceeds {max_cells} cells at "
                    f"res {res} (polygon_id="
                ),
                F.col("polygon_id").cast("string"),
                F.lit(") — use a coarser res or split the polygon"),
            )
        )
    )
    cand = p.withColumn("pf_x", F.explode(F.sequence(x0, x1_guarded))).withColumn(
        "pf_y", F.explode(F.sequence(y0, y1))
    )
    n = float(_grid_n(res))
    clon = (F.col("pf_x").cast("double") + F.lit(0.5)) / F.lit(n) * F.lit(
        360.0
    ) - F.lit(180.0)
    clat = F.lit(90.0) - (F.col("pf_y").cast("double") + F.lit(0.5)) / F.lit(
        n
    ) * F.lit(180.0)
    inside = ray_cast_inside(clat, clon, F.col("lats"), F.col("lons"))
    return cand.where(inside).select(
        "polygon_id",
        cell_from_xy(F.col("pf_x"), F.col("pf_y"), res).alias("cell"),
    )


def polyfill_sql(verts_sql: str, res: int) -> str:
    """DuckDB twin of :func:`polyfill`. ``verts_sql`` must yield the closed
    rings as ``(polygon_id, i, lat, lon)`` with ``i`` 1-based in ring order
    and the last vertex duplicating the first. Every double expression
    (bbox floor/clamp, cell centers, PNPOLY crossing) is textually the same
    IEEE arithmetic as the Spark path, so the comparison is bit-exact."""
    n = 1 << res
    nf = float(n)

    def _clamp(e: str) -> str:
        return f"least(greatest(cast(floor({e}) as bigint), 0), {n - 1})"

    x0 = _clamp(f"(min_lon + 180.0) / 360.0 * {nf}")
    x1 = _clamp(f"(max_lon + 180.0) / 360.0 * {nf}")
    y0 = _clamp(f"(90.0 - max_lat) / 180.0 * {nf}")
    y1 = _clamp(f"(90.0 - min_lat) / 180.0 * {nf}")
    return f"""WITH pfv AS ({verts_sql}),
pf_edges AS (
  SELECT a.polygon_id, a.lat AS y1, a.lon AS x1, b.lat AS y2, b.lon AS x2
  FROM pfv a JOIN pfv b ON a.polygon_id = b.polygon_id AND b.i = a.i + 1
),
pf_bbox AS (
  SELECT polygon_id, min(lat) AS min_lat, max(lat) AS max_lat,
         min(lon) AS min_lon, max(lon) AS max_lon
  FROM pfv GROUP BY polygon_id
),
pf_span AS (
  SELECT polygon_id, {x0} AS x0, {x1} AS x1, {y0} AS y0, {y1} AS y1
  FROM pf_bbox
),
pf_xy AS (
  SELECT polygon_id, x, unnest(range(y0, y1 + 1)) AS y
  FROM (
    SELECT polygon_id, y0, y1, unnest(range(x0, x1 + 1)) AS x FROM pf_span
  )
),
pf_ctr AS (
  SELECT polygon_id, x, y,
         90.0 - (CAST(y AS DOUBLE) + 0.5) / {nf} * 180.0 AS clat,
         (CAST(x AS DOUBLE) + 0.5) / {nf} * 360.0 - 180.0 AS clon
  FROM pf_xy
),
pf_k AS (
  SELECT c.polygon_id, c.x, c.y,
         sum(CASE WHEN (e.y1 > c.clat) != (e.y2 > c.clat)
                   AND c.clon < (e.x2 - e.x1) * (c.clat - e.y1)
                               / (e.y2 - e.y1) + e.x1
              THEN 1 ELSE 0 END) AS k
  FROM pf_ctr c JOIN pf_edges e ON e.polygon_id = c.polygon_id
  GROUP BY c.polygon_id, c.x, c.y
)
SELECT polygon_id, CAST({1 << (2 * res)} + x * {n} + y AS BIGINT) AS cell
FROM pf_k WHERE k % 2 = 1"""


def zorder_bbox_ranges(
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    res: int,
    max_cells: int = 4096,
) -> list[tuple[int, int]]:
    """Plan-time: the bbox's cell cover at ``res`` as MERGED contiguous
    Morton-code ranges ``[(lo, hi), ...]``. This is the Z-ORDER file-skip
    computation (Delta/Iceberg clustering): a morton-sorted table scans
    only these key ranges. Pure arithmetic on the bbox LITERALS (like
    partition-filter planning — no data touched), bounded by
    ``max_cells``."""
    import math

    from ..functions.cells import MAX_RES, MIN_RES

    if not MIN_RES <= res <= MAX_RES:
        raise ValueError(f"res must be in [{MIN_RES},{MAX_RES}]")
    n = 1 << res

    def clamp(v: float) -> int:
        return min(max(int(math.floor(v)), 0), n - 1)

    x0 = clamp((lon_min + 180.0) / 360.0 * float(n))
    x1 = clamp((lon_max + 180.0) / 360.0 * float(n))
    y0 = clamp((90.0 - lat_max) / 180.0 * float(n))
    y1 = clamp((90.0 - lat_min) / 180.0 * float(n))
    n_cand = (x1 - x0 + 1) * (y1 - y0 + 1)
    if n_cand > max_cells:
        raise ValueError(
            f"zorder_bbox_ranges: bbox covers {n_cand} cells at res {res} "
            f"(> {max_cells}) — coarsen res or raise max_cells"
        )

    def spread(v: int) -> int:
        for sh, m in (
            (8, 0x00FF00FF),
            (4, 0x0F0F0F0F),
            (2, 0x33333333),
            (1, 0x55555555),
        ):
            v = ((v << sh) | v) & m
        return v

    codes = sorted(
        spread(x) | (spread(y) << 1)
        for x in range(x0, x1 + 1)
        for y in range(y0, y1 + 1)
    )
    ranges: list[tuple[int, int]] = []
    lo = prev = codes[0]
    for c in codes[1:]:
        if c != prev + 1:
            ranges.append((lo, prev))
            lo = c
        prev = c
    ranges.append((lo, prev))
    return ranges


def zorder_range_scan(
    points: DataFrame,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
    res: int,
    max_cells: int = 4096,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Prune-then-refine bbox scan through the Morton index: join points
    against the broadcast merged code ranges (the logical analog of
    z-order file skipping — on a morton-sorted/partitioned table this
    becomes a storage-level range prune), then apply the EXACT bbox
    predicate (boundary cells are only partially inside).

    Scale shape: ranges are plan-time literals (a few dozen after
    merging), broadcast to a nested-loop membership test — map-only over
    the points, no shuffle; the refine rides the same projection."""
    from ..functions.cells import morton_expr

    spark = points.sparkSession
    ranges = zorder_bbox_ranges(
        lat_min, lat_max, lon_min, lon_max, res, max_cells=max_cells
    )
    rdf = spark.createDataFrame(ranges, "zr_lo long, zr_hi long")
    pm = morton_expr(lat, lon, res)
    pruned = points.withColumn("_zm", pm).join(
        F.broadcast(rdf),
        (F.col("_zm") >= F.col("zr_lo")) & (F.col("_zm") <= F.col("zr_hi")),
        "inner",
    )
    return pruned.where(
        (F.col(lat) >= F.lit(lat_min))
        & (F.col(lat) <= F.lit(lat_max))
        & (F.col(lon) >= F.lit(lon_min))
        & (F.col(lon) <= F.lit(lon_max))
    ).drop("_zm", "zr_lo", "zr_hi")


def adaptive_tiles(
    points: DataFrame,
    res_min: int,
    res_max: int,
    cap: int,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Adaptive quadtree tiling: every cell holding more than ``cap``
    points splits into its res+1 children, down to ``res_max`` ->
    ``(cell, n_points)`` — a NON-OVERLAPPING mixed-resolution cover
    where every tile holds <= cap points unless it is already at
    ``res_max``. Tile ids are self-describing (res in the flag bit), so
    the mixed cover joins like any one-res layer.

    The equal-mass layout primitive: a fixed-res tiling of a skewed
    planet gives 1e9-point metro cells next to empty ocean; the
    adaptive cover is what you shuffle-partition by when each tile must
    fit an executor (same motive as the salted aggregations, solved in
    the data model instead of the key).

    Scale shape (100 TB lens): the POINT table is scanned exactly once
    (leaf-res aggregate); every further step — parent roll-ups and the
    per-leaf split-depth decision ladder — runs on the DISTINCT-CELL
    table, orders of magnitude smaller. Counts are weakly decreasing
    down the ancestor chain (power-of-2 floor nesting), so "first res
    whose count <= cap, coarse to fine" IS the split law; the ladder is
    a literal-folded CASE, no iteration over points, no UDF.
    """
    if not 0 <= res_min < res_max <= 15:
        raise ValueError("need 0 <= res_min < res_max <= 15")
    from ..functions.cells import cell_expr, cell_parent

    leaf = (
        points.select(cell_expr(lat, lon, res_max).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = {res_max: leaf}
    cur = leaf
    for r in range(res_max - 1, res_min - 1, -1):
        cur = (
            cur.select(cell_parent("cell", r + 1, r).alias("cell"), "n")
            .groupBy("cell")
            .agg(F.sum("n").alias("n"))
        )
        counts[r] = cur

    dec = leaf.select(F.col("cell").alias("leaf"), F.col("n").alias(f"n_{res_max}"))
    for r in range(res_min, res_max):
        anc = cell_parent("leaf", res_max, r).alias("cell")
        dec = dec.withColumn("cell", anc).join(
            counts[r].select("cell", F.col("n").alias(f"n_{r}")), "cell"
        ).drop("cell")
    tile = None
    npts = None
    for r in range(res_min, res_max + 1):
        cond = (
            F.col(f"n_{r}") <= F.lit(int(cap))
            if r < res_max
            else F.lit(True)
        )
        anc = (
            cell_parent("leaf", res_max, r)
            if r < res_max
            else F.col("leaf")
        )
        tile = F.when(cond, anc) if tile is None else tile.when(cond, anc)
        npts = (
            F.when(cond, F.col(f"n_{r}"))
            if npts is None
            else npts.when(cond, F.col(f"n_{r}"))
        )
    return (
        dec.select(tile.alias("cell"), npts.alias("n_points"))
        .distinct()
    )


def adaptive_tiles_sql(
    pts_sql: str,
    res_min: int,
    res_max: int,
    cap: int,
    lat_expr: str = "lat",
    lon_expr: str = "lon",
) -> str:
    """DuckDB twin of :func:`adaptive_tiles` — per-res counts straight
    from the points (parent arithmetic == recompute-at-coarser-res, the
    same nesting law the rollup oracle already certifies), identical
    CASE ladder."""
    from ..functions.cells import cell_sql

    rs = list(range(res_min, res_max + 1))
    cell_cols = ", ".join(
        f"{cell_sql(lat_expr, lon_expr, r)} AS c{r}" for r in rs
    )
    cnts = ",\n".join(
        f"at_cnt{r} AS (SELECT c{r} AS cell, count(*) AS n "
        f"FROM at_pc GROUP BY 1)"
        for r in rs
    )
    joins = "\n".join(
        f"JOIN at_cnt{r} x{r} ON x{r}.cell = p.c{r}" for r in rs
    )
    tile_case = " ".join(
        f"WHEN x{r}.n <= {int(cap)} THEN p.c{r}" for r in rs[:-1]
    )
    n_case = " ".join(
        f"WHEN x{r}.n <= {int(cap)} THEN x{r}.n" for r in rs[:-1]
    )
    return f"""WITH at_src AS ({pts_sql}),
at_pc AS (SELECT {cell_cols} FROM at_src),
{cnts}
SELECT DISTINCT
  CASE {tile_case} ELSE p.c{res_max} END AS cell,
  CASE {n_case} ELSE x{res_max}.n END AS n_points
FROM at_pc p
{joins}"""


# ---------------------------------------------------------------------------
# Global spatial autocorrelation (Moran's I) over a tile layer
# ---------------------------------------------------------------------------


def morans_i(tiles: DataFrame, res: int) -> DataFrame:
    """Global Moran's I over a ``(cell, n_points)`` tile layer at
    resolution ``res`` → one row ``(n_cells, w, morans_i)``.

    The corpus-level companion of :func:`hotspots_gi`: Gi* flags WHICH
    cells are hot; Moran's I answers whether the layer is spatially
    structured AT ALL (+1 clustered, ≈ −1/(n−1) random, −1 dispersed) —
    the standard first gate before paying for per-cell hotspot scans,
    and a drift monitor for tile layers rebuilt per crawl snapshot.

    Weights: rook adjacency (shared edge) BETWEEN OCCUPIED CELLS —
    absent tiles are not lattice members (the point-pattern convention;
    a dense-lattice variant is a different statistic, documented here so
    nobody mistakes the two). Binary weights, W = 2 × adjacent pairs.

    Exact-integer law (the burst-days z-score trick, scaled to two
    moments): with S = Σx and n cells, n·(x_i − x̄) = n·x_i − S is an
    integer, and the n² factors cancel in the ratio, so

        I = n · Σ_adj 2·z'_i·z'_j  /  ( W · Σ z'_i² ),   z' = n·x − S

    Numerator/denominator accumulate as DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — exact, order-free — and ONE terminal division
    runs in doubles with the identical expression tree both engines.

    Scale shape: per-cell agg is upstream (the caller's groupBy); here
    one tiny broadcastable global agg (S, n) joined back scalar-style,
    then TWO equi-joins on shifted cell ids (+1 within column, +n
    within row — the composite id makes rook adjacency integer
    arithmetic, no geometry). No cross join, no window over the world.
    """
    n_side = 1 << res
    base = 1 << (2 * res)
    cell = F.col("cell")
    guard = F.assert_true(
        (cell >= F.lit(base)) & (cell < F.lit(2 * base)),
        F.lit(f"morans_i: cell id outside resolution {res}"),
    ).isNull()
    t = tiles.select(
        cell.alias("cell"), F.col("n_points").cast("long").alias("x")
    ).where(guard | (F.rand() < F.lit(-1.0)))
    tot = t.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    z = t.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).alias("z"),
    )
    # rook neighbors via composite-id arithmetic; +1 crosses a column
    # boundary iff y = n_side-1 (id ≡ base-relative mod n_side), +n_side
    # crosses the east edge iff x = n_side-1 — both guarded
    right = z.where((F.col("cell") - F.lit(base)) % F.lit(n_side) != F.lit(n_side - 1))
    pairs_d = right.select(
        (F.col("cell") + F.lit(1)).alias("cell"), F.col("z").alias("z_a")
    ).join(z.select("cell", F.col("z").alias("z_b")), "cell")
    east = z.where(F.col("cell") + F.lit(n_side) < F.lit(2 * base))
    pairs_e = east.select(
        (F.col("cell") + F.lit(n_side)).alias("cell"), F.col("z").alias("z_a")
    ).join(z.select("cell", F.col("z").alias("z_b")), "cell")
    adj = pairs_d.unionByName(pairs_e)
    num = adj.agg(
        F.coalesce(
            F.sum(F.col("z_a").cast("decimal(19,0)") * F.col("z_b").cast("decimal(19,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("num_half"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    den = z.agg(
        F.sum(F.col("z").cast("decimal(19,0)") * F.col("z").cast("decimal(19,0)")).alias("den"),
        F.max("n").alias("n"),
    )
    return den.crossJoin(F.broadcast(num)).select(
        F.col("n").alias("n_cells"),
        (F.lit(2) * F.col("n_pairs")).alias("w"),
        F.when(
            (F.col("n_pairs") > 0) & (F.col("den") > 0),
            (F.col("num_half").cast("double") * F.lit(2.0) * F.col("n"))
            / (F.col("den").cast("double") * F.lit(2.0) * F.col("n_pairs")),
        ).alias("morans_i"),
    )


def morans_i_sql(tiles_sql: str, res: int) -> str:
    """DuckDB twin — identical z' integers, composite-id rook joins and
    terminal double division (``tiles_sql`` → ``(cell, n_points)``)."""
    n_side = 1 << res
    base = 1 << (2 * res)
    return f"""WITH mi_t AS (
  SELECT cell, CAST(n_points AS BIGINT) AS x FROM ({tiles_sql})
),
mi_tot AS (SELECT count(*) AS n, sum(x) AS s FROM mi_t),
mi_z AS (
  SELECT cell, n, n * x - s AS z FROM mi_t, mi_tot
),
mi_adj AS (
  SELECT a.z AS z_a, b.z AS z_b
  FROM mi_z a JOIN mi_z b ON b.cell = a.cell + 1
  WHERE (a.cell - {base}) % {n_side} != {n_side - 1}
  UNION ALL
  SELECT a.z, b.z
  FROM mi_z a JOIN mi_z b ON b.cell = a.cell + {n_side}
  WHERE a.cell + {n_side} < {2 * base}
),
mi_num AS (
  SELECT coalesce(sum(CAST(z_a AS HUGEINT) * z_b), 0) AS num_half, count(*) AS n_pairs
  FROM mi_adj
),
mi_den AS (SELECT sum(CAST(z AS HUGEINT) * z) AS den, max(n) AS n FROM mi_z)
SELECT d.n AS n_cells, 2 * m.n_pairs AS w,
       CASE WHEN m.n_pairs > 0 AND d.den > 0 THEN
         (CAST(m.num_half AS DOUBLE) * 2.0 * d.n)
         / (CAST(d.den AS DOUBLE) * 2.0 * m.n_pairs)
       END AS morans_i
FROM mi_den d, mi_num m"""


# ---------------------------------------------------------------------------
# bivariate join-count statistics over a classed tile layer
# ---------------------------------------------------------------------------


def join_counts(tiles: DataFrame, res: int) -> DataFrame:
    """Join-count statistics over a classed tile layer → one row per
    unordered class pair ``(class_a, class_b, n_joins, share)``.

    The categorical companion of :func:`morans_i` (which needs a
    numeric field): given each occupied cell's dominant CLASS, count
    rook-adjacent cell pairs by class combination — the classic
    join-count test field (BB/BW/WW joins) for "do land-use classes /
    event types / language regions clump or interleave?". Same-class
    counts on the diagonal (``class_a == class_b``) measure clumping;
    cross-class counts measure interfaces.

    Input: ``(cell, cls)`` — one row per OCCUPIED cell with its class
    (callers derive the dominant class with their own pinned tie law).
    Adjacency is the composite-id rook arithmetic shared with
    :func:`morans_i` (+1 within a column, +n within a row, boundary
    guards) between occupied cells. Pure integer counts; ``share`` is
    the single terminal division by the total join count.

    Scale: two equi-joins on shifted ids over the CELL table + one
    pair-key agg — nothing touches the point table after the caller's
    per-cell class agg.
    """
    n_side = 1 << res
    base = 1 << (2 * res)
    t = tiles.select("cell", F.col("cls").cast("string").alias("cls"))
    rel = F.col("cell") - F.lit(base)
    down_ok = rel % F.lit(n_side) != F.lit(n_side - 1)
    east_ok = F.col("cell") + F.lit(n_side) < F.lit(2 * base)
    pairs = None
    for off, guard in ((1, down_ok), (n_side, east_ok)):
        p = (
            t.where(guard)
            .select(
                (F.col("cell") + F.lit(off)).alias("cell"),
                F.col("cls").alias("cls_a"),
            )
            .join(t.select("cell", F.col("cls").alias("cls_b")), "cell")
            .select(
                F.least("cls_a", "cls_b").alias("class_a"),
                F.greatest("cls_a", "cls_b").alias("class_b"),
            )
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    counts = pairs.groupBy("class_a", "class_b").agg(
        F.count(F.lit(1)).alias("n_joins")
    )
    tot = counts.agg(F.sum("n_joins").alias("t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "class_a",
            "class_b",
            "n_joins",
            (F.col("n_joins").cast("double") / F.col("t").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("class_a", "class_b")
    )


def join_counts_sql(tiles_sql: str, res: int) -> str:
    """DuckDB twin — identical composite-id rook joins and class-pair
    canonicalization (``tiles_sql`` → ``(cell, cls)``)."""
    n_side = 1 << res
    base = 1 << (2 * res)
    return f"""WITH jc_t AS (
  SELECT cell, CAST(cls AS VARCHAR) AS cls FROM ({tiles_sql})
),
jc_p AS (
  SELECT least(a.cls, b.cls) AS class_a, greatest(a.cls, b.cls) AS class_b
  FROM jc_t a JOIN jc_t b ON b.cell = a.cell + 1
  WHERE (a.cell - {base}) % {n_side} != {n_side - 1}
  UNION ALL
  SELECT least(a.cls, b.cls), greatest(a.cls, b.cls)
  FROM jc_t a JOIN jc_t b ON b.cell = a.cell + {n_side}
  WHERE a.cell + {n_side} < {2 * base}
),
jc_c AS (
  SELECT class_a, class_b, count(*) AS n_joins
  FROM jc_p GROUP BY class_a, class_b
)
SELECT class_a, class_b, n_joins,
       CAST(n_joins AS DOUBLE)
         / CAST((SELECT sum(n_joins) FROM jc_c) AS DOUBLE) AS share
FROM jc_c
ORDER BY class_a, class_b"""
