"""Point-in-polygon spatial join (B7) — cell-pruned, UDF-free.

The join is *encoded in the data*: polygons are expanded to the grid cells
their bbox covers (native ``sequence``/``transform`` — no UDF), points carry
their cell, and the planner sees a plain equi-join on ``cell`` against the
broadcast cover. The exact test is an unrolled ray cast over broadcast
vertex chunks — native Catalyst expressions, whole-stage codegen'd.

This generalizes the reference's broadcast build-side pattern
(/root/reference/binary_entity_map.go:17-90: hash-bucketed sorted array
probed per entity) to 2-D: the cell index plays the bucket hash, the
ray-cast the exact probe.

Caveats (documented contract): polygons are rings in lon/lat plane
(planar test, fine for building/city-block scale), no antimeridian-crossing
bboxes, holes = separate inner rings handled by even-odd at caller level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.caching import attach_cached
from ..functions.cells import cell_expr, cell_from_xy, cell_x, cell_y

# Adaptive cover: a polygon's bbox cover may coarsen up to COVER_LEVELS
# levels below the pruning res and holds at most COVER_MAX_CELLS cells
# (a continent-sized polygon would otherwise explode to millions of
# cells at res 11), so the cover count is bounded per polygon.
COVER_LEVELS = 8
COVER_MAX_CELLS = 64


def polygons_from_ways(assembled_ways: DataFrame) -> DataFrame:
    """Closed assembled ways -> polygon table
    ``(polygon_id, tags, lats array<double>, lons array<double>)``.
    A way is a ring when first ref == last ref and it has >= 4 points
    (OSM area convention)."""
    w = assembled_ways.filter(
        (F.size("nodes") >= 4)
        & (F.element_at("nodes", 1)["id"] == F.element_at("nodes", -1)["id"])
    )
    return w.select(
        F.col("id").alias("polygon_id"),
        "tags",
        F.transform("nodes", lambda n: n["lat"]).alias("lats"),
        F.transform("nodes", lambda n: n["lon"]).alias("lons"),
    )


def _cell_ranges(r: int, min_lat, max_lat, min_lon, max_lon):
    """``(x0, x1, y0, y1)``: the res-``r`` cell ranges a bbox covers
    (y grows downward, north -> south, so ``max_lat`` gives ``y0``)."""
    return cell_x(min_lon, r), cell_x(max_lon, r), cell_y(max_lat, r), cell_y(min_lat, r)


def cover_res(res: int) -> Column:
    """The cover resolution of each ``lats``/``lons`` ring: the finest res
    in ``[res - COVER_LEVELS, res]`` whose bbox cover is at most
    ``COVER_MAX_CELLS`` cells; the coarsest is the fallback."""
    bbox = (F.array_min("lats"), F.array_max("lats"), F.array_min("lons"), F.array_max("lons"))
    res_min = max(0, res - COVER_LEVELS)
    chosen = F.lit(res_min)
    for r in range(res_min + 1, res + 1):
        x0, x1, y0, y1 = _cell_ranges(r, *bbox)
        n_cells = (x1 - x0 + 1) * (y1 - y0 + 1)
        chosen = F.when(n_cells <= F.lit(COVER_MAX_CELLS), F.lit(r)).otherwise(chosen)
    return chosen


def polygon_cover_cells(polygons: DataFrame, levels: list[int]) -> DataFrame:
    """Explode each polygon to the cells its bbox covers at its
    ``cover_res`` column (see :func:`cover_res`) — pure native expressions
    (sequence over the x/y cell ranges). ``levels`` is the set of
    resolutions that column holds, so the when-chain has one branch per
    level in use. Cell ids are self-describing (res embedded in the flag
    bit), so a mixed-resolution cover table still joins on one ``cell``
    column."""
    p = polygons.withColumns({
        "min_lat": F.array_min("lats"), "max_lat": F.array_max("lats"),
        "min_lon": F.array_min("lons"), "max_lon": F.array_max("lons"),
    })

    def cells_at(r: int):
        x0, x1, y0, y1 = _cell_ranges(r, "min_lat", "max_lat", "min_lon", "max_lon")
        return F.flatten(
            F.transform(
                F.sequence(x0, x1),
                lambda x: F.transform(
                    F.sequence(y0, y1), lambda y: cell_from_xy(x, y, r)
                ),
            )
        )

    cells = cells_at(levels[0])
    for r in levels[1:]:
        cells = F.when(F.col("cover_res") == r, cells_at(r)).otherwise(cells)

    return p.select("polygon_id", "lats", "lons", F.explode(cells).alias("cell"))


def ray_cast_inside(
    plat: Column, plon: Column, lats: Column, lons: Column
) -> Column:
    """Even-odd ray cast (PNPOLY) folded over the closed ring — native
    ``aggregate`` over edge indices, no Python anywhere."""
    n_edges = F.size(lats) - F.lit(2)  # ring is closed: last == first
    crossings = F.aggregate(
        F.sequence(F.lit(0), n_edges),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (
                (F.element_at(lats, i + 1) > plat)
                != (F.element_at(lats, i + 2) > plat)
            )
            & (
                plon
                < (F.element_at(lons, i + 2) - F.element_at(lons, i + 1))
                * (plat - F.element_at(lats, i + 1))
                / (F.element_at(lats, i + 2) - F.element_at(lats, i + 1))
                + F.element_at(lons, i + 1)
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.pmod(crossings, F.lit(2)) == F.lit(1)


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 13,
    lat: str = "lat",
    lon: str = "lon",
    engine: str = "edges",
) -> DataFrame:
    """Spatial join: every (point, polygon) pair where the point lies inside.

    ``res`` is the *pruning* resolution — candidates share a bbox-cover
    cell; pick it near the typical polygon size (too coarse and a dense
    cell cross-products points x polygons). An exact bbox test (scalar,
    whole-stage-codegen) runs before the ray cast and kills most
    non-hits cheaply.

    The polygon side is two broadcast DataFrame plans: the adaptive cover
    and fixed-width vertex chunks. The exact test is a codegen crossing
    indicator summed where the broadcast equi-join produced each
    candidate, plus a parity hash-aggregate (map-side combined) for rings
    longer than one chunk. Zero Python, zero Arrow, no driver
    ``collect()``: the polygon side is bounded by Spark's broadcast limits
    (the 8 GiB broadcast cap). Rows are asserted equal to a brute-force
    numpy oracle in tests.

    ``engine`` names this one engine, ``"edges"``; any other value raises
    ``ValueError``.

    Returns point columns + ``polygon_id``.
    """
    if engine != "edges":
        raise ValueError(f"unknown engine {engine!r}")
    # Re-alias every point column to a fresh attribute (`__pt_*`) before the
    # join. Points and polygons often share lineage (both derive from the
    # same extraction pass), so without this the two join inputs carry
    # *identical attribute ids*; Catalyst then treats the points-side bbox
    # predicate as polygon-side-only and pushes it below the cover project,
    # where binding fails (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) — or worse,
    # silently filters the wrong side. Fresh aliases give the predicate
    # exprIds that exist only on the points side.
    point_cols = points.columns
    ptsr = points.select(*[F.col(c).alias(f"__pt_{c}") for c in point_cols])
    plat, plon = F.col(f"__pt_{lat}"), F.col(f"__pt_{lon}")

    spark = points.sparkSession
    n_shuffle = int(
        spark.conf.get(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    )
    # slim projection cached: the stats action below and the main job
    # would otherwise both recompute the upstream assembly subtree.
    # O(#polygons) rows — the same order as the broadcast itself.
    polys_slim = polygons.select(
        "polygon_id", "lats", "lons", cover_res(res).alias("cover_res")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    stats = polys_slim.agg(
        F.collect_set("cover_res").alias("levels"),
        F.max(F.size("lats")).alias("max_nv"),
    ).first()
    used_res = sorted(stats["levels"] or [max(0, res - COVER_LEVELS)])
    max_ne = max(int(stats["max_nv"] or 2) - 1, 1)
    cap = min(24, max_ne)
    n_chunks_max = -(-max_ne // cap)  # ceil: chunks of the largest ring

    cover = F.broadcast(
        polygon_cover_cells(polys_slim, used_res).select(
            "polygon_id",
            "cell",
            F.array_min("lats").alias("__pg_min_lat"),
            F.array_max("lats").alias("__pg_max_lat"),
            F.array_min("lons").alias("__pg_min_lon"),
            F.array_max("lons").alias("__pg_max_lon"),
        )
    )

    # fixed-width padded vertex chunks, built relationally: explode one
    # row per cap-edge chunk, slice the ring arrays, zero-pad to cap+1
    ne = F.size("lats") - 1
    n_ch = F.greatest(F.ceil(ne / F.lit(cap)).cast("int"), F.lit(1))
    chunked = polys_slim.select(
        "polygon_id",
        "lats",
        "lons",
        ne.alias("__ne"),
        F.explode(F.sequence(F.lit(0), n_ch - 1)).alias("__ci"),
    )
    start = F.col("__ci") * F.lit(cap)

    def _seg(arr: str):
        s = F.slice(F.col(arr), start + 1, cap + 1)
        return F.concat(
            s, F.array_repeat(F.lit(0.0), F.lit(cap + 1) - F.size(s))
        )

    verts_df = F.broadcast(
        chunked.select(
            "polygon_id",
            F.col("__ci").alias("__vx_ci"),
            F.least(F.col("__ne") - start, F.lit(cap)).cast("int").alias("__vx_ne"),
            _seg("lats").alias("__vx_lats"),
            _seg("lons").alias("__vx_lons"),
        )
    )

    # Round-robin the points BEFORE the explode+join: point tables arrive
    # spatially clustered (city-sorted snapshots), and the broadcast join
    # is shuffle-free, so one dense-city partition would flow straight
    # into the exact-test stage as a single straggler task (B10 — skew
    # handled before it exists). SKIPPED when the scan already arrives in
    # >= half the session's shuffle partitions: the probe stage is
    # map-side-only, so numerous size-bounded input splits parallelize
    # alike and the exchange (a full extra pass + local sort over every
    # point row — measured ~3-4s of the bench PIP leg) buys nothing.
    if ptsr.rdd.getNumPartitions() >= max(n_shuffle // 2, 2):
        ptsr_rr = ptsr
    else:
        ptsr_rr = ptsr.repartition(n_shuffle)
    # the cover is multi-resolution, so each point carries its cell at
    # every level the cover uses; ids are disjoint per res, so one
    # exploded column joins them all — explode factor = #levels
    pts = ptsr_rr.withColumn(
        "cell",
        F.explode(
            F.array(*[cell_expr(f"__pt_{lat}", f"__pt_{lon}", r) for r in used_res])
        ),
    )
    cand = pts.join(cover, "cell", "inner").filter(
        (plat >= F.col("__pg_min_lat"))
        & (plat <= F.col("__pg_max_lat"))
        & (plon >= F.col("__pg_min_lon"))
        & (plon <= F.col("__pg_max_lon"))
    )

    # unrolled whole-stage-codegen PNPOLY fold — arithmetic matches
    # ray_cast_inside bit-for-bit (see the r1 notes: ~1.5KB bytecode per
    # edge term, 24 terms JIT-compilable with -XX:-DontCompileHugeMethods
    # from session.py)
    la_c, lo_c = F.col("__vx_lats"), F.col("__vx_lons")
    terms = []
    for e in range(cap):
        y1 = F.element_at(la_c, e + 1)
        y2 = F.element_at(la_c, e + 2)
        x1 = F.element_at(lo_c, e + 1)
        x2 = F.element_at(lo_c, e + 2)
        terms.append(
            F.when(
                (F.lit(e) < F.col("__vx_ne"))
                & ((y1 > plat) != (y2 > plat))
                & (plon < (x2 - x1) * (plat - y1) / (y2 - y1) + x1),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
    crossings = terms[0]
    for t in terms[1:]:
        crossings = crossings + t

    cand_slim = cand.select(*[f"__pt_{c}" for c in point_cols], "polygon_id")
    if n_chunks_max == 1:
        joined = cand_slim.join(verts_df, "polygon_id")
        hit = joined.filter(F.pmod(crossings, F.lit(2)) == 1)
        return attach_cached(
            hit.select(
                *[F.col(f"__pt_{c}").alias(c) for c in point_cols], "polygon_id"
            ),
            [polys_slim],
        )
    # chunked rings: aggregate the parity on a key derived purely from
    # the DATA, not from physical placement (a row id assigned after the
    # round-robin shuffle could change when an indeterminate stage is
    # recomputed, corrupting parity on retry). The JSON
    # rendering of the point row handles non-groupable map columns;
    # byte-identical duplicate point rows DO merge under this key, so
    # carry their multiplicity d explicitly: the group holds
    # d x nch rows (crossings summed d times) — divide d back out for
    # the parity test and re-emit d copies on a hit.
    pjson = F.to_json(F.struct(*[F.col(f"__pt_{c}") for c in point_cols]))
    cand_keyed = cand_slim.withColumn("__pjson", pjson)
    joined = cand_keyed.join(verts_df, "polygon_id")
    per_pair = joined.groupBy("__pjson", "polygon_id").agg(
        *[F.first(f"__pt_{c}").alias(f"__pt_{c}") for c in point_cols],
        F.sum(crossings).alias("__cs"),
        F.count(F.lit(1)).alias("__cnt"),
        F.countDistinct("__vx_ci").alias("__nch"),
    )
    dup = (F.col("__cnt") / F.col("__nch")).cast("long")
    total = (F.col("__cs") / dup).cast("long")
    hits = per_pair.filter(F.pmod(total, F.lit(2)) == 1)
    return attach_cached(
        hits.select(
            *[F.col(f"__pt_{c}").alias(c) for c in point_cols],
            "polygon_id",
            F.explode(F.sequence(F.lit(1), dup)).alias("__dup"),
        ).drop("__dup"),
        [polys_slim],
    )
