"""Tiling / PIP / kNN correctness vs brute-force numpy oracles."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from gosmonaut_spark.functions.cells import cell_np
from gosmonaut_spark.operators.knn import knn_brute, knn_join, knn_join_adaptive
from gosmonaut_spark.operators.pip import (
    COVER_MAX_CELLS,
    cover_res,
    point_in_polygon_join,
    polygon_cover_cells,
    polygons_from_ways,
)
from gosmonaut_spark.operators.tiling import (
    points_to_tiles,
    rollup_tiles,
    salted_points_to_tiles,
    tile_pyramid,
)
from gosmonaut_spark.operators.assembly import SKIP_MISSING
from gosmonaut_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def world(spark, pages_t1):
    """nodes DF + assembled ways DF + local numpy copies."""
    res = run_pipeline(pages_t1, {"node", "way"}, None, mode=SKIP_MISSING)
    nodes = res.nodes.select("id", "lat", "lon").cache()
    ways = res.ways.cache()
    pts = nodes.collect()
    ids = np.array([r.id for r in pts])
    lats = np.array([r.lat for r in pts])
    lons = np.array([r.lon for r in pts])
    return {"nodes": nodes, "ways": ways, "ids": ids, "lats": lats, "lons": lons}


def test_tiles_match_numpy(spark, world):
    for res in (5, 8, 12):
        tiles = {
            r.cell: r.n_points
            for r in points_to_tiles(world["nodes"], res).collect()
        }
        cells = cell_np(world["lats"], world["lons"], res)
        uniq, counts = np.unique(cells, return_counts=True)
        expected = dict(zip(uniq.tolist(), counts.tolist()))
        assert tiles == expected


def test_salted_equals_plain(spark, world):
    res = 6
    plain = {
        r.cell: r.n_points for r in points_to_tiles(world["nodes"], res).collect()
    }
    salted = {
        r.cell: r.n_points
        for r in salted_points_to_tiles(world["nodes"], res, n_salts=8).collect()
    }
    assert plain == salted


def test_pyramid_rollup_sums(spark, world):
    pyr = tile_pyramid(world["nodes"], 5, 9).collect()
    by_res = {}
    for r in pyr:
        by_res.setdefault(r.res, {})[r.cell] = r.n_points
    total = world["ids"].size
    for res in range(5, 10):
        assert sum(by_res[res].values()) == total, f"res {res} loses points"
        # each layer must equal direct aggregation at that res
        cells = cell_np(world["lats"], world["lons"], res)
        uniq, counts = np.unique(cells, return_counts=True)
        assert by_res[res] == dict(zip(uniq.tolist(), counts.tolist()))


def test_tile_pyramid_plan_is_two_aggregations(spark):
    """The pyramid is one aggregation of the points and one over the
    expanded tiles: no cache, no union, two shuffles, at most three Spark
    jobs for a collect, and the same output schema."""
    import time

    pts = spark.range(3000).select(
        ((F.col("id") % 171) - 85.0 + 0.25).alias("lat"),
        ((F.col("id") % 359) - 179.0 + 0.25).alias("lon"),
    )
    out = tile_pyramid(pts, 5, 12)
    assert out.schema.simpleString() == "struct<res:int,cell:bigint,n_points:bigint>"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    assert "Union" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("tile-pyramid", "collect")
        out.collect()
        # a marker job: the listener bus delivers job starts in submission
        # order, so once the marker shows, every pyramid job shows too
        sc.setJobGroup("tile-pyramid-marker", "marker")
        sc.parallelize([0], 1).count()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("tile-pyramid-marker"):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    assert len(tracker.getJobIdsForGroup("tile-pyramid")) <= 3


def _numpy_raycast(plat, plon, lats, lons):
    """Independent PNPOLY oracle (vectorized over points, loop over edges)."""
    inside = np.zeros(plat.shape, dtype=bool)
    for i in range(len(lats) - 1):
        y1, y2 = lats[i], lats[i + 1]
        x1, x2 = lons[i], lons[i + 1]
        cond = (y1 > plat) != (y2 > plat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (x2 - x1) * (plat - y1) / (y2 - y1) + x1
        inside ^= cond & (plon < xcross)
    return inside


def test_pip_matches_bruteforce(spark, world):
    polys = polygons_from_ways(world["ways"])
    got = {
        (r.id, r.polygon_id)
        for r in point_in_polygon_join(
            world["nodes"], polys, res=11
        ).select("id", "polygon_id").collect()
    }
    expected = set()
    for p in polys.collect():
        lats = np.array(p.lats)
        lons = np.array(p.lons)
        mask = _numpy_raycast(world["lats"], world["lons"], lats, lons)
        for nid in world["ids"][mask]:
            expected.add((int(nid), p.polygon_id))
    assert got == expected
    assert len(expected) > 0, "fixture produced no PIP hits — weak test"


def test_pip_edges_chunked_large_ring(spark):
    """Rings longer than the unroll cap (24 edges) take the chunked
    broadcast rows + parity re-agg path — must equal the numpy oracle."""
    import math

    k = 57  # 57 edges -> 3 chunks of <= 24
    ang = [2 * math.pi * i / k for i in range(k)]
    lats = [10.0 + math.sin(a) for a in ang] + [10.0 + math.sin(ang[0])]
    lons = [20.0 + math.cos(a) for a in ang] + [20.0 + math.cos(ang[0])]
    polys = spark.createDataFrame(
        [(1, lats, lons)], "polygon_id long, lats array<double>, lons array<double>"
    )
    pts = [
        (i * 100 + j, 8.0 + i * 0.2, 18.0 + j * 0.2)
        for i in range(21)
        for j in range(21)
    ]
    points = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {
        (r.id, r.polygon_id)
        for r in point_in_polygon_join(points, polys, res=8).collect()
    }
    la, lo = np.array(lats), np.array(lons)
    plat = np.array([p[1] for p in pts])
    plon = np.array([p[2] for p in pts])
    mask = _numpy_raycast(plat, plon, la, lo)
    expected = {(pts[i][0], 1) for i in range(len(pts)) if mask[i]}
    assert got == expected
    assert len(expected) > 50, "grid should land many points inside the circle"


def test_pip_edges_chunked_map_cols_and_duplicates(spark):
    """The chunked parity re-agg must (a) accept non-groupable point
    columns (map tags, as the default pipeline's nodes carry) and
    (b) preserve fully duplicate point rows — grouping on the point
    columns themselves merged duplicates, so two identical inside-points
    summed to even parity and BOTH vanished."""
    import math

    k = 30  # > cap=24 -> 2 chunks, forces the re-agg path
    ang = [2 * math.pi * i / k for i in range(k)]
    lats = [10.0 + math.sin(a) for a in ang] + [10.0 + math.sin(ang[0])]
    lons = [20.0 + math.cos(a) for a in ang] + [20.0 + math.cos(ang[0])]
    polys = spark.createDataFrame(
        [(1, lats, lons)], "polygon_id long, lats array<double>, lons array<double>"
    )
    pts = [
        (7, 10.0, 20.0, {"amenity": "cafe"}),  # inside, duplicated
        (7, 10.0, 20.0, {"amenity": "cafe"}),
        (9, 10.1, 20.1, {}),  # inside once
        (11, 15.0, 25.0, {"x": "y"}),  # outside
    ]
    points = spark.createDataFrame(
        pts, "id long, lat double, lon double, tags map<string,string>"
    )
    out = point_in_polygon_join(points, polys, res=8).collect()
    assert sorted(r.id for r in out) == [7, 7, 9]
    assert all(r.polygon_id == 1 for r in out)
    tags_of_7 = [r.tags for r in out if r.id == 7]
    assert tags_of_7 == [{"amenity": "cafe"}, {"amenity": "cafe"}]


def test_pip_unknown_engine_raises(spark):
    """Only "edges" exists: a stale engine name fails loudly instead of
    silently running the default."""
    polys = spark.createDataFrame(
        [(1, [0.0, 0.0, 1.0, 0.0], [0.0, 1.0, 0.0, 0.0])],
        "polygon_id long, lats array<double>, lons array<double>",
    )
    points = spark.createDataFrame([(1, 0.2, 0.2)], "id long, lat double, lon double")
    with pytest.raises(ValueError, match="unknown engine"):
        point_in_polygon_join(points, polys, res=8, engine="native")


def test_pip_mixed_resolution_cover(spark):
    """A ~20 degree rectangle takes a coarser cover res than the small
    rings beside it: the cover mixes resolutions, each polygon's cover
    stays within COVER_MAX_CELLS, and the join equals the numpy oracle."""
    rings = {  # polygon_id: (lats, lons), closed
        1: ([2.0, 2.0, 22.0, 22.0, 2.0], [2.0, 22.0, 22.0, 2.0, 2.0]),
        2: ([5.0, 5.5, 6.0, 5.0], [5.0, 6.0, 5.0, 5.0]),  # inside 1
        3: ([23.0, 23.0, 24.0, 24.0, 23.0], [23.0, 24.0, 24.0, 23.0, 23.0]),
    }
    polys = spark.createDataFrame(
        [(pid, la, lo) for pid, (la, lo) in rings.items()],
        "polygon_id long, lats array<double>, lons array<double>",
    )
    slim = polys.withColumn("cover_res", cover_res(8))
    levels = sorted({r.cover_res for r in slim.select("cover_res").collect()})
    assert len(levels) >= 2
    sizes = polygon_cover_cells(slim, levels).groupBy("polygon_id").count().collect()
    assert sorted(r.polygon_id for r in sizes) == [1, 2, 3]
    assert all(r["count"] <= COVER_MAX_CELLS for r in sizes)

    pts = [
        (i * 1000 + j, 0.51 + i * 0.25, 0.51 + j * 0.25)
        for i in range(100)
        for j in range(100)
    ]
    points = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {
        (r.id, r.polygon_id)
        for r in point_in_polygon_join(points, polys, res=8).collect()
    }
    plat = np.array([p[1] for p in pts])
    plon = np.array([p[2] for p in pts])
    expected = set()
    for pid, (la, lo) in rings.items():
        mask = _numpy_raycast(plat, plon, np.array(la), np.array(lo))
        expected |= {(pts[i][0], pid) for i in np.flatnonzero(mask)}
    assert got == expected
    assert {pid for _i, pid in expected} == {1, 2, 3}


def _knn_sides(world):
    """Every 37th node queries all nodes."""
    nodes = world["nodes"]
    queries = nodes.filter(F.col("id") % 37 == 0).select(
        F.col("id").alias("query_id"), "lat", "lon"
    )
    targets = nodes.select(F.col("id").alias("target_id"), "lat", "lon")
    return queries, targets


@pytest.fixture(scope="module")
def brute5(world):
    """Brute-force k=5 neighbours of :func:`_knn_sides`, collected once:
    the cross join behind it is the costliest step of every kNN test."""
    return knn_brute(*_knn_sides(world), 5).collect()


def test_knn_ring_matches_brute(spark, world, brute5):
    queries, targets = _knn_sides(world)
    k = 5
    approx = knn_join(queries, targets, k, res=7, ring=1).collect()
    exact = brute5

    def key(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append((r.target_id, round(r.dist_m, 6)))
        return {q: sorted(v) for q, v in out.items()}

    assert key(approx) == key(exact)


def test_knn_ring_covers_grid_equals_brute(spark, world, brute5):
    """When 2k+1 >= 2^res the ring wraps every grid column, so no target
    may repeat for a query (the x-wrap must not visit a grid column
    twice); on this fixture's extent the rows then equal brute force. At
    (res 1, ring 1) the ring also reaches every row (k >= 2^res - 1), so
    ``knn_join`` is brute force's cross join: no ring explode in its plan."""
    queries, targets = _knn_sides(world)
    k = 5

    def rows(collected):
        return sorted((r.query_id, r.target_id, round(r.dist_m, 6)) for r in collected)

    exact = rows(brute5)
    for res, ring in ((1, 1), (2, 2)):
        df = knn_join(queries, targets, k, res=res, ring=ring)
        got = rows(df.collect())
        assert len({(q, t) for q, t, _ in got}) == len(got), (res, ring)
        assert got == exact, (res, ring)
        if (res, ring) == (1, 1):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Generate" not in plan, plan


def test_knn_ring_plan_is_codegen(spark, world):
    """Both knn_join shapes run their ring explode inside whole-stage
    codegen: every Generate in the executed (final adaptive) plan carries
    a codegen stage id, and no lambda function (an interpreted
    higher-order array function) appears anywhere in the plan. The
    symmetric shape runs with broadcast joins off, so it really is a
    shuffle join at test scale."""
    queries, targets = _knn_sides(world)
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for broadcast in (True, False):
            if not broadcast:
                for k in keys:
                    spark.conf.set(k, "-1")
            df = knn_join(queries, targets, 5, res=7, ring=1, broadcast_queries=broadcast)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "lambdafunction" not in plan.lower(), plan
            final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
            assert ("BroadcastHashJoin" in final) == broadcast, final
            generates = [ln for ln in final.splitlines() if "Generate " in ln]
            assert generates, final
            for ln in generates:
                assert re.search(r"\*\(\d+\) Generate ", ln), ln
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_knn_adaptive_is_exact(spark, world, brute5):
    """Ring escalation + coverage certificate + brute tail == brute force,
    even when the starting ring is far too small for the data density."""
    queries, targets = _knn_sides(world)
    k = 5

    def key(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append((r.target_id, round(r.dist_m, 6)))
        return {q: sorted(v) for q, v in out.items()}

    exact = key(brute5)
    # res 15 (finest, ~600 m cells): almost every query starts
    # under-covered -> exercises coarsening rounds and the brute tail
    adaptive_fine = key(
        knn_join_adaptive(queries, targets, k, res=15, ring=1, min_res=13).collect()
    )
    assert adaptive_fine == exact
    # res 6: certification-heavy path (most queries certify in round 1)
    adaptive_coarse = key(
        knn_join_adaptive(queries, targets, k, res=6, ring=1, min_res=3).collect()
    )
    assert adaptive_coarse == exact


def test_knn_adaptive_exact_at_coarse_rings(spark):
    """A ring that wraps every column (2*ring+1 >= 2^res) still excludes
    rows, so it must not certify a neighbor beyond its latitude reach.
    The query at 46N reaches rows down to 45S only: target 10 (44.9S,
    180E) is in the ring and ~19,900 km away, target 20 (45.1S, 0E) is
    outside it and ~10,100 km away. The answer must be brute force's."""
    queries = spark.createDataFrame([(1, 46.0, 0.0)], "query_id long, lat double, lon double")
    targets = spark.createDataFrame(
        [(10, -44.9, 180.0), (20, -45.1, 0.0)], "target_id long, lat double, lon double"
    )

    def rows(df):
        return sorted((r.query_id, r.target_id, round(r.dist_m, 6)) for r in df.collect())

    exact = rows(knn_brute(queries, targets, 1))
    assert [t for _q, t, _d in exact] == [20]
    for res, ring in ((2, 2), (3, 4)):
        got = rows(knn_join_adaptive(queries, targets, 1, res=res, ring=ring, min_res=res))
        assert got == exact, (res, ring)


def test_knn_adaptive_caller_id_names(spark):
    """``query_id``/``target_id`` name the caller's columns: the ring round
    (queries 1 and 2 certify) and the brute tail (query 3 has no target in
    its ring) return the default-name rows under the caller's names."""
    q = [(1, 46.0, 0.0), (2, 10.0, 10.0), (3, -80.0, -170.0)]
    t = [(10, 46.001, 0.0), (20, 10.0, 10.001), (30, 0.0, 0.0)]
    qs = spark.createDataFrame(q, "query_id long, lat double, lon double")
    ts = spark.createDataFrame(t, "target_id long, lat double, lon double")
    want = knn_join_adaptive(qs, ts, 1, res=6, ring=1, min_res=6)
    got = knn_join_adaptive(
        qs.withColumnRenamed("query_id", "qid"),
        ts.withColumnRenamed("target_id", "tid"),
        1,
        res=6,
        ring=1,
        min_res=6,
        query_id="qid",
        target_id="tid",
    )
    assert got.columns == ["qid", "tid", "dist_m"]
    rows = sorted((r.query_id, r.target_id, r.dist_m) for r in want.collect())
    assert [(q, t) for q, t, _d in rows] == [(1, 10), (2, 20), (3, 30)]
    assert sorted((r.qid, r.tid, r.dist_m) for r in got.collect()) == rows


# ---------------------------------------------------------------------------
# distance-band (radius) join
# ---------------------------------------------------------------------------


def _brute_radius_pairs(ids, lats, lons, q_mask, radius_m):
    R = 6_371_008.8
    la = np.radians(lats)
    lo = np.radians(lons)
    out = set()
    for qi in np.nonzero(q_mask)[0]:
        dlat = la - la[qi]
        dlon = lo - lo[qi]
        a = np.sin(dlat / 2) ** 2 + np.cos(la[qi]) * np.cos(la) * np.sin(dlon / 2) ** 2
        d = 2 * R * np.arcsin(np.sqrt(np.clip(a, 0, 1)))
        for ti in np.nonzero(d <= radius_m)[0]:
            if ids[ti] != ids[qi]:
                out.add((int(ids[qi]), int(ids[ti])))
    return out


def test_radius_join_matches_bruteforce(spark):
    from gosmonaut_spark.operators.knn import radius_join

    # adversarial placement: antimeridian straddles, near-pole clusters,
    # equator band — the wrap + per-row-fanout paths all get coverage
    rng = np.random.default_rng(7)
    lats = np.concatenate(
        [
            rng.uniform(-20, 20, 60),
            rng.uniform(82, 89.9, 25),          # polar: lon fanout saturates
            rng.uniform(-89.9, -82, 25),
            rng.uniform(-60, 60, 40),
        ]
    )
    lons = np.concatenate(
        [
            rng.uniform(179.0, 180.0, 30),      # antimeridian east lip
            rng.uniform(-180.0, -179.0, 30),    # antimeridian west lip
            rng.uniform(-180, 180, 90),
        ]
    )
    ids = np.arange(len(lats))
    df = spark.createDataFrame(
        [(int(i), float(la), float(lo)) for i, la, lo in zip(ids, lats, lons)],
        "id long, lat double, lon double",
    )
    q_mask = ids % 3 == 0
    for radius_m, res in ((150_000.0, 6), (600_000.0, 5), (600_000.0, 8)):
        qs = df.filter(F.col("id") % 3 == 0).select(
            F.col("id").alias("query_id"), "lat", "lon"
        )
        ts = df.select(F.col("id").alias("target_id"), "lat", "lon")
        got = {
            (r.query_id, r.target_id)
            for r in radius_join(qs, ts, radius_m=radius_m, res=res).collect()
        }
        want = _brute_radius_pairs(ids, lats, lons, q_mask, radius_m)
        assert got == want, (
            f"radius={radius_m} res={res}: "
            f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
        )


def test_radius_join_no_duplicate_pairs(spark):
    """Full-wrap polar fanout must not emit a candidate cell twice."""
    from gosmonaut_spark.operators.knn import radius_join

    rows = [(i, 89.5, float(lon)) for i, lon in enumerate(range(-180, 180, 30))]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    qs = df.select(F.col("id").alias("query_id"), "lat", "lon")
    ts = df.select(F.col("id").alias("target_id"), "lat", "lon")
    out = radius_join(qs, ts, radius_m=500_000.0, res=4)
    pairs = [(r.query_id, r.target_id) for r in out.collect()]
    assert len(pairs) == len(set(pairs)), "duplicate (query, target) pairs"


def test_grid_cluster_matches_union_find(spark):
    """eps-connectivity clustering == union-find over brute-force eps pairs."""
    from gosmonaut_spark.operators.cluster import grid_cluster

    rng = np.random.default_rng(11)
    # three deliberate tight clumps + global noise + a polar clump
    lats = np.concatenate(
        [
            rng.uniform(10.0, 10.5, 15),
            rng.uniform(-33.2, -32.8, 12),
            rng.uniform(48.0, 48.4, 10),
            rng.uniform(87.5, 89.5, 8),        # polar wrap path
            rng.uniform(-80, 80, 55),          # mostly-isolated noise
        ]
    )
    lons = np.concatenate(
        [
            rng.uniform(20.0, 20.5, 15),
            rng.uniform(151.0, 151.4, 12),
            rng.uniform(179.6, 180.0, 5),      # antimeridian straddle
            rng.uniform(-180.0, -179.6, 5),
            rng.uniform(-30, 30, 8),
            rng.uniform(-180, 180, 55),
        ]
    )
    ids = np.arange(len(lats))
    eps_m = 150_000.0

    pairs = _brute_radius_pairs(ids, lats, lons, np.ones(len(ids), bool), eps_m)
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        parent[find(u)] = find(v)
    roots = {}
    for i in parent:
        roots.setdefault(find(i), []).append(i)
    want = {i: min(mem) for mem in roots.values() for i in mem}

    df = spark.createDataFrame(
        [(int(i), float(la), float(lo)) for i, la, lo in zip(ids, lats, lons)],
        "id long, lat double, lon double",
    )
    got = {r.id: r.cluster_id for r in grid_cluster(df, eps_m=eps_m, res=6).collect()}
    assert got == want


def _py_geohash(lat: float, lon: float, precision: int) -> str:
    """Pure-Python oracle with the same floor law as the module."""
    import math

    total = 5 * precision
    lonbits = (total + 1) // 2
    latbits = total // 2

    def idx(coord, lo, span, bits):
        n = 1 << bits
        return min(max(int(math.floor((coord - lo) / span * float(n))), 0), n - 1)

    li, la = idx(lon, -180.0, 360.0, lonbits), idx(lat, -90.0, 180.0, latbits)
    bits = []
    for i in range(total):  # MSB-first, lon first
        if i % 2 == 0:
            lonbits -= 1
            bits.append((li >> lonbits) & 1)
        else:
            latbits -= 1
            bits.append((la >> latbits) & 1)
    from gosmonaut_spark.functions.geohash import GEOHASH_BASE32

    out = []
    for j in range(precision):
        v = 0
        for b in bits[5 * j : 5 * j + 5]:
            v = v * 2 + b
        out.append(GEOHASH_BASE32[v])
    return "".join(out)


def test_geohash_known_values_and_python_parity(spark):
    from gosmonaut_spark.functions.geohash import geohash_encode

    # the canonical example (Wikipedia): Ranum, Denmark
    known = [(57.64911, 10.40744, 11, "u4pruydqqvj"),
             (39.92324, 116.3906, 9, "wx4g0ec19"),
             (0.0, 0.0, 5, "s0000")]
    rng = np.random.default_rng(3)
    rand = [
        (float(la), float(lo), int(p), None)
        for la, lo, p in zip(
            rng.uniform(-90, 90, 40),
            rng.uniform(-180, 180, 40),
            rng.integers(1, 13, 40),
        )
    ]
    # boundary coords exercise the clamp
    edges = [(90.0, 180.0, 7, None), (-90.0, -180.0, 7, None)]
    rows = [(i, la, lo, p, e) for i, (la, lo, p, e) in
            enumerate(known + rand + edges)]
    df = spark.createDataFrame(
        rows, "id long, lat double, lon double, p int, expect string"
    )
    for prec in sorted({r[3] for r in rows}):
        sub = df.where(F.col("p") == prec)
        got = {
            r.id: r.gh
            for r in sub.select(
                "id", geohash_encode("lat", "lon", prec).alias("gh")
            ).collect()
        }
        for i, la, lo, p, expect in rows:
            if p != prec:
                continue
            assert got[i] == _py_geohash(la, lo, p), (i, la, lo, p)
            if expect is not None:
                assert got[i] == expect, (got[i], expect)


def test_geohash_prefix_is_parent(spark):
    """Z-order locality: the precision-(p-1) hash is a string prefix of
    the precision-p hash — the property that makes geohash a layout key."""
    from gosmonaut_spark.functions.geohash import geohash_encode

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [(float(la), float(lo)) for la, lo in
         zip(rng.uniform(-90, 90, 60), rng.uniform(-180, 180, 60))],
        "lat double, lon double",
    )
    out = df.select(
        geohash_encode("lat", "lon", 8).alias("g8"),
        geohash_encode("lat", "lon", 5).alias("g5"),
    ).collect()
    assert all(r.g8.startswith(r.g5) for r in out)


def test_polyline_length_matches_numpy(spark):
    from gosmonaut_spark.functions.geo import polyline_length_m

    R = 6_371_008.8

    def hav(la1, lo1, la2, lo2):
        la1, lo1, la2, lo2 = map(np.radians, (la1, lo1, la2, lo2))
        a = np.sin((la2 - la1) / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(
            (lo2 - lo1) / 2
        ) ** 2
        return 2 * R * np.arcsin(np.sqrt(a))

    rng = np.random.default_rng(9)
    rows = []
    want = {}
    for wid in range(12):
        n = int(rng.integers(1, 8))  # includes degenerate 1-vertex ways
        lats = rng.uniform(-85, 85, n)
        lons = rng.uniform(-180, 180, n)
        rows.append((wid, [float(x) for x in lats], [float(x) for x in lons]))
        want[wid] = float(
            sum(hav(lats[i], lons[i], lats[i + 1], lons[i + 1]) for i in range(n - 1))
        )
    df = spark.createDataFrame(
        rows, "way_id long, lats array<double>, lons array<double>"
    )
    got = {
        r.way_id: r.L
        for r in df.select(
            "way_id", polyline_length_m("lats", "lons").alias("L")
        ).collect()
    }
    for wid, w in want.items():
        assert abs(got[wid] - w) < 1e-6 * max(1.0, w), (wid, got[wid], w)


def test_bbox_filter_exact_and_cover_superset(spark):
    """bbox_filter == plain bbox predicate on random boxes (the cover is a
    superset by construction, the refine makes it exact)."""
    from gosmonaut_spark.functions.geohash import bbox_filter, geohash_cover

    rng = np.random.default_rng(17)
    pts = [(i, float(la), float(lo)) for i, (la, lo) in enumerate(
        zip(rng.uniform(-90, 90, 400), rng.uniform(-180, 180, 400)))]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    for _ in range(4):
        la = sorted(rng.uniform(-90, 90, 2))
        lo = sorted(rng.uniform(-180, 180, 2))
        want = {i for i, plat, plon in pts
                if la[0] <= plat <= la[1] and lo[0] <= plon <= lo[1]}
        got = {r.id for r in
               bbox_filter(df, la[0], la[1], lo[0], lo[1], precision=2).collect()}
        assert got == want
    # loud guard: too many cells at high precision
    with pytest.raises(ValueError, match="max_cells"):
        geohash_cover(-80, 80, -170, 170, precision=6, max_cells=64)


def test_bbox_filter_pushes_in_list_to_parquet_scan(spark, tmp_path):
    """With a STORED geohash layout key, the cover IN-list must reach the
    parquet scan as a pushed filter (the 100 TB pruning story)."""
    from gosmonaut_spark.functions.geohash import bbox_filter, geohash_encode

    rng = np.random.default_rng(19)
    df = spark.createDataFrame(
        [(i, float(la), float(lo)) for i, (la, lo) in enumerate(
            zip(rng.uniform(-90, 90, 500), rng.uniform(-180, 180, 500)))],
        "id long, lat double, lon double",
    ).withColumn("gh", geohash_encode("lat", "lon", 3))
    path = str(tmp_path / "layout")
    df.orderBy("gh").write.parquet(path)

    stored = spark.read.parquet(path)
    out = bbox_filter(stored, 0.0, 20.0, 10.0, 40.0, precision=3, gh_col="gh")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(gh" in plan, plan[:2000]
    # and it is still exact
    want = {r.id for r in stored.collect()
            if 0.0 <= r.lat <= 20.0 and 10.0 <= r.lon <= 40.0}
    assert {r.id for r in out.collect()} == want


def test_focal_sum_matches_numpy_convolution(spark):
    """Focal sum == 3x3 kernel convolution with x-wrap / y-clamp, reported
    on occupied cells only."""
    from gosmonaut_spark.operators.tiling import focal_sum

    res, n = 4, 16
    base = 1 << (2 * res)
    rng = np.random.default_rng(23)
    # sparse occupied grid incl. both x edges (wrap) and both y edges (clamp)
    occ = {(0, 0): 3, (15, 0): 5, (0, 15): 7, (15, 15): 2, (1, 0): 11,
           (7, 7): 1, (8, 7): 4, (7, 8): 9}
    for _ in range(30):
        occ[(int(rng.integers(0, 16)), int(rng.integers(0, 16)))] = int(
            rng.integers(1, 20)
        )
    tiles = spark.createDataFrame(
        [(base + x * n + y, v) for (x, y), v in occ.items()],
        "cell long, n_points long",
    )
    got = {
        r.cell: (r.focal_sum, r.n_neighbors)
        for r in focal_sum(tiles, res=res, k=1).collect()
    }
    assert set(got) == {base + x * n + y for (x, y) in occ}
    for (x, y), _v in occ.items():
        s = cnt = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nx, ny = (x + dx) % n, y + dy
                if 0 <= ny < n and (nx, ny) in occ:
                    s += occ[(nx, ny)]
                    cnt += 1
        assert got[base + x * n + y] == (s, cnt), (x, y)


def test_idw_surface_matches_brute(spark):
    import math
    from collections import defaultdict

    from gosmonaut_spark.operators.tiling import idw_surface

    res, k, W, D = 4, 1, 1_000_000_000, 1_000_000
    n = 1 << res
    pts = [
        (10, 10.0, 20.0),
        (500, 10.5, 20.5),     # same neighborhood, different value
        (77, -45.0, -120.0),   # isolated
        (3, 89.9, 179.9),      # corner: off-grid neighbors dropped
    ]
    df = spark.createDataFrame(pts, "v long, lat double, lon double")
    out = idw_surface(df, res=res, k=k).collect()
    got = {r.cell: (r.n_samples, r.idw_value) for r in out}

    num, den, cnt = defaultdict(int), defaultdict(int), defaultdict(int)
    for v, lat, lon in pts:
        x = min(max(math.floor((lon + 180.0) / 360.0 * n), 0), n - 1)
        y = min(max(math.floor((90.0 - lat) / 180.0 * n), 0), n - 1)
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                nx, ny = x + dx, y + dy
                if not (0 <= nx < n and 0 <= ny < n):
                    continue
                clat = 90.0 - (ny + 0.5) / n * 180.0
                clon = (nx + 0.5) / n * 360.0 - 180.0
                d2 = (lat - clat) ** 2 + (lon - clon) ** 2
                wq = max(math.floor(W / (1.0 + math.floor(d2 * D))), 1)
                cell = (1 << (2 * res)) + nx * n + ny
                num[cell] += v * wq
                den[cell] += wq
                cnt[cell] += 1
    want = {c: (cnt[c], num[c] / den[c]) for c in num}
    assert set(got) == set(want)
    for c in want:
        assert got[c][0] == want[c][0]
        assert got[c][1] == want[c][1]  # exact: integer sums, one division


def _expand(cell):
    """Decompact a self-describing cell id to its res-and-xy triple."""
    r = (cell.bit_length() - 1) // 2
    n = 1 << r
    x = (cell >> r) - n
    y = cell - ((cell >> r) << r)
    return r, x, y


def _children_at(cell, target_res):
    r, x, y = _expand(cell)
    d = target_res - r
    out = []
    for dx in range(1 << d):
        for dy in range(1 << d):
            xx, yy = (x << d) + dx, (y << d) + dy
            out.append((1 << (2 * target_res)) + xx * (1 << target_res) + yy)
    return out


def test_compact_cells_roundtrip_and_minimality(spark):
    from gosmonaut_spark.operators.tiling import compact_cells

    res = 4
    n = 1 << res
    base = 1 << (2 * res)
    # a fully-covered 4x4 block (compacts two levels), a complete 2x2
    # sibling group (one level), and scattered singles
    cells = set()
    for x in range(0, 4):
        for y in range(8, 12):
            cells.add(base + x * n + y)          # 4x4 -> one res-2 cell
    for x, y in [(10, 0), (10, 1), (11, 0), (11, 1)]:
        cells.add(base + x * n + y)              # 2x2 -> one res-3 cell
    cells.add(base + 7 * n + 7)                  # singleton stays res 4
    df = spark.createDataFrame([(c,) for c in sorted(cells)], "cell long")
    out = [r.cell for r in compact_cells(df, res, 0).collect()]

    # roundtrip: decompacting the output reproduces the input exactly
    expanded = []
    for c in out:
        expanded.extend(_children_at(c, res))
    assert sorted(expanded) == sorted(cells)

    # minimality: no 4 complete siblings remain at any level
    from collections import Counter

    by_parent = Counter()
    for c in out:
        r, x, y = _expand(c)
        if r > 0:
            by_parent[(r - 1, x >> 1, y >> 1, r)] += 1
    assert all(v < 4 for v in by_parent.values())

    # shape: exactly one res-2 cell, one res-3 cell, one res-4 single
    levels = Counter(_expand(c)[0] for c in out)
    assert levels == {2: 1, 3: 1, 4: 1}


def test_compact_cells_incomplete_stays_put(spark):
    from gosmonaut_spark.operators.tiling import compact_cells

    res, n = 3, 8
    base = 1 << (2 * res)
    cells = [base + 0 * n + 0, base + 0 * n + 1, base + 1 * n + 0]  # 3 of 4
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    out = sorted(r.cell for r in compact_cells(df, res, 0).collect())
    assert out == sorted(cells)


def test_cover_contains_matches_brute(spark):
    import math

    from gosmonaut_spark.operators.tiling import compact_cells, cover_contains

    res, min_res = 4, 1
    n = 1 << res
    base = 1 << (2 * res)
    # cover: a full quadrant (compacts to coarse) + one stray fine cell
    cover_cells = {base + x * n + y for x in range(8) for y in range(8)}
    cover_cells.add(base + 12 * n + 3)
    cov = compact_cells(
        spark.createDataFrame([(c,) for c in sorted(cover_cells)], "cell long"),
        res,
        min_res,
    )
    pts = [
        (1, 80.0, -170.0),   # far NW -> inside the x<8,y<8 quadrant
        (2, -80.0, 170.0),   # far SE -> outside
        (3, 50.0, 100.0),    # depends on the exact cell law
        (4, 45.0, 102.0),
    ]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = sorted(r.id for r in cover_contains(df, cov, res, min_res).collect())

    def cell_of(lat, lon):
        x = min(max(math.floor((lon + 180.0) / 360.0 * n), 0), n - 1)
        y = min(max(math.floor((90.0 - lat) / 180.0 * n), 0), n - 1)
        return base + x * n + y

    want = sorted(i for i, lat, lon in pts if cell_of(lat, lon) in cover_cells)
    assert got == want
    assert 1 in got and 2 not in got


def test_anomaly_flags_matches_float_law(spark):
    import statistics

    from gosmonaut_spark.operators.rolling import anomaly_flags

    rows = (
        [(1, i, 100) for i in range(20)]
        + [(1, 99, 10_000)]            # blatant outlier for key 1
        + [(2, i, v) for i, v in enumerate([5, 5, 5, 5, 5])]  # zero variance
        + [(3, 0, 42)]                 # singleton: never flags
    )
    df = spark.createDataFrame(rows, "k long, id long, v long")
    got = sorted((r.k, r.id) for r in anomaly_flags(df, "k", "id", "v", z=3).collect())

    from collections import defaultdict

    by_k = defaultdict(list)
    for k, i, v in rows:
        by_k[k].append((i, v))
    want = []
    for k, items in by_k.items():
        vals = [v for _, v in items]
        mu = statistics.fmean(vals)
        sig = statistics.pstdev(vals)
        for i, v in items:
            if abs(v - mu) > 3 * sig:
                want.append((k, i))
    assert got == sorted(want) == [(1, 99)]


def test_label_regions_matches_union_find(spark):
    from gosmonaut_spark.operators.tiling import label_regions

    res, n = 3, 8
    base = 1 << (2 * res)

    def cid(x, y):
        return base + x * n + y

    # L-shaped blob, a 2x2 blob, an antimeridian-wrapping pair, singles
    occupied = [
        (0, 0), (0, 1), (0, 2), (1, 2),          # L blob
        (4, 4), (4, 5), (5, 4), (5, 5),          # square blob
        (7, 6), (0, 6),                          # x-wrap: 7 -> (7+1)%8 == 0
        (3, 0),                                  # isolated
        (6, 1),                                  # isolated
    ]
    cells = [cid(x, y) for x, y in occupied]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    got = {r.cell: r.region for r in label_regions(df, res).collect()}

    # union-find with the same 4-connectivity + x-wrap law
    parent = {c: c for c in cells}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    occ = set(cells)
    for x, y in occupied:
        right = cid((x + 1) % n, y)
        if right in occ:
            union(cid(x, y), right)
        if y + 1 < n and cid(x, y + 1) in occ:
            union(cid(x, y), cid(x, y + 1))
    want = {c: min(k for k in cells if find(k) == find(c)) for c in cells}
    assert got == want
    # shape: L and square are single regions; wrap pair merged; singles alone
    assert len({got[cid(x, y)] for x, y in [(0, 0), (0, 1), (0, 2), (1, 2)]}) == 1
    assert got[cid(7, 6)] == got[cid(0, 6)]
    assert got[cid(3, 0)] == cid(3, 0)


def test_hotspots_gi_matches_float_law(spark):
    import math

    from gosmonaut_spark.operators.tiling import hotspots_gi

    res, n_grid = 3, 8
    base = 1 << (2 * res)

    def cid(x, y):
        return base + x * n_grid + y

    # flat field of 10s with a hot 2x2 island of 200s and one cold
    # depression of 1s in a corner
    vals = {}
    for x in range(n_grid):
        for y in range(n_grid):
            vals[(x, y)] = 10
    for x, y in [(3, 3), (3, 4), (4, 3), (4, 4)]:
        vals[(x, y)] = 200
    for x, y in [(0, 0), (0, 1), (1, 0), (1, 1)]:
        vals[(x, y)] = 1
    df = spark.createDataFrame(
        [(cid(x, y), v) for (x, y), v in vals.items()], "cell long, n_points long"
    )

    n = len(vals)
    S = sum(vals.values())
    Q = sum(v * v for v in vals.values())
    mean = S / n
    sd = math.sqrt(Q / n - mean * mean)

    def float_flags(z):
        want = {}
        for (x, y), v in vals.items():
            w = m = 0
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nx, ny = (x + dx) % n_grid, y + dy
                    if 0 <= ny < n_grid and (nx, ny) in vals:
                        w += vals[(nx, ny)]
                        m += 1
            gi = (w - m * mean) / (sd * math.sqrt(m * (n - m) / (n - 1)))
            if abs(gi) > z:
                want[cid(x, y)] = (w, m, "hot" if gi > 0 else "cold")
        return want

    for z in (1, 2):
        out = hotspots_gi(df, res, k=1, z=z).collect()
        got = {r.cell: (r.w_sum, r.m_neighbors, r.spot) for r in out}
        assert got == float_flags(z), f"z={z}"
    # the island flags hot at z=2; the depression reaches only |z|>1
    assert "hot" in {v[2] for v in float_flags(2).values()}
    z1 = {r.cell: r.spot for r in hotspots_gi(df, res, k=1, z=1).collect()}
    assert "cold" in set(z1.values())


def test_st_hotspots_gi_matches_float_law(spark):
    import math

    from gosmonaut_spark.operators.tiling import st_hotspots_gi

    res, n_grid = 3, 8
    base = 1 << (2 * res)

    def cid(x, y):
        return base + x * n_grid + y

    # flat 10s over 4 days; one cell spikes to 300 on day 2 only
    vals = {}
    for x in range(n_grid):
        for y in range(n_grid):
            for t in range(4):
                vals[(x, y, t)] = 10
    vals[(4, 4, 2)] = 300
    df = spark.createDataFrame(
        [(cid(x, y), t, v) for (x, y, t), v in vals.items()],
        "cell long, tbin long, n_points long",
    )
    out = st_hotspots_gi(df, res, k=1, t_k=1, z=2).collect()
    got = {(r.cell, r.tbin): (r.w_sum, r.m_neighbors, r.spot) for r in out}

    n = len(vals)
    S = sum(vals.values())
    Q = sum(v * v for v in vals.values())
    mean, sd = S / n, math.sqrt(Q / n - (S / n) ** 2)
    want = {}
    for (x, y, t), v in vals.items():
        w = m = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for dt in (-1, 0, 1):
                    key = ((x + dx) % n_grid, y + dy, t + dt)
                    if 0 <= y + dy < n_grid and key in vals:
                        w += vals[key]
                        m += 1
        gi = (w - m * mean) / (sd * math.sqrt(m * (n - m) / (n - 1)))
        if abs(gi) > 2:
            want[(cid(x, y), t)] = (w, m, "hot" if gi > 0 else "cold")
    assert got == want
    # the spike's spatiotemporal halo flags ONLY around (4,4,2)
    assert got and all(
        abs(c - cid(4, 4)) <= n_grid + 1 and abs(t - 2) <= 1 for (c, t) in got
    )
    assert all(v[2] == "hot" for v in got.values())


def test_uncompact_roundtrip_identity_and_guard(spark):
    import pytest

    from gosmonaut_spark.operators.tiling import compact_cells, uncompact_cells

    res, n = 4, 16
    base = 1 << (2 * res)
    cells = sorted(
        {base + x * n + y for x in range(4) for y in range(4)}
        | {base + 10 * n + 3, base + 12 * n + 12, base + 13 * n + 12}
    )
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    comp = compact_cells(df, res, 0)
    # compact -> uncompact is the identity on the original uniform set
    back = sorted(r.cell for r in uncompact_cells(comp, res).collect())
    assert back == cells
    # expanding deeper multiplies each original cell by 4 exactly once
    deeper = [r.cell for r in uncompact_cells(comp, res + 1).collect()]
    assert len(deeper) == 4 * len(cells) and len(set(deeper)) == len(deeper)
    # pass-through: already-at-target cells survive unchanged
    same = sorted(r.cell for r in uncompact_cells(df, res).collect())
    assert same == cells
    # guard: a mixed set holding cells FINER than the target raises
    with pytest.raises(Exception):
        uncompact_cells(comp, 1).collect()


def test_polyfill_matches_numpy_bruteforce(spark):
    """Polyfill vs per-center numpy PNPOLY over the full bbox span, plus the
    fan-out guard. Uses a non-convex (L-shaped) ring so even-odd parity is
    genuinely exercised."""
    import numpy as np
    import pytest

    from gosmonaut_spark.functions.cells import cell_np
    from gosmonaut_spark.operators.tiling import polyfill

    res = 10  # 2^10 grid: cells ~0.176 x 0.352 deg
    # L-shape around (10,10) and a small square across the antimeridian side
    polys = [
        (1, [10.0, 12.5, 12.5, 11.0, 11.0, 10.0, 10.0],
            [20.0, 20.0, 21.0, 21.0, 23.0, 23.0, 20.0]),
        (2, [-5.0, -5.0, -4.2, -4.2, -5.0],
            [100.0, 101.1, 101.1, 100.0, 100.0]),
    ]
    df = spark.createDataFrame(
        [(pid, lats, lons) for pid, lats, lons in polys],
        "polygon_id long, lats array<double>, lons array<double>",
    )
    got = {
        (r.polygon_id, r.cell)
        for r in polyfill(df, res, max_cells=512).collect()
    }

    n = 1 << res
    want = set()
    for pid, lats, lons in polys:
        la, lo = np.array(lats), np.array(lons)
        x0 = int(np.clip(np.floor((lo.min() + 180.0) / 360.0 * n), 0, n - 1))
        x1 = int(np.clip(np.floor((lo.max() + 180.0) / 360.0 * n), 0, n - 1))
        y0 = int(np.clip(np.floor((90.0 - la.max()) / 180.0 * n), 0, n - 1))
        y1 = int(np.clip(np.floor((90.0 - la.min()) / 180.0 * n), 0, n - 1))
        xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        xs, ys = xs.ravel(), ys.ravel()
        clon = (xs + 0.5) / n * 360.0 - 180.0
        clat = 90.0 - (ys + 0.5) / n * 180.0
        inside = _numpy_raycast(clat, clon, la, lo)
        cells = (1 << (2 * res)) + xs * n + ys
        want |= {(pid, int(c)) for c in cells[inside]}
    assert got == want and len(got) > 10
    # the L's notch (the removed quadrant) must NOT be filled: cells of the
    # axis-aligned box [11,12.5]x[21,23] minus a 1-cell rim are outside
    notch_lat, notch_lon = 12.0, 22.0  # center of the removed quadrant
    notch_cell = int(cell_np(np.array([notch_lat]), np.array([notch_lon]), res)[0])
    assert (1, notch_cell) not in got
    # guard: a ring whose bbox explodes past max_cells raises loudly
    big = spark.createDataFrame(
        [(9, [0.0, 0.0, 60.0, 60.0, 0.0], [0.0, 60.0, 60.0, 0.0, 0.0])],
        "polygon_id long, lats array<double>, lons array<double>",
    )
    with pytest.raises(Exception, match="polyfill"):
        polyfill(big, res, max_cells=64).collect()


def test_zorder_ranges_and_scan(spark):
    """Morton range planning: ranges are maximal contiguous runs covering
    EXACTLY the bbox cells; the scan's prune keeps a strict superset of
    the bbox points (boundary cells) and the refine recovers the exact
    set; the guard trips on oversized covers."""
    import pytest

    from gosmonaut_spark.functions.cells import morton_expr
    from gosmonaut_spark.operators.tiling import (
        zorder_bbox_ranges,
        zorder_range_scan,
    )

    res, n = 6, 64
    ranges = zorder_bbox_ranges(0.0, 20.0, 0.0, 20.0, res)
    # maximal runs: no two ranges adjacent, lo <= hi, sorted
    assert all(lo <= hi for lo, hi in ranges)
    assert all(b[0] > a[1] + 1 for a, b in zip(ranges, ranges[1:]))

    def spread(v):
        for sh, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                      (2, 0x33333333), (1, 0x55555555)):
            v = ((v << sh) | v) & m
        return v

    import math
    want_codes = set()
    x0 = int(math.floor((0.0 + 180) / 360 * n)); x1 = int(math.floor((20.0 + 180) / 360 * n))
    y0 = int(math.floor((90 - 20.0) / 180 * n)); y1 = int(math.floor((90 - 0.0) / 180 * n))
    for x in range(x0, x1 + 1):
        for y in range(y0, y1 + 1):
            want_codes.add(spread(x) | (spread(y) << 1))
    got_codes = {c for lo, hi in ranges for c in range(lo, hi + 1)}
    assert got_codes == want_codes

    # scan == brute filter, and the prune is genuine (candidates > final,
    # but < total) on a deterministic point cloud
    rows = [(i, (i * 37 % 180) - 89.5, (i * 73 % 360) - 179.5) for i in range(4000)]
    pts = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = sorted(
        r.id for r in zorder_range_scan(pts, 0.0, 20.0, 0.0, 20.0, res).collect()
    )
    want = sorted(i for i, la, lo in rows if 0 <= la <= 20 and 0 <= lo <= 20)
    assert got == want and len(got) > 10
    # the prune is genuine: candidate count (pre-refine) sits strictly
    # between the final hit count and the full cloud
    from pyspark.sql import functions as F

    rdf = spark.createDataFrame(ranges, "zr_lo long, zr_hi long")
    cand = (
        pts.withColumn("_zm", morton_expr("lat", "lon", res))
        .join(
            F.broadcast(rdf),
            (F.col("_zm") >= F.col("zr_lo")) & (F.col("_zm") <= F.col("zr_hi")),
            "inner",
        )
        .count()
    )
    assert len(got) <= cand < len(rows) / 10
    with pytest.raises(ValueError, match="zorder_bbox_ranges"):
        zorder_bbox_ranges(-80.0, 80.0, -170.0, 170.0, 12)


def test_skyline_2d_matches_bruteforce(spark):
    """Bucket-prefix skyline == brute-force dominance, including the
    duplicate-point law (equal points both survive) and same-x /
    boundary-straddling cases designed to break a naive prefix."""
    from gosmonaut_spark.operators.skyline import skyline_2d

    rows = [
        (0, 0.0, 10.0),
        (1, 0.0, 10.0),     # duplicate of 0: both survive
        (2, 0.5, 9.9),      # survives (x worse than 0, y better)
        (3, 0.4, 9.9),      # dominates nothing w.r.t. 2? x<, y= -> dominates 2
        (4, 0.4, 12.0),     # dominated by 3 (x=, y>)
        (5, 4.9, 1.0),      # end of bucket 0
        (6, 5.1, 0.9),      # just across the bucket boundary: survives
        (7, 5.05, 1.0),     # same bucket as 6, dominated by 5? x>, y= -> yes
        (8, 17.0, 0.9),     # dominated by 6 (x>, y=)
        (9, 17.0, 0.5),     # survives
        (10, -3.0, 50.0),   # negative x bucket, survives (best x overall)
        (11, -3.0, 60.0),   # same x as 10, y worse: dominated
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = sorted(r.id for r in skyline_2d(df, "x", "y", 5.0).collect())

    want = sorted(
        p[0]
        for p in rows
        if not any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in rows
        )
    )
    assert got == want
    assert 0 in got and 1 in got and 4 not in got and 7 not in got


def test_adaptive_tiles_invariants(spark):
    """Adaptive quadtree: python twin equality + structural invariants —
    the mixed-res cover partitions the point set (counts sum to N, no
    tile is an ancestor of another), every tile <= cap unless at
    res_max, and every split tile's PARENT was genuinely hot."""
    from gosmonaut_spark.functions.cells import cell_np
    from gosmonaut_spark.operators.tiling import adaptive_tiles

    import numpy as np

    rng_rows = [
        # dense clump near (10, 10) + sparse global scatter
        *[(i, 10.0 + (i % 40) * 0.01, 10.0 + (i // 40 % 40) * 0.01)
          for i in range(900)],
        *[(1000 + i, (i * 37 % 160) - 79.5, (i * 73 % 340) - 169.5)
          for i in range(300)],
    ]
    df = spark.createDataFrame(rng_rows, "id long, lat double, lon double")
    res_min, res_max, cap = 2, 9, 64
    got = {
        r.cell: r.n_points
        for r in adaptive_tiles(df, res_min, res_max, cap).collect()
    }

    lats = np.array([r[1] for r in rng_rows])
    lons = np.array([r[2] for r in rng_rows])
    cells = {r: cell_np(lats, lons, r) for r in range(res_min, res_max + 1)}
    counts = {
        r: dict(zip(*[a.tolist() for a in np.unique(cells[r], return_counts=True)]))
        for r in cells
    }
    want = {}
    for i in range(len(rng_rows)):
        for r in range(res_min, res_max + 1):
            c = int(cells[r][i])
            if r == res_max or counts[r][c] <= cap:
                want[c] = counts[r][c]
                break
    assert got == want
    assert sum(got.values()) == len(rng_rows)  # exact partition of N
    # every tile obeys the cap unless at res_max (flag bit gives res)
    for c, n in got.items():
        res = (c.bit_length() - 1) // 2
        assert res == res_max or n <= cap, (c, res, n)
        # a finer-than-res_min tile implies its parent was hot
        if res > res_min:
            d = res - (res - 1)
            x = (c >> res) - (1 << res)
            y = c - ((c >> res) << res)
            parent = (1 << (2 * (res - 1))) + (x >> d) * (1 << (res - 1)) + (y >> d)
            assert counts[res - 1][parent] > cap, (c, parent)


def test_join_counts_checkerboard_vs_split(spark):
    """2x2 occupied block: checkerboard AB → all 4 joins are A-B;
    left/right split → A-A and B-B joins on the vertical edges plus two
    A-B interfaces."""
    from gosmonaut_spark.functions.cells import cell_from_xy
    from gosmonaut_spark.operators.tiling import join_counts
    from pyspark.sql import functions as F

    res = 3

    def tiles(assign):
        rows = [(x, y, c) for (x, y), c in assign.items()]
        return spark.createDataFrame(rows, "x long, y long, cls string").select(
            cell_from_xy(F.col("x"), F.col("y"), res).alias("cell"), "cls"
        )

    cb = {(0, 0): "A", (1, 0): "B", (0, 1): "B", (1, 1): "A"}
    got = {(r["class_a"], r["class_b"]): r["n_joins"]
           for r in join_counts(tiles(cb), res).collect()}
    assert got == {("A", "B"): 4}

    split = {(0, 0): "A", (0, 1): "A", (1, 0): "B", (1, 1): "B"}
    got2 = {(r["class_a"], r["class_b"]): r["n_joins"]
            for r in join_counts(tiles(split), res).collect()}
    assert got2 == {("A", "A"): 1, ("B", "B"): 1, ("A", "B"): 2}


def test_slippy_known_tiles_and_clamps(spark):
    """Hand-checked slippy tiles at z=1/z=2 (quadrant centers) and the
    polar/antimeridian clamps."""
    from gosmonaut_spark.functions.cells import slippy_xy
    from pyspark.sql import functions as F

    pts = spark.createDataFrame(
        [
            (1, 45.0, -90.0),   # NW quadrant -> z1 (0,0)
            (2, -45.0, 90.0),   # SE quadrant -> z1 (1,1)
            (3, 89.9, 0.0),     # above mercator edge -> clamped to y=0
            (4, -89.9, 179.999),# below edge, near antimeridian -> (1, 1)
            (5, 0.0, 0.0),      # greenwich equator -> z1 (1, 1) by floor
        ],
        "id long, lat double, lon double",
    )
    x, y = slippy_xy("lat", "lon", 1)
    got = {r["id"]: (r["x"], r["y"])
           for r in pts.select("id", x.alias("x"), y.alias("y")).collect()}
    assert got[1] == (0, 0) and got[2] == (1, 1)
    assert got[3][1] == 0 and got[4] == (1, 1)
    assert got[5] == (1, 1)


def test_area_rollup_conserves_total_area(spark):
    """The clip pieces PARTITION each ring, and the micro-shoelace of a
    piece sums edge terms that either coincide with original edges or
    cancel along shared cell boundaries — so summing the per-cell rollup
    must reproduce each ring's own area EXACTLY in exact integer micro
    units... up to the per-edge rounding: clipping introduces boundary
    edges rounded independently, so equality is asserted within a
    few-micro tolerance per ring while the TOTALS must agree to ~1e-6
    relative. Guards the clip+rollup composition end to end."""
    import pyspark.sql.functions as F

    from gosmonaut_spark.functions.cells import cell_from_xy, cell_x, cell_y
    from gosmonaut_spark.functions.geo import clip_rings_rect, polygon_stats

    res = 3
    n = 1 << res
    rows = [
        # triangle spanning several res-3 cells
        (1, [10.0, 10.0, 40.0, 10.0], [-20.0, 30.0, -20.0, -20.0]),
        # small square inside one cell
        (2, [1.0, 1.0, 2.0, 2.0, 1.0], [1.0, 2.0, 2.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "polygon_id long, lats array<double>, lons array<double>"
    )
    st = polygon_stats("lats", "lons")
    whole = {
        r.polygon_id: r.a2
        for r in df.select("polygon_id", st["area2x_micro"].alias("a2")).collect()
    }
    b = df.select(
        "*",
        F.array_min("lats").alias("mnla"),
        F.array_max("lats").alias("mxla"),
        F.array_min("lons").alias("mnlo"),
        F.array_max("lons").alias("mxlo"),
    )
    pairs = b.withColumn(
        "cx", F.explode(F.sequence(cell_x(F.col("mnlo"), res), cell_x(F.col("mxlo"), res)))
    ).withColumn(
        "cy", F.explode(F.sequence(cell_y(F.col("mxla"), res), cell_y(F.col("mnla"), res)))
    )
    nd = F.lit(float(n))
    pairs = pairs.withColumn(
        "la0", F.lit(90.0) - (F.col("cy").cast("double") + 1.0) / nd * 180.0
    ).withColumn(
        "la1", F.lit(90.0) - F.col("cy").cast("double") / nd * 180.0
    ).withColumn(
        "lo0", F.col("cx").cast("double") / nd * 360.0 - 180.0
    ).withColumn(
        "lo1", (F.col("cx").cast("double") + 1.0) / nd * 360.0 - 180.0
    )
    clipped = clip_rings_rect(
        pairs, F.col("la0"), F.col("la1"), F.col("lo0"), F.col("lo1")
    )
    got = {
        r.polygon_id: r.s
        for r in clipped.select("polygon_id", st["area2x_micro"].alias("a2"))
        .groupBy("polygon_id")
        .agg(F.sum("a2").alias("s"))
        .collect()
    }
    for pid, total in whole.items():
        assert abs(got[pid] - total) <= 64, (pid, got[pid], total)
    # the one-cell square is exactly conserved (no synthetic boundary edges)
    assert got[2] == whole[2] == 2 * 1_000_000


def _py_clip_halfplane(pts, axis, b, keep_ge):
    """Pure-python mirror of geo._clip_halfplane: same formulas, same
    IEEE double ops, same inclusive inside test — an independent oracle
    for the Column implementation (python floats are IEEE doubles, so
    identical expression order gives bit-identical results)."""
    if len(pts) < 2:
        return []
    out = []
    ax = 0 if axis == "lat" else 1

    def inside(p):
        return p[ax] >= b if keep_ge else p[ax] <= b

    def cross(p1, p2):
        t = (b - p1[ax]) / (p2[ax] - p1[ax])
        o = p1[1 - ax] + t * (p2[1 - ax] - p1[1 - ax])
        return (b, o) if ax == 0 else (o, b)

    for i in range(len(pts) - 1):
        p1, p2 = pts[i], pts[i + 1]
        if inside(p1) and inside(p2):
            out.append(p2)
        elif inside(p1):
            out.append(cross(p1, p2))
        elif inside(p2):
            out.append(cross(p1, p2))
            out.append(p2)
    if out:
        out = out + [out[0]]
    return out


def _py_clip_rect(pts, lat0, lat1, lon0, lon1):
    for axis, b, keep in [
        ("lat", lat0, True),
        ("lat", lat1, False),
        ("lon", lon0, True),
        ("lon", lon1, False),
    ]:
        pts = _py_clip_halfplane(pts, axis, b, keep)
    return pts


def test_clip_rings_rect_random_vs_python_oracle(spark):
    """120 random closed rings (including degenerate, collinear, and
    boundary-touching shapes) clipped to [0,1]² must match the
    pure-python Sutherland–Hodgman mirror BIT-FOR-BIT — vertex arrays,
    not just areas (the formulas are written in the same IEEE order)."""
    import random

    import pyspark.sql.functions as F

    from gosmonaut_spark.functions.geo import clip_rings_rect

    rng = random.Random(20260820)
    rows, expect = [], {}
    for rid in range(120):
        n = rng.randrange(3, 9)
        # quantized coords hit cell boundaries / vertices-on-edge often
        pts = [
            (rng.randrange(-12, 13) / 4.0, rng.randrange(-12, 13) / 4.0)
            for _ in range(n)
        ]
        pts.append(pts[0])
        rows.append(
            (rid, [p[0] for p in pts], [p[1] for p in pts])
        )
        expect[rid] = _py_clip_rect(pts, 0.0, 1.0, 0.0, 1.0)
    df = spark.createDataFrame(
        rows, "rid long, lats array<double>, lons array<double>"
    )
    got = {
        r.rid: list(zip(r.lats, r.lons))
        for r in clip_rings_rect(df, 0.0, 1.0, 0.0, 1.0).collect()
    }
    n_nonempty = 0
    for rid, want in expect.items():
        assert got[rid] == want, (rid, got[rid], want)
        n_nonempty += bool(want)
    assert n_nonempty > 20  # the sample genuinely exercises the clipper
