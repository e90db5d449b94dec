"""kNN join (B8) — k-ring candidate expansion + windowed top-k.

Two variants:

* :func:`knn_join` — the scale path. Each query explodes to the cells of
  its (2k+1)^2 ring at a chosen resolution: two literal offset arrays
  (``dx``, ``dy``) are exploded against the query's grid coordinates, off-
  grid rows in y are dropped and x wraps across the antimeridian
  (:func:`_ring_cells`, shared with :func:`radius_join`). Candidates =
  equi-join on cell; exact haversine + ``row_number() <= k`` per query.
  The planner sees one equi-join and one window — both shuffle on bounded
  keys. Contract: a neighbor further than the ring's reach is missed, so
  pick ``res``/``ring`` so the ring radius covers the expected k-th
  distance (or iterate with :func:`knn_join_adaptive`).
* :func:`knn_brute` — exact O(Q*T) crossJoin baseline; the oracle twin
  (SQL-expressible) and the right plan when one side is tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cells import cell_expr, cell_from_xy, cell_x, cell_y
from ..functions.geo import EARTH_RADIUS_M, haversine_m

# knn_join_adaptive answers an uncertified tail of at most this many
# queries with one brute round (see its docstring)
BRUTE_TAIL_MAX = 256


def _ring_cells(q: DataFrame, res: int, rx: int | Column, ry: int) -> DataFrame:
    """Explode each row of ``q`` to the cells around its grid coordinates
    ``(qx, qy)`` at ``res``; ``qx``/``qy`` are replaced by ``cell``.

    ``dy`` runs over ``[-ry, ry]`` and rows off the grid in y are dropped
    (no wrap over the poles). ``dx`` runs over ``[-rx, rx]`` clamped to
    ``[-min(rx, (n-1)//2), min(rx, n//2)]`` with ``n = 2^res``, and x wraps
    across the antimeridian as ``pmod(qx + dx, n)``: the clamp spans at
    most n columns, and all n once ``rx`` saturates, so a grid row is never
    traversed twice. The cells are distinct by construction, so no array
    dedup is needed — that dedup is a lambda ``filter`` that would drop the
    whole stage out of codegen. ``rx`` is an int (the square k-ring, a
    literal offset array that ``explain()`` prints) or a per-row column
    (:func:`radius_join`'s latitude-dependent reach).
    """
    n = 1 << res
    lo, hi = (n - 1) // 2, n // 2
    # an int rx could also go through F.sequence(F.lit(...)): Catalyst folds
    # it to the same array, but explain() then prints an opaque
    # UnsafeArrayData instead of the offsets, so plans stay unreadable
    if isinstance(rx, int):
        dx = F.array(*[F.lit(d) for d in range(-min(rx, lo), min(rx, hi) + 1)])
    else:
        dx = F.sequence(-F.least(rx, F.lit(lo)), F.least(rx, F.lit(hi)))
    keep = [c for c in q.columns if c not in ("qx", "qy")]
    x, y = F.col("qx") + F.col("dx"), F.col("qy") + F.col("dy")
    return (
        q.withColumn("dx", F.explode(dx))
        .withColumn("dy", F.explode(F.array(*[F.lit(d) for d in range(-ry, ry + 1)])))
        # targets at the poles clamp INTO the grid edge rows, so dropping
        # y<0 / y>=n misses nothing
        .filter((y >= 0) & (y < n))
        .select(*keep, cell_from_xy(F.pmod(x, F.lit(n)), y, res).alias("cell"))
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("target_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    res: int = 7,
    ring: int = 1,
    query_id: str = "query_id",
    target_id: str = "target_id",
    broadcast_queries: bool = False,
) -> DataFrame:
    """Approximate kNN: candidates restricted to the k-ring neighborhood.

    Inputs: ``queries(query_id, lat, lon)``, ``targets(target_id, lat, lon)``.
    Output: ``(query_id, target_id, dist_m)``, ties broken by target_id —
    deterministic across runs and engines.

    The ring is an explode of literal offsets, not a column expression:
    ``dy`` in ``[-ring, ring]`` (rows off the grid dropped) and ``dx``
    clamped to ``[-min(ring, (n-1)//2), min(ring, n//2)]`` with
    ``n = 2^res``, so at coarse resolutions, where the ring is wider than
    the grid, each cell still appears once and no target joins a query
    twice. The whole query side is one codegen stage. Once
    ``ring >= n - 1`` the ring reaches every cell from every cell, so every
    target is a candidate of every query and the join is
    :func:`knn_brute`'s cross join (same rows, no explode).

    ``broadcast_queries``: when the query side is known small (a probe
    batch against a large target corpus), broadcasting the ring-exploded
    queries turns the cell equi-join into a broadcast hash join — the
    target side (one coordinate row per target) never shuffles, and the
    only shuffle left is the per-query top-k window on candidate scalars.
    Default off: in self-join shapes (e.g. ``knn_join_adaptive`` over a
    full point set) both sides are large and the symmetric shuffle is
    correct.
    """
    if ring >= (1 << res) - 1:
        return knn_brute(queries, targets, k, query_id=query_id, target_id=target_id)
    q = _ring_cells(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col("lat").alias("q_lat"),
            F.col("lon").alias("q_lon"),
            cell_x("lon", res).alias("qx"),
            cell_y("lat", res).alias("qy"),
        ),
        res,
        ring,
        ring,
    )
    t = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
        cell_expr("lat", "lon", res).alias("cell"),
    )
    if broadcast_queries:
        q = F.broadcast(q)
    cand = q.join(t, "cell", "inner").select(
        "query_id",
        "target_id",
        haversine_m(F.col("q_lat"), F.col("q_lon"), F.col("t_lat"), F.col("t_lon")).alias(
            "dist_m"
        ),
    )
    return _topk(cand, k)


def _ring_coverage_m(lat: Column, res: int, ring: int) -> Column:
    """Guaranteed coverage radius of a k-ring, per query row (meters).

    Every cell within Chebyshev distance ``ring`` of the query's cell is a
    candidate, so the nearest *excluded* point is at least ``ring`` full
    cell extents away in latitude OR longitude. The longitude arc uses the
    most poleward latitude the ring can span (smallest cosine) — a
    conservative lower bound, so certification is never optimistic. Rings
    that clamp at the poles exclude nothing poleward (those cells do not
    exist), so the latitude bound needs no pole term.
    """
    n = 1 << res
    cell_h_deg = 180.0 / n
    cell_w_deg = 360.0 / n
    cov_lat = F.lit(EARTH_RADIUS_M) * F.radians(F.lit(ring * cell_h_deg))
    phi_far = F.least(
        F.abs(lat) + F.lit((ring + 1) * cell_h_deg), F.lit(90.0)
    )
    half_dlon = F.radians(F.lit(min(ring * cell_w_deg, 180.0))) / F.lit(2.0)
    cov_lon = (
        F.lit(2.0 * EARTH_RADIUS_M)
        * F.asin(F.greatest(F.cos(F.radians(phi_far)), F.lit(0.0)) * F.sin(half_dlon))
    )
    # a ring that reaches every row from every row excludes nothing
    # (2*ring+1 >= n only wraps every column: rows beyond cov_lat stay out)
    if ring >= n - 1:
        return F.lit(float("inf"))
    return F.least(cov_lat, cov_lon)


def knn_join_adaptive(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    res: int = 7,
    ring: int = 1,
    min_res: int = 3,
    query_id: str = "query_id",
    target_id: str = "target_id",
) -> DataFrame:
    """EXACT kNN at ring-join cost: coarsening escalation + brute tail.

    Round ``i`` runs :func:`knn_join` at resolution ``res - i`` (same
    ``ring``) over the still-uncertified queries — coarsening one level
    doubles the ring's guaranteed reach while each query still explodes
    to a constant 9 cells (escalating ``ring`` instead grows every
    query's candidate cells O(ring²): 289 for a ring-8). A query is certified
    exact when it has ``k`` neighbors and its k-th distance is strictly
    inside the ring's coverage radius (:func:`_ring_coverage_m`) — no
    point outside the ring can beat a certified neighbor. Queries still
    uncertified at ``min_res`` (sparse or polar regions) fall back to
    :func:`knn_brute`; by then the pending side is tiny, so the cross
    join is a broadcast nested loop = one extra scan of targets.

    The driver-side loop is bounded (one job per level); each round is a
    plain equi-join + window the planner optimizes like any other —
    mirrors the reference's conditional pass skipping
    (/root/reference/gosmonaut.go:147-216: passes launch only when the
    dependency tracker is non-empty).

    Once the uncertified tail shrinks to at most ``BRUTE_TAIL_MAX``
    queries, jump straight to :func:`knn_brute` instead of walking
    every remaining coarser level. Both paths are EXACT, so the result is
    identical for any cut-over point; the trade is |pending| x |targets|
    distance terms (broadcast-NL, one extra scan of targets) against one
    full ring join + certification round per remaining level — measured
    at the sf0.01 fixture as 4 rounds of fixed per-round job cost spent
    certifying a tail of a few dozen queries. 256 pending x the per-row
    haversine is cheaper than even one extra pass over any target table
    the ring join itself was worth running on.
    """
    pending = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lat").alias("lat"),
        F.col("lon").alias("lon"),
    )
    parts: list[DataFrame] = []
    n_pending = None  # no ring level run yet: every query is pending
    for cur_res in range(res, min_res - 1, -1):
        # knn_join and knn_brute name their output query_id/target_id
        # whatever the input names; the caller's names return at the end
        cand = knn_join(pending, targets, k, cur_res, ring, target_id=target_id)
        stats = cand.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("__n"), F.max("dist_m").alias("__kth")
        )
        certified = (
            pending.join(stats, "query_id")
            .filter(
                (F.col("__n") >= k)
                & (F.col("__kth") < _ring_coverage_m(F.col("lat"), cur_res, ring))
            )
            .select("query_id")
        )
        parts.append(cand.join(certified, "query_id", "left_semi"))
        # localCheckpoint truncates lineage: without it each round's plan
        # nests every prior round's anti-join and analysis/canonicalization
        # cost grows superlinearly (measured: driver OOM at ~9 rounds).
        # The pending set is the uncertified tail — small — so eager
        # materialization is cheap; at cluster scale use a reliable
        # checkpoint dir instead (same pass-snapshot discipline as B11).
        pending = pending.join(certified, "query_id", "left_anti").localCheckpoint()
        n_pending = pending.count()
        if n_pending <= BRUTE_TAIL_MAX:
            break
    if n_pending != 0:
        # the uncertified tail, at min_res or once it is small: one exact
        # brute round replaces every remaining ring level (identical rows
        # — see docstring)
        parts.append(knn_brute(pending, targets, k, target_id=target_id))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("query_id").alias(query_id),
        F.col("target_id").alias(target_id),
        "dist_m",
    )


def radius_join(
    queries: DataFrame,
    targets: DataFrame,
    radius_m: float,
    res: int = 6,
    query_id: str = "query_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Distance-band join — ALL (query, target) pairs within ``radius_m``.

    EXACT (no missed pairs), at equi-join cost: each query row explodes to
    the cell neighborhood *its own latitude* requires. The latitude reach
    is a constant (``radius/R`` radians → static ``dy`` fan-out); the
    longitude reach grows with ``|lat|`` (meridian convergence), bounded
    per row from the haversine identity
    ``hav(d) >= cos²(phi_far)·sin²(dlon/2)``, so any pair within
    ``radius_m`` satisfies ``|sin(dlon/2)| <= sin(r/2R)/cos(phi_far)`` —
    a conservative per-row ``dx`` fan-out that can never miss a pair.
    Near the poles the bound saturates and the ``dx`` window widens to a
    full wrap (capped to one traversal of the row, so no duplicate cells
    and therefore no duplicate output pairs: each target owns exactly one
    cell and each query emits each cell at most once).

    At 100 TB this is the plan you want: candidate generation is one
    bounded explode + one shuffle-on-cell equi-join (AQE-splittable,
    saltable on dense cells), verification is a whole-stage-codegen trig
    filter — no UDF, no cross join, no driver-side state. Mirrors the
    reference's dependency-pass shape (scan → bounded candidate set →
    exact resolve, /root/reference/gosmonaut.go:147-216) recast as a
    relational distance join.

    Inputs: ``queries(query_id, lat, lon)``, ``targets(target_id, lat,
    lon)``. Output: ``(query_id, target_id, dist_m)`` with
    ``dist_m <= radius_m`` and ``target_id != query_id``.
    """
    import math

    n = 1 << res
    cell_h = 180.0 / n
    cell_w = 360.0 / n
    dlat_deg = math.degrees(radius_m / EARTH_RADIUS_M)
    ry = int(dlat_deg // cell_h) + 1
    sin_half = math.sin(radius_m / (2.0 * EARTH_RADIUS_M))

    # most poleward latitude any within-radius target can sit at
    phi_far = F.least(F.abs(F.col("q_lat")) + F.lit(dlat_deg + cell_h), F.lit(90.0))
    ratio = F.lit(sin_half) / F.greatest(
        F.cos(F.radians(phi_far)), F.lit(1e-12)
    )
    dlon_deg = F.degrees(F.lit(2.0) * F.asin(F.least(ratio, F.lit(1.0))))
    rx = (F.floor(dlon_deg / F.lit(cell_w)) + F.lit(1)).cast("int")

    q = _ring_cells(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col("lat").alias("q_lat"),
            F.col("lon").alias("q_lon"),
            cell_x("lon", res).alias("qx"),
            cell_y("lat", res).alias("qy"),
        ),
        res,
        rx,
        ry,
    )
    t = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
        cell_expr("lat", "lon", res).alias("cell"),
    )
    return (
        q.join(t, "cell", "inner")
        .filter(F.col("target_id") != F.col("query_id"))
        .select(
            "query_id",
            "target_id",
            haversine_m(
                F.col("q_lat"), F.col("q_lon"), F.col("t_lat"), F.col("t_lon")
            ).alias("dist_m"),
        )
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
    )


def knn_brute(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    query_id: str = "query_id",
    target_id: str = "target_id",
) -> DataFrame:
    """Exact kNN by cross join — oracle twin / small-side plan."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lat").alias("q_lat"),
        F.col("lon").alias("q_lon"),
    )
    t = targets.select(
        F.col(target_id).alias("target_id"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
    )
    cand = q.crossJoin(t).select(
        "query_id",
        "target_id",
        haversine_m(F.col("q_lat"), F.col("q_lon"), F.col("t_lat"), F.col("t_lon")).alias(
            "dist_m"
        ),
    )
    return _topk(cand, k)
