"""Distributed connected components over pair tables.

The missing last step of every fuzzy-dedup family in this engine
(minhash-LSH / simhash / embedding near-dup all emit *pairs*): turn the
pair table into cluster assignments so a corpus keeps exactly one
canonical document per near-duplicate cluster.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce and
Beyond", SoCC'14). Each round is two shuffle stages (groupBy min +
re-expand); the edge set converges to per-component stars rooted at the
component's minimum id in O(log n) rounds — unlike naive min-label
propagation whose round count is the component *diameter* (fatal for
chain-shaped near-dup clusters at corpus scale, where transitive LSH
matches routinely form long paths).

Scale notes (100 TB lens):
* every stage is a key-partitioned aggregation or equi-join — no
  broadcast of the vertex set, no driver-side state;
* per-round `localCheckpoint` truncates lineage so the loop does not
  accumulate a plan of depth O(rounds) (iterative-algorithm discipline;
  the checkpoint is also what makes the convergence-test action cheap);
* convergence is an exact set comparison, not a hash fingerprint — no
  probabilistic early stop. Both edge sets are DISTINCT canonical
  (min,max) sets, so set equality reduces to ``|after| == |before|``
  plus ``after ANTI JOIN before`` being empty: the two counts are
  metadata-cheap scans of already-checkpointed data, and the single
  LEFT ANTI join (with ``limit(1)``) replaces the two full
  ``exceptAll`` shuffles the r3 version ran per round — at
  corpus-scale edge counts that check roughly doubled per-round cost.

Reference parity: the reference resolves entity dependencies with an
id-tracker bitset (/root/reference/id_tracker.go:60) but has no
clustering surface; this operator exists for the dedup families the graft
adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bfs_hops",
    "bfs_hops_sql",
    "clustering_coefficients",
    "clustering_coefficients_sql",
    "connected_components",
    "link_prediction",
    "link_prediction_sql",
    "pagerank",
    "pagerank_sql",
    "triangle_count",
    "triangle_count_sql",
]


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach every strictly-larger neighbor to
    min(N(u) ∪ {u}). Orientation-free (works on the undirected view)."""
    undirected = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nbrs = undirected.groupBy("u").agg(
        F.collect_set("v").alias("ns"), F.min("v").alias("mn")
    )
    m = F.least(F.col("u"), F.col("mn"))
    return (
        nbrs.select(
            F.explode(F.filter("ns", lambda v: v > F.col("u"))).alias("u"),
            m.alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge toward the smaller endpoint, then for each node
    u: attach every (smaller-or-equal) neighbor and u itself to
    min(N(u) ∪ {u})."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    nbrs = oriented.groupBy("u").agg(
        F.collect_set("v").alias("ns"), F.min("v").alias("mn")
    )
    m = F.least(F.col("u"), F.col("mn"))
    return (
        nbrs.select(
            F.explode(F.array_append("ns", F.col("u"))).alias("n"),
            m.alias("v"),
        )
        .where(F.col("n") != F.col("v"))
        .select(F.col("n").alias("u"), "v")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster assignment from an undirected pair table.

    Returns one row per node that appears in ``pairs``:
    ``(id, component)`` with ``component`` = the minimum node id in the
    node's connected component (a deterministic canonical representative,
    so downstream "keep one doc per cluster" is reproducible).

    Nodes with no pair (singletons) are absent — callers left-join and
    ``coalesce(component, id)``, which keeps this operator linear in the
    *pair* count, not the corpus size.
    """
    edges = (
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    n_before = edges.count()
    for _ in range(max_iter):
        # only the round RESULT is checkpointed: the large-star
        # intermediate is consumed exactly once by small-star within the
        # same round, so its eager checkpoint job (one per round) bought
        # nothing — lineage between round boundaries stays two
        # aggregations deep either way
        grown = _large_star(edges)
        shrunk = _small_star(grown).localCheckpoint()
        # converged iff the oriented edge set is a fixpoint: compare as
        # canonical (min, max) sets — exact, not a hash fingerprint.
        # Both sides are DISTINCT sets, so equality == (same count AND
        # after \ before empty): one cheap count on the freshly
        # checkpointed set plus ONE anti-join probe (the previous
        # round's count is carried over, so the old set is never
        # re-scanned) — vs the two full exceptAll shuffles this check
        # used to cost per round.
        before = edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        after = shrunk.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        n_after = shrunk.count()
        changed = n_after != n_before or bool(
            after.join(before, ["u", "v"], "left_anti").limit(1).count()
        )
        edges, n_before = shrunk, n_after
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # post-condition (loud, cheap — the edge set at convergence is tiny
    # relative to the input): the fixpoint must be a union of stars, i.e.
    # no root is also a member (no 2-level chains) and every member has
    # exactly one root. Guards against a hypothetical non-star fixpoint of
    # the alternation ever silently producing wrong clusters.
    two_level = edges.join(
        edges.select(F.col("u").alias("v")).distinct(), "v", "left_semi"
    )
    multi_root = edges.groupBy("u").count().where(F.col("count") > 1)
    # ONE probe job for both invariants (was two)
    violation = (
        two_level.select(F.lit(1).alias("x"))
        .unionByName(multi_root.select(F.lit(1).alias("x")))
        .limit(1)
    )
    if violation.count():
        raise AssertionError(
            "connected_components converged to a non-star edge set"
        )
    # fixpoint of small-star = stars rooted at each component's min id:
    # every edge is (member, root). Members point at the root; the root
    # itself appears only on the v side, so add its self-assignment.
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
    return members.unionByName(roots).distinct()


# ---------------------------------------------------------------------------
# fixed-iteration PageRank (host-graph centrality)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table → ``(id, pr)``.

    The host-graph ranking step of a web-corpus pipeline (Common-Crawl
    publishes exactly this as its harmonic/centrality host ranks):
    quality-weight domains by link structure before sampling. Fixed
    ``iters`` power iterations of the standard law

        pr'(v) = (1-d)/N + d * (sum_{u->v} pr(u)/outdeg(u) + dangling/N)

    with dangling mass (nodes with no out-edges) redistributed
    uniformly. Multi-edges count: outdeg is the edge count and each
    parallel edge contributes — callers wanting the simple-graph law
    pass a distinct edge table. Fixed iteration count (not a
    convergence epsilon) keeps the result a pure function of the input
    — reruns and the unrolled-CTE DuckDB twin agree to float-sum
    reassociation (oracles compare at round(pr, 9)).

    Plan shape (100 TB lens): per round one equi-join edges⋈ranks on
    src (broadcastable when ranks—i.e. the HOST table—is small, which
    it is: hosts ~1e8 vs pages ~1e12) + one hash agg on dst; the
    dangling term is a 1-row agg CROSS-joined back (broadcast nested
    loop of one row — never a driver collect). ``localCheckpoint`` per
    round truncates the iterative lineage like connected_components.
    Reference parity: none — the reference has no graph surface; this
    belongs to the graft's web-pipeline family.
    """
    if weight is not None:
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = float(nodes.count())
    if weight is not None:
        # weighted law: a node splits its rank proportionally to edge
        # weight (pr·w/Σw) — integer weights, one division per edge in
        # the same textual order as the SQL twin
        deg = e.groupBy("src").agg(F.sum("w").alias("outdeg")).localCheckpoint()
    else:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint()
    base = (1.0 - float(damping)) / n
    ranks = nodes.select("id", F.lit(1.0 / n).alias("pr"))
    for _ in range(int(iters)):
        share = (
            F.col("pr") * F.col("w").cast("double") / F.col("outdeg").cast("double")
            if weight is not None
            else F.col("pr") / F.col("outdeg").cast("double")
        )
        contrib = (
            e.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(share).alias("contrib"))
        )
        dang = ranks.join(
            deg.select(F.col("src").alias("id")), "id", "left_anti"
        ).agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass"))
        ranks = (
            nodes.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit(base)
                    + F.lit(float(damping))
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / F.lit(n)
                    )
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank_sql(
    edges_sql: str,
    iters: int = 5,
    damping: float = 0.85,
    weighted: bool = False,
) -> str:
    """DuckDB twin of :func:`pagerank`: the same law with the iteration
    loop UNROLLED into one CTE pair per round (c{t}: in-contributions,
    g{t}: dangling mass, r{t}: new ranks). Every float op mirrors the
    engine's op sequence (literals cast to DOUBLE so DuckDB's decimal
    arithmetic never enters); sums reassociate, so consumers compare at
    round(pr, 9). ``edges_sql`` must yield ``(src, dst)`` — plus ``w``
    (integer) when ``weighted``."""
    d_lit = f"CAST({float(damping)!r} AS DOUBLE)"
    n_lit = "(SELECT CAST(count(*) AS DOUBLE) FROM pr_nodes)"
    deg_expr = "sum(w)" if weighted else "count(*)"
    share = (
        "r.pr * CAST(e.w AS DOUBLE) / CAST(d.outdeg AS DOUBLE)"
        if weighted
        else "r.pr / CAST(d.outdeg AS DOUBLE)"
    )
    parts = [
        f"WITH pr_edges AS MATERIALIZED ({edges_sql})",
        "pr_nodes AS MATERIALIZED (SELECT src AS id FROM pr_edges "
        "UNION SELECT dst FROM pr_edges)",
        f"pr_deg AS MATERIALIZED (SELECT src AS id, {deg_expr} AS outdeg "
        "FROM pr_edges GROUP BY src)",
        f"pr_r0 AS (SELECT id, CAST(1 AS DOUBLE) / {n_lit} AS pr FROM pr_nodes)",
    ]
    for t in range(1, int(iters) + 1):
        p = t - 1
        parts.append(
            f"pr_c{t} AS (SELECT e.dst AS id, "
            f"sum({share}) AS contrib "
            f"FROM pr_edges e JOIN pr_r{p} r ON r.id = e.src "
            "JOIN pr_deg d ON d.id = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"pr_g{t} AS (SELECT coalesce(sum(r.pr), CAST(0 AS DOUBLE)) AS dmass "
            f"FROM pr_r{p} r LEFT JOIN pr_deg d ON d.id = r.id WHERE d.id IS NULL)"
        )
        parts.append(
            f"pr_r{t} AS (SELECT n.id, "
            f"(CAST(1 AS DOUBLE) - {d_lit}) / {n_lit} "
            f"+ {d_lit} * (coalesce(c.contrib, CAST(0 AS DOUBLE)) "
            f"+ g.dmass / {n_lit}) AS pr "
            f"FROM pr_nodes n LEFT JOIN pr_c{t} c ON c.id = n.id "
            f"CROSS JOIN pr_g{t} g)"
        )
    return ",\n".join(parts) + f"\nSELECT id, pr FROM pr_r{int(iters)}"


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: restart mass concentrates on ``seeds``
    (one ``id`` column) instead of spreading uniformly → ``(id, pr)``.

        pr'(v) = (1-d)·s(v) + d·(Σ_{u→v} pr(u)/outdeg(u) + dangling·s(v))

    with s(v) = 1/|S| on seeds, 0 elsewhere, pr₀ = s. The related-
    entity / topic-sensitive ranking primitive ("pages relevant to
    THESE trusted hosts", "places reachable from this neighborhood"):
    rank decays with graph distance from the seed set, so far-away mass
    vanishes instead of being propped up by the uniform restart.

    Plan shape: identical to :func:`pagerank` (per round one edge⋈rank
    join + one dst agg + a 1-row dangling broadcast), plus a broadcast-
    able seed indicator joined once up front. Fixed iterations keep it
    a pure function; the DuckDB twin unrolls the rounds, consumers
    compare at round(pr, 9) (float sums reassociate).
    """
    e = edges.select(F.col("src"), F.col("dst"))
    sd = seeds.select(F.col("id")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .unionByName(sd)
        .distinct()
        .localCheckpoint()
    )
    s_cnt = float(sd.count())
    if s_cnt == 0:
        raise ValueError("personalized_pagerank: empty seed set")
    sv = nodes.join(
        sd.withColumn("_is_seed", F.lit(True)), "id", "left"
    ).select(
        "id",
        F.when(F.col("_is_seed"), F.lit(1.0) / F.lit(s_cnt))
        .otherwise(F.lit(0.0))
        .alias("sv"),
    ).localCheckpoint()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint()
    ranks = sv.select("id", F.col("sv").alias("pr"))
    for _ in range(int(iters)):
        contrib = (
            e.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("outdeg").cast("double")).alias("contrib"))
        )
        dang = ranks.join(
            deg.select(F.col("src").alias("id")), "id", "left_anti"
        ).agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass"))
        ranks = (
            sv.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    (F.lit(1.0) - F.lit(float(damping))) * F.col("sv")
                    + F.lit(float(damping))
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") * F.col("sv")
                    )
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks


def personalized_pagerank_sql(
    edges_sql: str,
    seeds_sql: str,
    iters: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of :func:`personalized_pagerank` — same law, rounds
    unrolled; ``seeds_sql`` yields one ``id`` column."""
    d_lit = f"CAST({float(damping)!r} AS DOUBLE)"
    s_lit = "(SELECT CAST(count(*) AS DOUBLE) FROM ppr_seeds)"
    parts = [
        f"WITH ppr_edges AS MATERIALIZED ({edges_sql})",
        f"ppr_seeds AS MATERIALIZED (SELECT DISTINCT id FROM ({seeds_sql}))",
        "ppr_nodes AS MATERIALIZED (SELECT src AS id FROM ppr_edges "
        "UNION SELECT dst FROM ppr_edges UNION SELECT id FROM ppr_seeds)",
        "ppr_deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg "
        "FROM ppr_edges GROUP BY src)",
        f"ppr_sv AS MATERIALIZED (SELECT n.id, "
        f"CASE WHEN s.id IS NOT NULL THEN CAST(1 AS DOUBLE) / {s_lit} "
        "ELSE CAST(0 AS DOUBLE) END AS sv "
        "FROM ppr_nodes n LEFT JOIN ppr_seeds s ON s.id = n.id)",
        "ppr_r0 AS (SELECT id, sv AS pr FROM ppr_sv)",
    ]
    for t in range(1, int(iters) + 1):
        p = t - 1
        parts.append(
            f"ppr_c{t} AS (SELECT e.dst AS id, "
            "sum(r.pr / CAST(d.outdeg AS DOUBLE)) AS contrib "
            f"FROM ppr_edges e JOIN ppr_r{p} r ON r.id = e.src "
            "JOIN ppr_deg d ON d.id = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"ppr_g{t} AS (SELECT coalesce(sum(r.pr), CAST(0 AS DOUBLE)) AS dmass "
            f"FROM ppr_r{p} r LEFT JOIN ppr_deg d ON d.id = r.id WHERE d.id IS NULL)"
        )
        parts.append(
            f"ppr_r{t} AS (SELECT v.id, "
            f"(CAST(1 AS DOUBLE) - {d_lit}) * v.sv "
            f"+ {d_lit} * (coalesce(c.contrib, CAST(0 AS DOUBLE)) "
            "+ g.dmass * v.sv) AS pr "
            f"FROM ppr_sv v LEFT JOIN ppr_c{t} c ON c.id = v.id "
            f"CROSS JOIN ppr_g{t} g)"
        )
    return ",\n".join(parts) + f"\nSELECT id, pr FROM ppr_r{int(iters)}"


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count over an undirected pair table →
    one row ``(n_triangles)``.

    The clustering-coefficient / community-density primitive for the
    graphs this engine already builds (co-location contact graphs,
    near-dup pair graphs, host link graphs): triangles measure how
    clique-like the pair structure is — the standard signal separating
    organic communities from hub-and-spoke link spam.

    Algorithm: degree-oriented wedge counting (the MapReduce classic —
    Suri & Vassilvitskii, WWW'11). Edges canonicalize to distinct
    undirected (a, b) pairs (self-loops dropped); each edge orients
    from its LOWER endpoint to its HIGHER endpoint under the total
    order (degree, id). Every triangle then has exactly one apex with
    out-edges to both other vertices, so wedges (apex; w1 < w2 by id)
    joined against the canonical edge set count each triangle once.

    Why degree orientation matters at 100 TB: wedge count is
    Σ outdeg(v)², and orienting towards higher degree bounds every
    out-degree by O(√m) — a 50M-follower hub vertex generates ZERO
    wedges as an apex (all its edges point IN), instead of 1.25e15
    candidate pairs under naive id orientation. All stages are
    distinct/groupBy/equi-joins on vertex keys; integer-only, so the
    DuckDB twin matches exactly.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("w1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("w2"))
    wedges = o1.join(o2, "u").where(F.col("w1") < F.col("w2"))
    closed = wedges.join(
        e,
        (F.col("a") == F.least("w1", "w2")) & (F.col("b") == F.greatest("w1", "w2")),
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def triangle_count_sql(edges_sql: str) -> str:
    """DuckDB twin — identical canonicalize / degree-orient / wedge /
    close law (``edges_sql`` must yield ``(src, dst)``)."""
    return f"""WITH tc_raw AS ({edges_sql}),
tc_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM tc_raw WHERE least(src, dst) < greatest(src, dst)
),
tc_deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM tc_e UNION ALL SELECT b FROM tc_e
  ) GROUP BY v
),
tc_or AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS w
  FROM tc_e e JOIN tc_deg da ON da.v = e.a JOIN tc_deg db ON db.v = e.b
),
tc_wedge AS (
  SELECT o1.w AS w1, o2.w AS w2
  FROM tc_or o1 JOIN tc_or o2 ON o1.u = o2.u AND o1.w < o2.w
)
SELECT count(*) AS n_triangles
FROM tc_wedge wg
WHERE EXISTS (SELECT 1 FROM tc_e e
              WHERE e.a = least(wg.w1, wg.w2)
                AND e.b = greatest(wg.w1, wg.w2))"""


# ---------------------------------------------------------------------------
# BFS hop distance (unweighted single/multi-source shortest path)
# ---------------------------------------------------------------------------


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_hops: int = 10,
    undirected: bool = True,
) -> DataFrame:
    """Hop distance from a seed set — unweighted multi-source BFS, the
    iterative-graph primitive next to :func:`connected_components` (which
    answers *whether* nodes connect, never *how far*).

    Each round is two equi-joins: frontier ⨝ edges (expand) and an
    anti-join against the visited set (prune) — so round ``h`` shuffles
    O(frontier_h × avg_degree) rows, never the whole graph, and the state
    carried across rounds is one ``(id, hops)`` row per *reached* node.
    ``localCheckpoint`` per round truncates lineage (the standard guard for
    iterative plans — without it round ``h`` re-plans all ``h-1``
    predecessors). Rounds stop early when a frontier empties; ``max_hops``
    bounds the walk on graphs with long chains.

    Determinism: hop distance is a pure graph property (min #edges), so no
    tie-breaks are needed — every schedule produces the same ``(id, hops)``
    set. Returns one row per reached node: ``(id, hops)``, seeds at 0.

    100 TB lens: per-round cost tracks the frontier, not the graph; the
    visited set is the only monotone state (same O(reached) bound as the
    CC star table). Degree skew lands in the expand join's build side —
    AQE skew-join splits a hub's partition like any other hot key.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    if undirected:
        e = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
    e = e.localCheckpoint()

    seed_col = seeds.columns[0]
    visited = (
        seeds.select(F.col(seed_col).cast("long").alias("id"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited.select("id")
    for h in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["u"], "inner")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint()
        )
        if not nxt.limit(1).count():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt.select("id")
    return visited


def bfs_hops_sql(
    edges_sql: str, seeds_sql: str, max_hops: int = 10, undirected: bool = True
) -> str:
    """DuckDB twin of :func:`bfs_hops` — a recursive CTE over the same
    edge set. ``UNION`` (set semantics) bounds the recursion: every
    ``(id, hops)`` pair with hops <= max_hops appears at most once, and
    ``min(hops)`` per id is exactly the BFS distance (any shortest path
    materializes one row per prefix). ``edges_sql`` must yield (u, v);
    ``seeds_sql`` must yield one column ``id``."""
    sym = (
        "SELECT u, v FROM bfs_e0 UNION SELECT v, u FROM bfs_e0"
        if undirected
        else "SELECT u, v FROM bfs_e0"
    )
    return f"""WITH RECURSIVE bfs_e0 AS MATERIALIZED (
  SELECT u, v FROM ({edges_sql}) WHERE u <> v
),
bfs_e AS MATERIALIZED ({sym}),
bfs_reach AS (
  SELECT id, 0 AS hops FROM ({seeds_sql})
  UNION
  SELECT e.v AS id, r.hops + 1 AS hops
  FROM bfs_reach r JOIN bfs_e e ON e.u = r.id
  WHERE r.hops < {int(max_hops)}
)
SELECT id, MIN(hops) AS hops FROM bfs_reach GROUP BY id"""


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 20,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node keeps
    degree >= k — the standard spam/bot-farm density filter on a web host
    graph (a k-core of interlinked hosts survives any order of low-degree
    peeling) and the densest-region seed for community mining.

    Peeling rounds: drop every node whose CURRENT degree < k, restrict
    the edge set to surviving endpoints, repeat to fixpoint. Each round
    is one degree aggregation + two semi-joins — all key-partitioned, no
    broadcast of the vertex set; per-round ``localCheckpoint`` truncates
    lineage (iterative-plan discipline, same as connected_components).
    The edge set shrinks monotonically, so rounds get cheaper; the loop
    raises if ``max_rounds`` was too small for the fixpoint (LOUD — a
    truncated peel would silently return a supergraph of the core).

    Returns ``(id, degree)`` for k-core members (degree = within-core).

    Determinism: the k-core is unique (peeling order never matters), so
    any schedule yields the same node set.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    for _ in range(int(max_rounds)):
        deg = (
            e.select(F.col("u").alias("id"))
            .unionAll(e.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.where(F.col("degree") >= F.lit(int(k))).select("id")
        e2 = (
            e.join(keep.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("id", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
        n2 = e2.count()
        if n2 == n_edges:
            return deg.where(F.col("degree") >= F.lit(int(k)))
        e, n_edges = e2, n2
        if n_edges == 0:
            return e.select(
                F.col("u").alias("id"), F.lit(0).cast("long").alias("degree")
            ).limit(0)
    raise RuntimeError(f"kcore did not reach fixpoint in {max_rounds} rounds")


def kcore_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB twin of :func:`kcore` with the peel UNROLLED to ``rounds``
    CTE pairs (the engine asserts fixpoint dynamically; the oracle
    unrolls far enough that the last round is a no-op — same law as the
    unrolled PageRank twin). ``edges_sql`` must yield (u, v).

    Every per-round CTE is MATERIALIZED: each round references the
    previous edge set three times (directly + twice through the degree
    CTE), so DuckDB's default CTE inlining would expand the plan ~3^rounds
    copies of the base scan — observed as a ~100 GB memory blow-up at 12
    rounds. Materialization bounds the oracle linearly in ``rounds``."""
    parts = [
        f"""WITH kc_e0 AS MATERIALIZED (
  SELECT least(u, v) AS u, greatest(u, v) AS v
  FROM ({edges_sql}) WHERE u <> v GROUP BY 1, 2
)"""
    ]
    prev = "kc_e0"
    for t in range(1, int(rounds) + 1):
        parts.append(
            f"""kc_d{t} AS MATERIALIZED (
  SELECT id, count(*) AS degree FROM (
    SELECT u AS id FROM {prev} UNION ALL SELECT v FROM {prev}
  ) GROUP BY id
)"""
        )
        parts.append(
            f"""kc_e{t} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN kc_d{t} a ON a.id = e.u AND a.degree >= {int(k)}
  JOIN kc_d{t} b ON b.id = e.v AND b.degree >= {int(k)}
)"""
        )
        prev = f"kc_e{t}"
    r = int(rounds)
    return (
        ",\n".join(parts)
        + f"""
SELECT id, degree FROM (
  SELECT id, count(*) AS degree FROM (
    SELECT u AS id FROM kc_e{r} UNION ALL SELECT v FROM kc_e{r}
  ) GROUP BY id
) WHERE degree >= {int(k)}"""
    )


# ---------------------------------------------------------------------------
# weighted single-source shortest paths (frontier Bellman-Ford)
# ---------------------------------------------------------------------------


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    max_rounds: int = 20,
    undirected: bool = True,
) -> DataFrame:
    """Weighted shortest-path distance from a seed set — the cost-aware
    sibling of :func:`bfs_hops` (hop counts answer reachability depth;
    link-cost distance answers routing/centrality questions: latency from
    the crawler's edge POPs over a host graph, travel cost over a road
    graph).

    Frontier Bellman-Ford: each round relaxes only edges leaving nodes
    IMPROVED in the previous round (expand ⨝ → min-agg per target →
    anti/compare against the settled table), so round cost tracks the
    improving frontier, never the whole graph; the carried state is one
    ``(id, dist)`` row per reached node. Per-round ``localCheckpoint``
    truncates lineage (iterative-plan discipline). Weights must be
    non-negative integers (checked LOUDLY — one ``limit(1)`` probe at
    build): integer sums and mins are exact in both engines, so the
    result is schedule-independent and twinnable bit-for-bit. Parallel
    edges collapse to their min weight up front.

    Raises if the fixpoint is not reached within ``max_rounds`` — a
    truncated relax would silently return upper bounds, not distances.

    Returns one row per reached node: ``(id, dist)``, seeds at 0.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(weight).cast("long").alias("w"),
    ).where(F.col("u") != F.col("v"))
    if e.where(F.col("w") < 0).limit(1).count():
        raise ValueError("sssp requires non-negative edge weights")
    if undirected:
        e = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
    e = e.groupBy("u", "v").agg(F.min("w").alias("w")).localCheckpoint()

    seed_col = seeds.columns[0]
    dist = (
        seeds.select(F.col(seed_col).cast("long").alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    frontier = dist
    for _ in range(int(max_rounds)):
        cand = (
            frontier.join(e, frontier["id"] == e["u"], "inner")
            .select(
                F.col("v").alias("id"),
                (frontier["dist"] + F.col("w")).alias("d"),
            )
            .groupBy("id")
            .agg(F.min("d").alias("d"))
        )
        improved = (
            cand.join(dist, "id", "left")
            .where(F.col("dist").isNull() | (F.col("d") < F.col("dist")))
            .select("id", F.col("d").alias("dist"))
            .localCheckpoint()
        )
        if not improved.limit(1).count():
            return dist
        dist = (
            dist.join(improved.select("id"), "id", "left_anti")
            .unionByName(improved)
            .localCheckpoint()
        )
        frontier = dist.join(improved.select("id"), "id", "left_semi")
    raise RuntimeError(f"sssp did not reach fixpoint in {max_rounds} rounds")


def sssp_sql(
    edges_sql: str,
    seeds_sql: str,
    max_rounds: int = 20,
    undirected: bool = True,
) -> str:
    """DuckDB twin of :func:`sssp` — a recursive CTE enumerating
    ``(node, path-cost, hop-count)`` prefixes, bounded by ``hops <
    max_rounds`` (``UNION`` set semantics dedups identical triples), then
    ``min(dist)`` per node: exactly Bellman-Ford truncated at
    ``max_rounds`` relaxation rounds — the engine raises unless its
    fixpoint landed within the same bound, so both compute the same
    distances. ``edges_sql`` must yield (u, v, w); ``seeds_sql`` one
    column ``id``."""
    sym = (
        "SELECT u, v, w FROM sp_e0 UNION SELECT v, u, w FROM sp_e0"
        if undirected
        else "SELECT u, v, w FROM sp_e0"
    )
    return f"""WITH RECURSIVE sp_e0 AS MATERIALIZED (
  SELECT u, v, CAST(w AS BIGINT) AS w FROM ({edges_sql}) WHERE u <> v
),
sp_e AS MATERIALIZED (
  SELECT u, v, MIN(w) AS w FROM ({sym}) GROUP BY u, v
),
sp_reach AS (
  SELECT id, CAST(0 AS BIGINT) AS dist, 0 AS hops FROM ({seeds_sql})
  UNION
  SELECT e.v AS id, r.dist + e.w AS dist, r.hops + 1 AS hops
  FROM sp_reach r JOIN sp_e e ON e.u = r.id
  WHERE r.hops < {int(max_rounds)}
)
SELECT id, MIN(dist) AS dist FROM sp_reach GROUP BY id"""


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient
# ---------------------------------------------------------------------------


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per vertex → ``(v, d, tri, lcc)``,
    one row per vertex with degree ≥ 2, ordered by ``v``.

    The per-node refinement of :func:`triangle_count`: ``lcc(v) =
    2·tri(v) / (d(v)·(d(v)−1))`` — the fraction of a vertex's neighbor
    pairs that are themselves connected. On the graphs this engine
    builds it separates tight communities (co-location cliques, mirror
    near-dup clusters: lcc → 1) from hub-and-spoke structure (link hubs,
    spam stars: lcc → 0) vertex by vertex, where the global triangle
    count only gives one corpus-wide number.

    Same degree-oriented wedge-close plan as :func:`triangle_count`
    (Suri & Vassilvitskii, WWW'11) — each triangle is materialized
    exactly once at its unique apex, then credited to all three of its
    vertices (explode ×3, a constant fan-out), so hub vertices still
    generate zero apex wedges and the wedge stage stays O(m^{3/2})
    overall. All integer counts until the single terminal division, so
    the DuckDB twin matches bit-for-bit.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = e.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("w1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("w2"))
    wedges = o1.join(o2, "u").where(F.col("w1") < F.col("w2"))
    triangles = wedges.join(
        e,
        (F.col("a") == F.least("w1", "w2"))
        & (F.col("b") == F.greatest("w1", "w2")),
        "inner",
    ).select("u", "w1", "w2")
    tri = (
        triangles.select(
            F.explode(F.array(F.col("u"), F.col("w1"), F.col("w2"))).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return (
        deg.where(F.col("d") >= 2)
        .join(tri, "v", "left")
        .select(
            "v",
            "d",
            F.coalesce(F.col("tri"), F.lit(0)).alias("tri"),
            (
                F.lit(2.0)
                * F.coalesce(F.col("tri"), F.lit(0)).cast("double")
                / (F.col("d") * (F.col("d") - F.lit(1))).cast("double")
            ).alias("lcc"),
        )
        .orderBy("v")
    )


def clustering_coefficients_sql(edges_sql: str) -> str:
    """DuckDB twin — identical orient / close / credit-×3 / divide law
    (``edges_sql`` must yield ``(src, dst)``)."""
    return f"""WITH cc_raw AS ({edges_sql}),
cc_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM cc_raw WHERE least(src, dst) < greatest(src, dst)
),
cc_deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM cc_e UNION ALL SELECT b FROM cc_e
  ) GROUP BY v
),
cc_or AS (
  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS w
  FROM cc_e e JOIN cc_deg da ON da.v = e.a JOIN cc_deg db ON db.v = e.b
),
cc_tris AS (
  SELECT o1.u AS u, o1.w AS w1, o2.w AS w2
  FROM cc_or o1 JOIN cc_or o2 ON o1.u = o2.u AND o1.w < o2.w
  WHERE EXISTS (SELECT 1 FROM cc_e e
                WHERE e.a = least(o1.w, o2.w) AND e.b = greatest(o1.w, o2.w))
),
cc_tri AS (
  SELECT v, count(*) AS tri FROM (
    SELECT u AS v FROM cc_tris
    UNION ALL SELECT w1 FROM cc_tris
    UNION ALL SELECT w2 FROM cc_tris
  ) GROUP BY v
)
SELECT d.v AS v, d.d AS d, coalesce(t.tri, 0) AS tri,
       2.0 * CAST(coalesce(t.tri, 0) AS DOUBLE)
           / CAST(d.d * (d.d - 1) AS DOUBLE) AS lcc
FROM cc_deg d LEFT JOIN cc_tri t ON t.v = d.v
WHERE d.d >= 2
ORDER BY v"""


# ---------------------------------------------------------------------------
# Common-neighbor / Jaccard link prediction
# ---------------------------------------------------------------------------


def link_prediction(
    edges: DataFrame,
    k: int = 15,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction → the ``k`` highest-scoring
    NON-adjacent vertex pairs ``(w1, w2, cn, jaccard)``, ranked by
    common-neighbor count (ties → pair id).

    The classic "who should be connected" primitive (Liben-Nowell &
    Kleinberg, CIKM'03) over the pair graphs this engine builds:
    near-dup clusters missing an edge the LSH bands happened to drop,
    co-location contacts one hop apart, host pairs sharing many
    out-links. ``jaccard = cn / (d1 + d2 − cn)`` normalizes away
    degree.

    Plan: undirected adjacency (both orientations of the canonical
    edge set) self-joined on the shared neighbor → per-pair count is
    EXACTLY |N(w1) ∩ N(w2)|; existing edges removed with one LEFT ANTI
    join; degrees re-joined for the Jaccard denominator. Integer-only
    until the terminal division.

    Scale: the wedge stage is Σ d(u)² over shared-neighbor apexes — a
    50M-degree hub makes this explode, so unlike the triangle plan
    (which orients away from hubs) this op takes a loud guard:
    ``max_degree`` rides the adjacency scan as an ``assert_true`` and
    fails the job rather than silently fanning out. Callers feed
    degree-bounded graphs (the co-location builder caps groups at
    ``max_group``) or pre-filter hubs explicitly.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("w")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    if max_degree is not None:
        guard = F.assert_true(
            F.col("d") <= F.lit(int(max_degree)),
            F.concat(
                F.lit("link_prediction: vertex degree exceeds max_degree="),
                F.lit(str(int(max_degree))),
            ),
        ).isNull()
        # nondeterministic disjunct keeps the optimizer from folding the
        # always-true filter away (same rider idiom as segments.py)
        deg = deg.where(guard | (F.rand() < F.lit(-1.0)))
    o1 = adj.select(F.col("u"), F.col("w").alias("w1"))
    o2 = adj.select(F.col("u"), F.col("w").alias("w2"))
    cn = (
        o1.join(o2, "u")
        .where(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    open_pairs = cn.join(
        e,
        (F.col("a") == F.col("w1")) & (F.col("b") == F.col("w2")),
        "left_anti",
    )
    scored = (
        open_pairs.join(
            deg.select(F.col("u").alias("w1"), F.col("d").alias("d1")), "w1"
        )
        .join(deg.select(F.col("u").alias("w2"), F.col("d").alias("d2")), "w2")
        .select(
            "w1",
            "w2",
            "cn",
            (
                F.col("cn").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("cn"), "w1", "w2").limit(int(k))


def link_prediction_sql(edges_sql: str, k: int = 15) -> str:
    """DuckDB twin — identical adjacency / count / anti / divide law."""
    return f"""WITH lp_raw AS ({edges_sql}),
lp_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM lp_raw WHERE least(src, dst) < greatest(src, dst)
),
lp_adj AS (
  SELECT a AS u, b AS w FROM lp_e UNION ALL SELECT b, a FROM lp_e
),
lp_deg AS (SELECT u, count(*) AS d FROM lp_adj GROUP BY u),
lp_cn AS (
  SELECT o1.w AS w1, o2.w AS w2, count(*) AS cn
  FROM lp_adj o1 JOIN lp_adj o2 ON o1.u = o2.u AND o1.w < o2.w
  GROUP BY o1.w, o2.w
),
lp_open AS (
  SELECT * FROM lp_cn c
  WHERE NOT EXISTS (SELECT 1 FROM lp_e e WHERE e.a = c.w1 AND e.b = c.w2)
)
SELECT o.w1 AS w1, o.w2 AS w2, o.cn AS cn,
       CAST(o.cn AS DOUBLE) / CAST(d1.d + d2.d - o.cn AS DOUBLE) AS jaccard
FROM lp_open o
JOIN lp_deg d1 ON d1.u = o.w1
JOIN lp_deg d2 ON d2.u = o.w2
ORDER BY cn DESC, w1, w2
LIMIT {int(k)}"""


# ---------------------------------------------------------------------------
# Seed-pinned label propagation (semi-supervised, frozen-once-assigned)
# ---------------------------------------------------------------------------


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Semi-supervised label spread from a seed set → ``(id, label,
    round)`` for every vertex reached within ``rounds`` synchronous
    hops (``round`` = the hop at which the label froze; seeds are 0).

    The classify-the-rest primitive for the engine's pair graphs: a few
    hand-labeled hosts (spam / ham), co-location contacts of known
    devices, near-dup clusters with one audited member — propagate to
    the neighborhood without training a model.

    Law (everything a tie could touch is pinned): labels FREEZE once
    assigned (seeds never change); each round, every unlabeled vertex
    with ≥ 1 labeled neighbor takes the label with the highest neighbor
    count, ties broken by SMALLEST label id. Frozen propagation is
    monotone — after R rounds the output is exactly the R-hop BFS
    closure under that vote law, which the DuckDB twin unrolls
    round-by-round as plain CTEs: bit-identical, no convergence
    heuristics.

    Scale shape: per round one equi-join (frontier adjacency ⨝ labeled)
    + one (vertex, label) count agg + one per-vertex argmin/argmax —
    all key-partitioned; per-round ``localCheckpoint`` truncates
    lineage. Votes come only from vertices labeled in EARLIER rounds,
    so each round's join probes the cumulative label table — the
    frontier optimization (join only last round's additions) changes
    votes, so it is deliberately NOT taken: vote-from-all-labeled is
    the defined semantics.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("w")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("w"))
    ).localCheckpoint()
    lab = seeds.select(
        F.col("id").cast("long").alias("id"),
        F.col("label").cast("long").alias("label"),
        F.lit(0).alias("round"),
    ).localCheckpoint()
    for r in range(1, int(rounds) + 1):
        votes = (
            adj.join(lab.select(F.col("id").alias("w"), "label"), "w")
            .join(lab.select(F.col("id").alias("u")), "u", "left_anti")
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        picked = (
            votes.groupBy("u")
            .agg(
                F.max_by(
                    F.col("label"), F.struct(F.col("n"), -F.col("label"))
                ).alias("label")
            )
            .select(
                F.col("u").alias("id"), "label", F.lit(r).alias("round")
            )
        )
        lab = lab.unionByName(picked).localCheckpoint()
    return lab


def label_propagation_sql(
    edges_sql: str, seeds_sql: str, rounds: int = 4
) -> str:
    """DuckDB twin — the identical vote law unrolled round by round
    (``edges_sql`` → ``(src, dst)``, ``seeds_sql`` → ``(id, label)``)."""
    parts = [
        f"""lp_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) WHERE src != dst
),
lp_adj AS MATERIALIZED (
  SELECT a AS u, b AS w FROM lp_e UNION ALL SELECT b, a FROM lp_e
),
lp_lab0 AS MATERIALIZED (
  SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label,
         0 AS round
  FROM ({seeds_sql})
)"""
    ]
    prev = "lp_lab0"
    for r in range(1, int(rounds) + 1):
        parts.append(
            f"""lp_new{r} AS (
  SELECT u AS id, label, {r} AS round FROM (
    SELECT v.u, v.label,
           row_number() OVER (PARTITION BY v.u
                              ORDER BY v.n DESC, v.label ASC) AS rk
    FROM (
      SELECT a.u, l.label, count(*) AS n
      FROM lp_adj a JOIN {prev} l ON l.id = a.w
      WHERE a.u NOT IN (SELECT id FROM {prev})
      GROUP BY a.u, l.label
    ) v
  ) WHERE rk = 1
),
lp_lab{r} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM lp_new{r}
)"""
        )
        prev = f"lp_lab{r}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, label, round FROM {prev}"
    )


# ---------------------------------------------------------------------------
# modularity of a vertex partition
# ---------------------------------------------------------------------------


def modularity(
    edges: DataFrame,
    assign: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity Q of a vertex partition → one row
    ``(n_edges, n_communities, modularity)``.

    The partition-quality gate for every community assignment this
    engine produces (connected components, label propagation, DBSCAN
    clusters as graph communities): Q compares within-community edge
    mass against the degree-preserving random expectation,

        Q = Σ_c [ m_c/m − (d_c / 2m)² ]
          = (4m·Σ_c m_c − Σ_c d_c²) / (4m²)

    where m = edge count, m_c = edges inside community c, d_c = total
    degree of c's vertices. The second form is the computed one: ALL
    integer until the single terminal division (the Moran's/ACF exact-
    moment discipline), accumulated as DECIMAL(38,0)/HUGEINT so a
    10^10-edge host graph cannot overflow. Unassigned vertices form
    implicit singleton communities (their d_c² still counts — dropping
    them would inflate Q).

    Input ``assign``: ``(id, community)``. Edges canonicalize to
    distinct undirected pairs, self-loops dropped (the law most
    community pipelines here emit; documented).

    Scale shape: two joins edge→assignment (key-partitioned), one
    degree agg, two small per-community aggs — no iteration, no
    broadcast of the vertex set.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    asg = assign.select(
        F.col("id").cast("long").alias("id"),
        F.col("community").cast("long").alias("community"),
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # implicit singleton for unassigned vertices: community = -id - 1
    # (disjoint from real labels, unique per vertex)
    vc = deg.join(asg, "id", "left").select(
        "id",
        "d",
        F.coalesce(F.col("community"), -F.col("id") - 1).alias("c"),
    )
    within = (
        e.join(vc.select(F.col("id").alias("a"), F.col("c").alias("ca")), "a")
        .join(vc.select(F.col("id").alias("b"), F.col("c").alias("cb")), "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("mc"))
    )
    per_c = (
        vc.groupBy("c")
        .agg(F.sum("d").alias("dc"))
        .join(within, "c", "left")
        .select(
            "c",
            F.coalesce(F.col("mc"), F.lit(0)).alias("mc"),
            "dc",
        )
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    sums = per_c.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(F.col("mc").cast("decimal(38,0)")).alias("sum_mc"),
        F.sum(
            F.col("dc").cast("decimal(19,0)") * F.col("dc").cast("decimal(19,0)")
        ).alias("sum_dc2"),
    )
    return sums.crossJoin(F.broadcast(m)).select(
        F.col("m").alias("n_edges"),
        "n_communities",
        F.when(
            F.col("m") > 0,
            (
                F.lit(4.0) * F.col("m").cast("double")
                * F.col("sum_mc").cast("double")
                - F.col("sum_dc2").cast("double")
            )
            / (
                F.lit(4.0)
                * F.col("m").cast("double")
                * F.col("m").cast("double")
            ),
        ).alias("modularity"),
    )


def modularity_sql(edges_sql: str, assign_sql: str) -> str:
    """DuckDB twin — identical canonical edges, singleton fill and
    integer moments (``assign_sql`` → ``(id, community)``)."""
    return f"""WITH md_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) WHERE least(src, dst) < greatest(src, dst)
),
md_asg AS (
  SELECT CAST(id AS BIGINT) AS id, CAST(community AS BIGINT) AS community
  FROM ({assign_sql})
),
md_deg AS (
  SELECT id, count(*) AS d FROM (
    SELECT a AS id FROM md_e UNION ALL SELECT b FROM md_e
  ) GROUP BY id
),
md_vc AS (
  SELECT g.id, g.d, coalesce(s.community, -g.id - 1) AS c
  FROM md_deg g LEFT JOIN md_asg s ON s.id = g.id
),
md_w AS (
  SELECT va.c, count(*) AS mc
  FROM md_e e
  JOIN md_vc va ON va.id = e.a
  JOIN md_vc vb ON vb.id = e.b
  WHERE va.c = vb.c
  GROUP BY va.c
),
md_pc AS (
  SELECT g.c, coalesce(w.mc, 0) AS mc, g.dc
  FROM (SELECT c, sum(d) AS dc FROM md_vc GROUP BY c) g
  LEFT JOIN md_w w ON w.c = g.c
),
md_m AS (SELECT count(*) AS m FROM md_e),
md_s AS (
  SELECT count(*) AS n_communities,
         sum(CAST(mc AS HUGEINT)) AS sum_mc,
         sum(CAST(dc AS HUGEINT) * dc) AS sum_dc2
  FROM md_pc
)
SELECT m AS n_edges, n_communities,
       CASE WHEN m > 0 THEN
         (4.0 * CAST(m AS DOUBLE) * CAST(sum_mc AS DOUBLE)
          - CAST(sum_dc2 AS DOUBLE))
         / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
       END AS modularity
FROM md_s, md_m"""


# ---------------------------------------------------------------------------
# degree assortativity
# ---------------------------------------------------------------------------


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient → one row ``(n_edges, r)``.

    Newman's r: the Pearson correlation of endpoint degrees over all
    edge ends — positive when hubs link hubs (social/collab graphs),
    negative for hub-and-spoke (the web's host graph, star-shaped spam).
    The one-number structural fingerprint that separates organic link
    neighborhoods from manufactured ones.

    Exact-moment law over the SYMMETRIZED edge-end list (each canonical
    undirected edge contributes (d_u,d_v) and (d_v,d_u) — the standard
    convention, making Σx = Σy by construction):

        r = (M·Σxy − Σx·Σy) / √(M·Σx² − (Σx)²) / √(M·Σy² − (Σy)²)

    with every Σ an exact DECIMAL(38,0)/HUGEINT integer; the two
    square roots and divisions are terminal, and IEEE sqrt is correctly
    rounded on both engines, so the double result is bit-identical.
    Degenerate regular graphs (zero variance) return NULL r.

    Scale: degree agg + two joins + one global agg — no iteration.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wd = e.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    ends = wd.select(
        F.col("da").alias("x"), F.col("db").alias("y")
    ).unionByName(wd.select(F.col("db").alias("x"), F.col("da").alias("y")))
    dec = lambda c: F.col(c).cast("decimal(19,0)")
    s = ends.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    m2d = F.col("m2").cast("double")
    num = m2d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    vx = m2d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vy = m2d * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return s.select(
        (F.col("m2") / F.lit(2)).cast("long").alias("n_edges"),
        F.when((vx > 0) & (vy > 0), num / F.sqrt(vx) / F.sqrt(vy)).alias("r"),
    )


def degree_assortativity_sql(edges_sql: str) -> str:
    """DuckDB twin — identical symmetrized ends and exact moments."""
    return f"""WITH as_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) WHERE least(src, dst) < greatest(src, dst)
),
as_d AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM as_e UNION ALL SELECT b FROM as_e
  ) GROUP BY v
),
as_w AS (
  SELECT da.d AS x, db.d AS y
  FROM as_e e JOIN as_d da ON da.v = e.a JOIN as_d db ON db.v = e.b
),
as_ends AS (
  SELECT x, y FROM as_w UNION ALL SELECT y, x FROM as_w
),
as_s AS (
  SELECT count(*) AS m2,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM as_ends
)
SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
       CASE WHEN (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
       THEN (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt(CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / sqrt(CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       END AS r
FROM as_s"""


# ---------------------------------------------------------------------------
# HITS (hubs & authorities, fixed-round power iteration)
# ---------------------------------------------------------------------------


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
) -> DataFrame:
    """Kleinberg HITS over a directed edge table → ``(id, hub,
    authority)``.

    PageRank's complement on a web host graph: authorities are pointed
    at by good hubs, hubs point at good authorities — the directory-vs-
    content split PageRank's single score conflates (link farms score
    as hubs, not authorities). Fixed ``iters`` rounds of

        a ← Aᵀh / max(Aᵀh);   h ← Aa / max(Aa)

    MAX-normalization instead of the textbook L2: the max is one
    comparison-based reduction (no sum-of-squares reassociation), and
    any positive scaling yields the same fixed-point direction.
    Duplicate edges are collapsed (DISTINCT — the simple-graph law).
    Like :func:`pagerank`, per-round sums reassociate between engines,
    so consumers compare at ``round(x, 9)``; the unrolled-CTE DuckDB
    twin mirrors every op.

    Plan shape: per round two edge⋈score equi-joins + hash aggs and a
    1-row max broadcast back — O(edges) shuffle rows per round, never a
    matrix; ``localCheckpoint`` truncates the iterative lineage.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    h = nodes.select("id", F.lit(1.0).alias("h"))
    a = None
    for _ in range(int(iters)):
        a_raw = (
            e.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").alias("a"))
        )
        a_max = a_raw.agg(F.max("a").alias("mx"))
        a = (
            nodes.join(a_raw, "id", "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "id",
                (F.coalesce(F.col("a"), F.lit(0.0)) / F.col("mx")).alias("a"),
            )
            .localCheckpoint()
        )
        h_raw = (
            e.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("h"))
        )
        h_max = h_raw.agg(F.max("h").alias("mx"))
        h = (
            nodes.join(h_raw, "id", "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "id",
                (F.coalesce(F.col("h"), F.lit(0.0)) / F.col("mx")).alias("h"),
            )
            .localCheckpoint()
        )
    return nodes.join(h, "id", "left").join(a, "id", "left").select(
        "id",
        F.col("h").alias("hub"),
        F.col("a").alias("authority"),
    )


def hits_sql(edges_sql: str, iters: int = 5) -> str:
    """DuckDB twin — the identical max-normalized rounds unrolled."""
    parts = [
        f"WITH ht_e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "ht_nodes AS MATERIALIZED (SELECT src AS id FROM ht_e "
        "UNION SELECT dst FROM ht_e)",
        "ht_h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS h FROM ht_nodes)",
    ]
    prev_h = "ht_h0"
    a_name = None
    for t in range(1, int(iters) + 1):
        # every round CTE is MATERIALIZED: each is referenced twice
        # (join + scalar max), and DuckDB's default inlining would
        # duplicate the whole prior chain per reference — exponential
        # in the round count
        parts.append(
            f"ht_ar{t} AS MATERIALIZED (SELECT e.dst AS id, sum(p.h) AS a "
            f"FROM ht_e e JOIN {prev_h} p ON p.id = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"ht_a{t} AS MATERIALIZED (SELECT n.id, "
            f"coalesce(r.a, CAST(0.0 AS DOUBLE)) "
            f"/ (SELECT max(a) FROM ht_ar{t}) AS a "
            f"FROM ht_nodes n LEFT JOIN ht_ar{t} r ON r.id = n.id)"
        )
        parts.append(
            f"ht_hr{t} AS MATERIALIZED (SELECT e.src AS id, sum(p.a) AS h "
            f"FROM ht_e e JOIN ht_a{t} p ON p.id = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"ht_h{t} AS MATERIALIZED (SELECT n.id, "
            f"coalesce(r.h, CAST(0.0 AS DOUBLE)) "
            f"/ (SELECT max(h) FROM ht_hr{t}) AS h "
            f"FROM ht_nodes n LEFT JOIN ht_hr{t} r ON r.id = n.id)"
        )
        prev_h = f"ht_h{t}"
        a_name = f"ht_a{t}"
    return (
        ",\n".join(parts)
        + f"""
SELECT n.id AS id, h.h AS hub, a.a AS authority
FROM ht_nodes n
LEFT JOIN {prev_h} h ON h.id = n.id
LEFT JOIN {a_name} a ON a.id = n.id"""
    )


# ---------------------------------------------------------------------------
# reciprocity of a directed graph
# ---------------------------------------------------------------------------


def reciprocity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Edge reciprocity → one row ``(n_edges, n_reciprocal,
    reciprocity)``: the fraction of directed edges whose reverse also
    exists (self-loops excluded, duplicates collapsed).

    The one-number directedness fingerprint of a link graph — organic
    social/host graphs reciprocate heavily, scraper/spam link farms
    are near-zero. Pure integer counts (a LEFT SEMI join of the edge
    set against its own transpose) + one terminal division.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    rec = e.join(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")),
        ["u", "v"],
        "left_semi",
    )
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(rec.agg(F.count(F.lit(1)).alias("n_reciprocal")))
    ).select(
        "n_edges",
        "n_reciprocal",
        (
            F.col("n_reciprocal").cast("double")
            / F.col("n_edges").cast("double")
        ).alias("reciprocity"),
    )


def reciprocity_sql(edges_sql: str) -> str:
    """DuckDB twin — identical distinct/semi-transpose counts."""
    return f"""WITH rc_e AS (
  SELECT DISTINCT src AS u, dst AS v FROM ({edges_sql}) WHERE src != dst
),
rc_r AS (
  SELECT count(*) AS n_reciprocal FROM rc_e a
  WHERE EXISTS (SELECT 1 FROM rc_e b WHERE b.u = a.v AND b.v = a.u)
)
SELECT (SELECT count(*) FROM rc_e) AS n_edges, n_reciprocal,
       CAST(n_reciprocal AS DOUBLE)
         / CAST((SELECT count(*) FROM rc_e) AS DOUBLE) AS reciprocity
FROM rc_r"""


# ---------------------------------------------------------------------------
# rich-club coefficient
# ---------------------------------------------------------------------------


def rich_club(
    edges: DataFrame, ks: tuple = (2, 4, 8), src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Rich-club coefficient φ(k) for each threshold in ``ks`` →
    ``(k, n_rich, e_rich, phi)``.

    Do the high-degree vertices form their own dense club? φ(k) =
    2·E_{>k} / (N_{>k}·(N_{>k}−1)) over the subgraph induced by
    vertices with degree > k — elites interlinking (φ → 1) is the
    covert-community / curated-hub signature; organic scale-free
    graphs keep φ moderate. Pure integer counts (degree agg + two
    semi-joins per threshold) and one terminal division; thresholds
    share one canonical edge set and one degree table.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()
    )
    out = None
    for k in ks:
        rich = deg.where(F.col("d") > F.lit(int(k))).select("v")
        er = e.join(
            rich.withColumnRenamed("v", "a"), "a", "left_semi"
        ).join(rich.withColumnRenamed("v", "b"), "b", "left_semi")
        row = (
            rich.agg(F.count(F.lit(1)).alias("n_rich"))
            .crossJoin(F.broadcast(er.agg(F.count(F.lit(1)).alias("e_rich"))))
            .select(
                F.lit(int(k)).alias("k"),
                "n_rich",
                "e_rich",
                F.when(
                    F.col("n_rich") >= 2,
                    F.lit(2.0)
                    * F.col("e_rich").cast("double")
                    / (
                        F.col("n_rich").cast("double")
                        * (F.col("n_rich") - F.lit(1)).cast("double")
                    ),
                ).alias("phi"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


def rich_club_sql(edges_sql: str, ks: tuple = (2, 4, 8)) -> str:
    """DuckDB twin — identical induced-subgraph counts per threshold."""
    rows = "\nUNION ALL\n".join(
        f"""SELECT {int(k)} AS k,
       (SELECT count(*) FROM rb_deg WHERE d > {int(k)}) AS n_rich,
       (SELECT count(*) FROM rb_e e
        WHERE e.a IN (SELECT v FROM rb_deg WHERE d > {int(k)})
          AND e.b IN (SELECT v FROM rb_deg WHERE d > {int(k)})) AS e_rich"""
        for k in ks
    )
    return f"""WITH rb_e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) WHERE least(src, dst) < greatest(src, dst)
),
rb_deg AS MATERIALIZED (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM rb_e UNION ALL SELECT b FROM rb_e
  ) GROUP BY v
),
rb_rows AS (
{rows}
)
SELECT k, n_rich, e_rich,
       CASE WHEN n_rich >= 2 THEN
         2.0 * CAST(e_rich AS DOUBLE)
         / (CAST(n_rich AS DOUBLE) * CAST(n_rich - 1 AS DOUBLE))
       END AS phi
FROM rb_rows
ORDER BY k"""
