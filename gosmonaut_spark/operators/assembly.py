"""Dependency + assembly passes — the gosmonaut core, as relational algebra.

Pass structure mirrors /root/reference/gosmonaut.go:118-217 (5-pass plan):

1. relation dependencies  -> needed way ids / node-member ids
   (reference: bitset trackers, gosmonaut.go:245-288; here: LEFT SEMI joins,
   with Spark's runtime Bloom-filter join as the bitset analog)
2. way dependencies       -> needed node ids (gosmonaut.go:290-318)
3. node scan              -> emit nodes passing the predicate
4. way assembly           -> order-preserving stitch (gosmonaut.go:350-403)
5. relation assembly      -> typed member resolve (gosmonaut.go:405-472)

Scale notes: the ref->node join shuffles on node_id (both sides hash
partitioned — sort-merge join at scale, broadcast-hash when the semi-joined
node side is small enough for AQE to flip it). Ref order is carried as an
explicit ``pos`` column and restored with ``array_sort`` — never shuffle
order (the reference's ordered fan-in, decode.go:251-275, is a *property of
the data* here, not of the scheduler).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..format.gpb import NODE_TYPE, RELATION_TYPE, WAY_TYPE
from ..functions.caching import attach_cached, attach_counters

STRICT = "strict"
SKIP_MISSING = "skip_missing"


def ordered_collect_rows(
    df: DataFrame,
    key: str,
    pos: str,
    value: Column,
    out_name: str,
    keep: Column | None = None,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """Order-preserving re-agg in ONE aggregation, no duplication, and —
    unlike its two predecessors — correct under ANY aggregation mode, so it
    needs nothing from session conf.

    Two stages:

    1. An explicit secondary sort (hash-partition by key + Tungsten sort on
       (key, pos)) feeds the collect_list — one shuffle of exactly the
       payload bytes. Under build_session's SortAggregate pin the streamed
       append preserves that order, so stage 2 sees already-sorted input.
    2. A native permutation sort fixes the order *by construction*: sort
       only the (pos, index) pairs — plain longs, natively orderable, no
       comparator lambda over the map-bearing payload structs (structs
       containing maps are not natively orderable, so sorting them needs
       an interpreted comparator) — then gather the
       payloads through the sorted indices with O(1) element_at. On
       already-ordered input (our sessions) the sort is a single linear
       verification pass (TimSort); in a foreign session whose
       ObjectHashAggregate sort-based fallback re-sorts by group key only
       (destroying within-key pos order after ~128 keys/task), it actually
       permutes — the result is right either way, instead of the previous
       formulation's execution-time order-assert failure.

    Replaces (r3) the warn-plus-assert formulation — an operator must not
    mutate a foreign session's conf, but "fails loud in any session not
    built by build_session" made every plain-session caller (the driver
    contract, user notebooks) a landmine. Replaces (r2) the full-frame
    window formulation, whose collect_list-per-row materialized O(len^2)
    intermediate bytes per key — harmless at 40-node ways, fatal for a
    50k-member relation at scale.

    ``keep``: optional row mask — rows failing it still keep their GROUP
    alive (one output row per key, possibly with an empty array) but
    contribute no element (collect_list drops null inputs). This lets a
    zero-ref / all-missing way appear with ``nodes = []`` without a
    post-agg outer join.

    ``carry``: optional per-key payload columns aggregated with
    ``first(col, ignorenulls=True)`` — the caller guarantees each key has
    exactly one row where the carry columns are non-null (e.g. the pos-0
    exploded row, or a sentinel row excluded from the collect via
    ``keep``). This rides the SAME SortAggregate as the collect, so
    group-level metadata (tags, url) reaches the output without the
    separate exchange + sort + join of the key table that a post-agg
    equi-join costs (measured: one full exchange+SMJ removed from each
    assembly pass).

    Returns ``df.select(key, out_name)`` with one row per key."""
    elem = F.struct(F.col(pos).cast("long").alias("_p"), value.alias("_v"))
    if keep is not None:
        elem = F.when(keep, elem)
    # secondary sort: hash-partition by key, Tungsten-sort by (key, pos) —
    # a TOTAL order (pos unique per key), so sorter stability is never
    # relied upon; the groupBy sees its distribution already satisfied
    # (no second exchange)
    df2 = df.repartition(F.col(key)).sortWithinPartitions(key, pos)
    carry_aggs = [
        F.first(c, ignorenulls=True).alias(name)
        for name, c in (carry or {}).items()
    ]
    carry_names = list((carry or {}).keys())
    agg = df2.groupBy(key).agg(
        F.collect_list(elem).alias("_arr"), *carry_aggs
    )
    perm = F.array_sort(
        F.zip_with(
            F.transform("_arr", lambda s: s["_p"]),
            F.sequence(F.lit(0), F.size("_arr") - 1),
            lambda p, i: F.struct(p.alias("p"), i.alias("i")),
        )
    )
    gathered = F.transform(
        perm, lambda s: F.element_at(F.col("_arr"), s["i"] + 1)["_v"]
    )
    # sequence(0, -1) on an empty group would yield [0, -1] and zip_with
    # would null-pad — guard the degenerate case explicitly
    out = F.when(F.size("_arr") > 0, gathered).otherwise(F.array())
    return agg.select(key, *carry_names, out.alias(out_name))


@dataclass
class AssemblyMetrics:
    """Warn counters, the analog of the reference's printWarning
    (reference gosmonaut.go:504-530). ``assemble_ways`` and
    ``assemble_relations`` observe them during the pass's own action
    (``DataFrame.observe``, read back with ``caching.read_counters``), and
    the checkpointed pipeline records them in each pass's lineage entry.
    The lazy pipeline runs no action before it returns, so there every
    counter reads None (not measured), never 0."""

    missing_way_nodes: int | None = None
    dropped_rel_members: int | None = None
    dropped_sub_relations: int | None = None
    extra: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# dependency passes (A13)
# ---------------------------------------------------------------------------


def needed_way_ids(needed_rels_members: DataFrame) -> DataFrame:
    """Way ids referenced by needed relations (pass 1,
    /root/reference/gosmonaut.go:262-270). Returns one column ``id``."""
    return (
        needed_rels_members.filter(F.col("member_type") == WAY_TYPE)
        .select(F.col("member_id").alias("id"))
        .distinct()
    )


def ways_to_assemble(
    ways_raw: DataFrame, predicate: Column, want_ways: bool, rel_way_ids: DataFrame | None
) -> DataFrame:
    """Ways that must be assembled: requested-and-matching ∪ referenced by a
    needed relation (reference: tracked-or-needed, gosmonaut.go:367-369).
    The union stays distinct on id because both branches come from the same
    ways_raw rows (left-semi keeps one row per way)."""
    parts = []
    if want_ways:
        parts.append(ways_raw.filter(predicate))
    if rel_way_ids is not None:
        parts.append(ways_raw.join(rel_way_ids, "id", "left_semi"))
    if not parts:
        return ways_raw.limit(0)
    if len(parts) == 1:
        return parts[0]
    return parts[0].unionByName(parts[1]).dropDuplicates(["id"])


# ---------------------------------------------------------------------------
# way assembly (A15): order-preserving fetch join
# ---------------------------------------------------------------------------


def assemble_ways(
    ways_sel: DataFrame,
    nodes: DataFrame,
    mode: str = STRICT,
) -> DataFrame:
    """Stitch each selected way's refs into a full node array, order
    preserved (reference scanWays, /root/reference/gosmonaut.go:350-403).

    ``mode=STRICT``: a dangling ref raises (reference hard error,
    gosmonaut.go:383-386) — detected deterministically inside the join
    stage, not by task order. ``mode=SKIP_MISSING``: dangling refs are
    dropped and counted (Config.SkipMissingNodes, gosmonaut.go:35-37).

    Returns ``(id, tags, url, nodes array<struct<id,lat,lon,tags>>)``, with
    the counter ``missing_way_nodes`` (non-null refs that matched no node)
    attached for ``caching.read_counters``.
    """
    # carry the way's (tags, url) on its FIRST exploded row only (pos 0,
    # or the null-pos row posexplode_outer emits for zero-ref ways): the
    # re-agg below recovers them with first(ignorenulls) — one
    # (tags, url) per way crosses the stitch shuffle, the same bytes the
    # removed ways_sel exchange used to move, without the exchange, its
    # sort, or the final SMJ. Way ids are globally unique per the OSM data
    # model (the reference keys its way cache by id,
    # /root/reference/gosmonaut.go:350-403), so the grouped output is one
    # row per input way, exactly as the join produced.
    refs = ways_sel.select(
        F.col("id").alias("way_id"),
        "tags",
        "url",
        F.posexplode_outer("refs").alias("pos", "node_id"),
    ).select(
        "way_id",
        "pos",
        "node_id",
        F.when(
            F.col("pos").isNull() | (F.col("pos") == 0),
            F.struct("tags", "url"),
        ).alias("__meta"),
    )
    node_side = nodes.select(
        F.col("id").alias("node_id"),
        F.struct(
            F.col("id"), F.col("lat"), F.col("lon"), F.col("tags")
        ).alias("node"),
    )

    # the dangling-ref counter rides the join's own rows: no extra job
    seen = Observation()
    joined = refs.join(node_side, "node_id", "left").observe(
        seen,
        F.count(
            F.when(F.col("node_id").isNotNull() & F.col("node").isNull(), 1)
        ).alias("missing_way_nodes"),
    )

    if mode == STRICT:
        # validate IN the assembly pass itself: the left join is followed
        # by a filter whose predicate asserts the match — any ref that
        # found no node raises from inside the join stage, so the check
        # costs zero extra jobs (the previous formulation ran a full
        # anti-join count() before the real join even started). A filter
        # (unlike a projection) cannot be column-pruned away, and its
        # nondeterministic guard keeps the optimizer from collapsing it —
        # so even a bare count() over the re-agg runs the validation. The
        # rand() guard marks the predicate nondeterministic so the
        # optimizer neither pushes it below the left join nor probes it
        # with a null row (EliminateOuterJoin evaluates deterministic
        # predicates against a null input to decide join conversion, which
        # would fire the assert at plan time).
        msg = F.concat(
            F.lit("way assembly: dangling node ref "),
            F.col("node_id").cast("string"),
            F.lit(" (use mode='skip_missing' to drop it)"),
        )
        check = F.assert_true(
            F.col("node_id").isNull() | F.col("node").isNotNull(), msg
        ).isNull()
        joined = joined.filter(check | (F.rand() < F.lit(-1.0)))
    elif mode != SKIP_MISSING:
        raise ValueError(f"unknown mode {mode!r}")

    # every way keeps its group (posexplode_outer emits a null-ref row for
    # zero-ref ways; unmatched refs in skip mode just contribute no
    # element via the keep mask), so a zero-ref / all-missing way appears
    # with nodes = [] — the reference emits those too (gosmonaut.go:388-397).
    stitched = ordered_collect_rows(
        joined,
        "way_id",
        "pos",
        F.col("node"),
        "nodes",
        keep=F.col("node_id").isNotNull() & F.col("node").isNotNull(),
        carry={"__meta": F.col("__meta")},
    )
    out = stitched.select(
        F.col("way_id").alias("id"),
        F.col("__meta")["tags"].alias("tags"),
        F.col("__meta")["url"].alias("url"),
        "nodes",
    )
    return attach_counters(out, seen, "missing_way_nodes")


# ---------------------------------------------------------------------------
# relation assembly (A16): typed fetch join
# ---------------------------------------------------------------------------


def assemble_relations(
    rels_sel: DataFrame,
    assembled_ways: DataFrame,
    nodes: DataFrame,
    materialize_members: bool = False,
) -> DataFrame:
    """Resolve each needed relation's members against assembled ways and
    nodes (reference scanRelations, /root/reference/gosmonaut.go:405-472).

    Missing members and sub-relation members are *dropped* with a warn
    count, never an error (gosmonaut.go:445-465). Member order is restored
    from the carried ``pos``. Returns
    ``(id, tags, url, members array<struct<role,type,node,way>>)``, with
    the counters ``dropped_sub_relations`` and ``dropped_rel_members``
    (non-relation members that resolved to no way or node) attached for
    ``caching.read_counters``.

    ``materialize_members``: eagerly count the persisted member table
    before the plan fans out. ON for pipelines whose member table derives
    from a cheap re-scannable source (the checkpointed pipeline's parquet
    snapshot): AQE's concurrent consumer stage-jobs otherwise race on the
    cold cache blocks (measured 3.5x task run-vs-CPU lock-wait at the
    bench fixture). The materialized table's real size then decides the
    resolve: when it fits ``spark.sql.autoBroadcastJoinThreshold``, each
    typed resolve runs as a broadcast hash join with the MEMBER side as
    the build — the heavy entity sides (assembled ways carrying full node
    arrays; node structs) are never shuffled or sorted for the resolve,
    and the only shuffle that moves them is the single per-relation
    re-agg. Above it (planet-scale member tables) the resolve falls back
    to the symmetric sort-merge join. OFF by default: in the lazy
    single-query pipeline the member lineage includes the full page
    decode, so an up-front count pays one extra decode pass (measured
    +2-3s on tag-histogram-shaped consumers) — there the resolve keeps
    the merge-hinted SMJ.
    """
    from ..sources.pages import rel_members

    # persist: the member table (skinny — ids, pos, role) feeds both typed
    # resolves (and, in the sort-merge branch, both prune-id sets); without
    # it each consumer re-runs the relation scan + member explode (measured
    # ~8s per recompute at the bench scale fixture). The handle rides the
    # returned DataFrame (release_cached / cached_scope).
    # coalesce first: the member table inherits the upstream snapshot's
    # file-grained partitioning (128 blocks of ~5k rows each at the bench
    # fixture), and every consumer job then schedules 128 tasks over
    # near-empty cached blocks — measured ~8s of pure per-task overhead.
    # Sized from defaultParallelism so a real cluster keeps one block per
    # ~4 cores rather than a constant tuned to this box.
    n_coalesce = max(rels_sel.sparkSession.sparkContext.defaultParallelism // 4, 8)
    mem = rel_members(rels_sel).filter(F.col("member_type") != RELATION_TYPE)
    if materialize_members:
        mem = mem.coalesce(n_coalesce)
    mem = mem.persist()
    # materialize the cache EAGERLY, before the plan fans out: AQE executes
    # the consumers as CONCURRENT stage jobs, and with a cold cache they
    # race on the same uncomputed blocks. Measured on the bench fixture (32
    # cores): four concurrent ~25s jobs whose task run-time was 3.5x their
    # CPU time (pure cache-lock wait) collapsed to one sub-second count +
    # fast consumers. The materialized table's size decides the broadcast
    # below. (Skipped in the lazy single-query pipeline — see the docstring.)
    broadcast = False
    if materialize_members:
        mem.count()
        # a fresh plan over the now-cached table sees its real in-memory
        # size; mem's own QueryExecution keeps the pre-cache estimate
        size = mem.select("*")._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        limit = mem.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        broadcast = size <= limit

    mem_w = mem.filter(F.col("member_type") == WAY_TYPE)
    mem_n = mem.filter(F.col("member_type") == NODE_TYPE)
    way_side = assembled_ways.select(
        F.col("id").alias("member_id"),
        F.struct("id", "tags", "nodes").alias("way"),
    )
    node_side = nodes.select(
        F.col("id").alias("member_id"),
        F.struct("id", "lat", "lon", "tags").alias("node"),
    )
    if broadcast:
        # broadcast the SKINNY member side (bounded by its measured size
        # above): the heavy way/node structs stream through the inner join
        # in their scan partitioning — no shuffle, no sort of nested arrays,
        # and the join itself keeps only members, so nothing to prune.
        # The entity side is NEVER the build side (arrays are
        # memory-hostile in a hashed relation), and the heavy bytes move
        # only once: in the per-relation re-agg below.
        w = way_side.join(F.broadcast(mem_w), "member_id", "inner")
        n = node_side.join(F.broadcast(mem_n), "member_id", "inner")
    else:
        # Prune BOTH entity sides to ids actually referenced by a member
        # BEFORE their heavy shuffle — the relational form of the
        # reference's bitset trackers (/root/reference/gosmonaut.go:245-288).
        # Without it the sort-merge resolve shuffles every assembled way's
        # node array and every node struct for a member table orders of
        # magnitude smaller (measured at the bench scale fixture: 22M node
        # structs + 1.2M nested arrays shuffled for 640k members). The
        # distinct id sets are small, so these semi joins run as broadcast
        # probes riding the entity scans.
        way_ids = mem_w.select("member_id").distinct()
        node_ids = mem_n.select("member_id").distinct()
        way_side = way_side.join(way_ids, "member_id", "left_semi")
        node_side = node_side.join(node_ids, "member_id", "left_semi")
        w = mem_w.join(way_side.hint("merge"), "member_id", "inner")  # arrays: no broadcast
        n = mem_n.join(node_side, "member_id", "inner")
    keys = ["rel_id", "pos", "role", "member_type"]
    resolved = w.select(*keys, "way").unionByName(
        n.select(*keys, "node"), allowMissingColumns=True
    )

    # one sentinel row per relation, unioned into the resolve output: it
    # carries the relation's (tags, url) through the re-agg (recovered via
    # first(ignorenulls)) and keeps all-members-dropped relations alive as
    # empty groups — replacing the post-agg LEFT join with rels_sel, whose
    # exchange + sort of the heavy members arrays was a full extra pass
    # over the assembled payload. The ``keep`` mask (member_type NOT NULL)
    # excludes sentinels from the collected array, so an unresolvable
    # relation still emits members = []. Relation ids are globally unique
    # per the OSM data model (the reference keys relations by id).
    # Sentinels also carry their relation's listed member counts, so both
    # drop counters are observed on rows every action computes (AQE can
    # drop member-table scans when nothing resolves, and an Observation
    # there would never complete).
    listed = F.size(F.array_remove("member_types", RELATION_TYPE))
    sentinel = rels_sel.select(
        F.col("id").alias("rel_id"),
        F.struct("tags", "url").alias("__meta"),
        (F.size("member_types") - listed).alias("_sub"),
        listed.alias("_listed"),
    )
    seen = Observation()
    resolved = (
        resolved.unionByName(sentinel, allowMissingColumns=True)
        .observe(
            seen,
            F.coalesce(F.sum("_sub"), F.lit(0)).alias("dropped_sub_relations"),
            (
                F.coalesce(F.sum("_listed"), F.lit(0)) - F.count("member_type")
            ).alias("dropped_rel_members"),
        )
        .drop("_sub", "_listed")
    )

    member_struct = F.struct(
        F.col("role"),
        F.when(F.col("member_type") == WAY_TYPE, F.lit("way"))
        .otherwise(F.lit("node"))
        .alias("type"),
        F.col("node"),
        F.col("way"),
    )
    agg = ordered_collect_rows(
        resolved,
        "rel_id",
        "pos",
        member_struct,
        "members",
        keep=F.col("member_type").isNotNull(),
        carry={"__meta": F.col("__meta")},
    )
    out = agg.select(
        F.col("rel_id").alias("id"),
        F.col("__meta")["tags"].alias("tags"),
        F.col("__meta")["url"].alias("url"),
        "members",
    )

    return attach_counters(
        attach_cached(out, [mem]), seen, "dropped_sub_relations", "dropped_rel_members"
    )
