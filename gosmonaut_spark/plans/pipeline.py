"""The 5-pass nested-entity pipeline — gosmonaut's Start() as a DataFrame DAG.

Pass plan (reference: /root/reference/gosmonaut.go:118-217):

  R-dep  : needed relations -> member way ids            (skipped if no rels)
  W-dep  : (implicit) the ref->node join itself performs the node-id
           restriction the reference tracks in bitsets (gosmonaut.go:290-318)
  N      : emit nodes passing predicate                  (skipped if unwanted)
  W      : assemble tracked-or-needed ways; emit the needed subset
  R      : assemble relations from assembled ways + nodes

Conditional pass skipping (reference gosmonaut.go:147-211) is plan-time
here: unrequested entity DataFrames are simply never constructed, so no
stage or scan is scheduled for them — visible in the physical plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import predicates as P
from ..operators.assembly import (
    STRICT,
    AssemblyMetrics,
    assemble_relations,
    assemble_ways,
    needed_way_ids,
    ways_to_assemble,
)
from ..sources import pages as src


@dataclass
class PipelineResult:
    nodes: DataFrame | None
    ways: DataFrame | None
    relations: DataFrame | None
    metrics: AssemblyMetrics

    def workload_counts(self) -> dict[str, int]:
        """Entity totals *including nested children* — the reference's
        counting rule (/root/reference/gosmonaut_test.go:138-181):
        way members add their node counts, relations add member ways/nodes.
        """
        # ONE action for all three entity tables: each branch aggregates to
        # a single (nc, wc, rc) row, the branches union, and one final sum
        # collects — the per-table collect()s were three serial driver
        # round-trips (three jobs) for numbers the scheduler can compute
        # concurrently in one (the branches are independent subtrees, so
        # AQE overlaps their stages). Totals are bit-identical.
        zero = F.lit(0).cast("long")
        parts = []
        if self.nodes is not None:
            parts.append(
                self.nodes.agg(F.count("*").alias("nc")).select(
                    "nc", zero.alias("wc"), zero.alias("rc")
                )
            )
        if self.ways is not None:
            parts.append(
                self.ways.agg(
                    F.count("*").alias("w"),
                    F.coalesce(F.sum(F.size("nodes")), F.lit(0)).alias("n"),
                ).select(
                    F.col("n").cast("long").alias("nc"),
                    F.col("w").cast("long").alias("wc"),
                    zero.alias("rc"),
                )
            )
        if self.relations is not None:
            # member stats folded over the array columns — no explode
            way_members = F.filter("members", lambda m: m["type"] == "way")
            parts.append(
                self.relations.agg(
                    F.count(F.lit(1)).alias("r"),
                    F.coalesce(
                        F.sum(F.size(F.filter("members", lambda m: m["type"] == "node"))),
                        F.lit(0),
                    ).alias("n"),
                    F.coalesce(F.sum(F.size(way_members)), F.lit(0)).alias("w"),
                    F.coalesce(
                        F.sum(
                            F.aggregate(
                                way_members,
                                F.lit(0),
                                lambda acc, m: acc + F.size(m["way"]["nodes"]),
                            )
                        ),
                        F.lit(0),
                    ).alias("wn"),
                ).select(
                    (F.col("n") + F.col("wn")).cast("long").alias("nc"),
                    F.col("w").cast("long").alias("wc"),
                    F.col("r").cast("long").alias("rc"),
                )
            )
        if not parts:
            return {"nodes": 0, "ways": 0, "relations": 0}
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        tot = u.agg(
            F.sum("nc").alias("nc"), F.sum("wc").alias("wc"), F.sum("rc").alias("rc")
        ).collect()[0]
        return {
            "nodes": int(tot.nc),
            "ways": int(tot.wc),
            "relations": int(tot.rc),
        }


def run_pipeline(
    pages: DataFrame,
    types: frozenset[str] | set[str] = P.ALL_TYPES,
    predicate: Column | None = None,
    mode: str = STRICT,
) -> PipelineResult:
    """Run the full nested-entity resolution over a pages DataFrame.

    ``predicate`` is a boolean Column over the per-entity ``tags`` map
    (the reference's funcEntityNeeded, gosmonaut.go:118-121); it is applied
    uniformly to every entity type, as the reference does.

    Lazy: no action runs here, so the result's ``metrics`` counters read
    None. The checkpointed pipeline records them in its lineage.
    """
    pred = predicate if predicate is not None else F.lit(True)

    want_nodes = P.NODE in types
    want_ways = P.WAY in types
    want_rels = P.RELATION in types

    out_nodes = out_ways = out_rels = None

    # Pass R-dep (gosmonaut.go:147-153)
    rels_needed = rel_way_ids = None
    if want_rels:
        rels_raw = src.extract_relations_raw(pages)
        rels_needed = rels_raw.filter(pred)
        rel_way_ids = needed_way_ids(src.rel_members(rels_needed))

    # Nodes are extracted when anything needs them
    nodes_all = None
    if want_nodes or want_ways or want_rels:
        nodes_all = src.extract_nodes(pages)

    # Pass N (gosmonaut.go:164-180)
    if want_nodes:
        out_nodes = nodes_all.filter(pred)

    # Pass W (gosmonaut.go:182-198): assemble tracked-or-needed ways
    assembled = None
    if want_ways or want_rels:
        ways_raw = src.extract_ways_raw(pages)
        ways_sel = ways_to_assemble(ways_raw, pred, want_ways, rel_way_ids)
        assembled = assemble_ways(ways_sel, nodes_all, mode=mode)
        if want_ways:
            out_ways = assembled.filter(pred)

    # Pass R (gosmonaut.go:200-211)
    if want_rels:
        out_rels = assemble_relations(rels_needed, assembled, nodes_all)

    return PipelineResult(out_nodes, out_ways, out_rels, AssemblyMetrics())


def entities_union(result: PipelineResult) -> DataFrame:
    """Single output stream with the reference's global type order
    nodes -> ways -> relations (gosmonaut_test.go:130-134) as an explicit
    ``type_rank`` ORDER BY — Spark never preserves order through shuffles,
    so the order is data, not scheduling (cf. ordered fan-in decode.go:251-275).
    """
    parts = []
    if result.nodes is not None:
        parts.append(
            result.nodes.select(
                F.lit(1).alias("type_rank"),
                F.lit("node").alias("type"),
                "id",
                F.to_json(F.struct("id", "lat", "lon", "tags")).alias("entity_json"),
            )
        )
    if result.ways is not None:
        parts.append(
            result.ways.select(
                F.lit(2).alias("type_rank"),
                F.lit("way").alias("type"),
                "id",
                F.to_json(F.struct("id", "tags", "nodes")).alias("entity_json"),
            )
        )
    if result.relations is not None:
        parts.append(
            result.relations.select(
                F.lit(4).alias("type_rank"),
                F.lit("relation").alias("type"),
                "id",
                F.to_json(F.struct("id", "tags", "members")).alias("entity_json"),
            )
        )
    if not parts:
        raise ValueError("empty result")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.orderBy("type_rank", "id")


def entities_iterator(result: PipelineResult, prefetch: bool = True):
    """Pull-consumer API — the analog of the reference's ``Next()`` bounded
    channel (/root/reference/gosmonaut.go:219-236, cap-8000 buffer): a
    driver-side generator over the ordered union stream.

    * Global type order nodes -> ways -> relations is preserved
      (gosmonaut_test.go:130-134): the union is sorted on (type_rank, id)
      and ``toLocalIterator`` fetches the sorted partitions in order.
    * Bounded memory: the driver holds one partition at a time (plus one
      prefetched), the channel-capacity analog.
    * Error short-circuit: a failure in the underlying job raises at the
      pull site, exactly like the reference's entity-or-error stream
      (streamError, gosmonaut.go:219-221); exhaustion simply ends the
      generator (the io.EOF analog).

    Yields Rows ``(type_rank, type, id, entity_json)``.
    """
    df = entities_union(result)
    yield from df.toLocalIterator(prefetchPartitions=prefetch)
