#!/usr/bin/env python3
"""Stage-isolated profiling of the decode_assemble passes (guide §1.4):
noop-sink timings for each sub-stage of the relations/ways assembly so the
optimization targets the stage that actually burns the wall, not the pass
total. NOT part of the frozen bench contract — numbers are cited in
OPTIMIZATION_r06.md only."""
from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    import pyspark.sql.functions as F

    from gosmonaut_spark.operators.assembly import (
        SKIP_MISSING,
        assemble_relations,
        assemble_ways,
    )
    from gosmonaut_spark.session import build_session
    from gosmonaut_spark.sources import pages as src
    from gosmonaut_spark.plans.checkpoint import CheckpointStore
    from gosmonaut_spark.fixtures.pages import ensure_pages_parquet

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=cpus * 4)
    sc = spark.sparkContext
    pages_path = ensure_pages_parquet(os.environ.get("SPARK_GRAFT_PAGES_PROFILE", "bench"))
    pages = src.read_pages(spark, pages_path).repartition(cpus * 4)

    ck_dir = tempfile.mkdtemp(prefix="prof_ck_")
    ck = CheckpointStore(spark, ck_dir)

    timings = {}

    def t(name, fn):
        spark.catalog.clearCache()
        try:
            sc._jvm.System.gc()
        except Exception:
            pass
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        r = fn()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"[prof] {name}: {timings[name]}s", file=sys.stderr, flush=True)
        sc.setJobDescription(None)
        return r

    # pass 1: entities snapshot (as the pipeline does)
    ents = t("pass:entities(write)", lambda: ck.run_pass(
        "entities", lambda: src.extract_entities(pages), partition_by=["etype"]))
    nodes = src.entities_nodes(ents)
    ways_raw = src.entities_ways_raw(ents)
    rels_raw = src.entities_relations_raw(ents)

    # entities sub-stages
    t("entities:decode->noop", lambda: noop(src.extract_entities(pages)))

    # pass 2: ways — sub-stages first (from the snapshot, like the real pass)
    refs = ways_raw.select(
        F.col("id").alias("way_id"), F.posexplode_outer("refs").alias("pos", "node_id"))
    node_side = nodes.select(
        F.col("id").alias("node_id"),
        F.struct(F.col("id"), F.col("lat"), F.col("lon"), F.col("tags")).alias("node"))
    t("ways:ref-join->noop", lambda: noop(refs.join(node_side, "node_id", "left")))
    t("ways:full-assemble->noop", lambda: noop(
        assemble_ways(ways_raw, nodes, mode=SKIP_MISSING)))
    aw = t("pass:assembled_ways(write)", lambda: ck.run_pass(
        "assembled_ways",
        lambda: assemble_ways(ways_raw, nodes, mode=SKIP_MISSING)))

    # pass 3: relations — sub-stages
    members = src.rel_members(rels_raw)
    from gosmonaut_spark.format.gpb import NODE_TYPE, RELATION_TYPE, WAY_TYPE

    mem = members.join(
        rels_raw.select(F.col("id").alias("rel_id")), "rel_id", "left_semi"
    ).filter(F.col("member_type") != RELATION_TYPE)
    t("rels:members->noop", lambda: noop(mem))

    mem_p = mem.persist()
    mem_p.count()
    way_member_ids = mem_p.filter(F.col("member_type") == WAY_TYPE).select(
        F.col("member_id").alias("id")).distinct()
    node_member_ids = mem_p.filter(F.col("member_type") == NODE_TYPE).select(
        F.col("member_id").alias("id")).distinct()
    way_side = aw.join(way_member_ids, "id", "left_semi").select(
        F.col("id").alias("member_id"), F.struct("id", "tags", "nodes").alias("way"))
    node_side2 = nodes.join(node_member_ids, "id", "left_semi").select(
        F.col("id").alias("member_id"), F.struct("id", "lat", "lon", "tags").alias("node"))
    NODE_STRUCT = "struct<id:bigint,lat:double,lon:double,tags:map<string,string>>"
    w = (mem_p.filter(F.col("member_type") == WAY_TYPE)
         .join(way_side.hint("merge"), "member_id", "inner")
         .withColumn("node", F.lit(None).cast(NODE_STRUCT)))
    t("rels:way-resolve->noop", lambda: noop(w))
    n2 = (mem_p.filter(F.col("member_type") == NODE_TYPE)
          .join(node_side2, "member_id", "inner")
          .withColumn("way", F.lit(None).cast(w.schema["way"].dataType.simpleString())))
    t("rels:node-resolve->noop", lambda: noop(n2))

    resolved = w.select("rel_id", "pos", "role", "member_type", "node", "way").unionByName(
        n2.select("rel_id", "pos", "role", "member_type", "node", "way"))
    from gosmonaut_spark.operators.assembly import ordered_collect_rows
    member_struct = F.struct(
        F.col("role"),
        F.when(F.col("member_type") == WAY_TYPE, F.lit("way")).otherwise(F.lit("node")).alias("type"),
        F.col("node"), F.col("way"))
    agg = ordered_collect_rows(resolved, "rel_id", "pos", member_struct, "members")
    t("rels:agg->noop", lambda: noop(agg))

    out = rels_raw.select("id", "tags", "url").join(
        agg.withColumnRenamed("rel_id", "id").hint("merge"), "id", "left")
    empty = F.array().cast(agg.schema["members"].dataType.simpleString())
    out = out.withColumn("members", F.coalesce(F.col("members"), empty))
    t("rels:full->noop", lambda: noop(out))
    mem_p.unpersist()

    t("pass:relations(write)", lambda: ck.run_pass(
        "relations",
        lambda: assemble_relations(rels_raw, members, aw, nodes)))

    print(timings)
    # snapshot sizes
    for p in ("entities", "assembled_ways", "relations"):
        d = os.path.join(ck_dir, p)
        sz = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)
        print(f"[prof] snapshot {p}: {sz/1e6:.1f} MB", file=sys.stderr)
    import shutil
    spark.stop()
    shutil.rmtree(ck_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
