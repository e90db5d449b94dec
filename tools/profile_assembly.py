#!/usr/bin/env python3
"""Stage-isolated profiling of the decode_assemble passes (guide §1.4):
noop-sink timings for the sub-stages of each assembly pass so the
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

    # pass 3: relations — the operator itself, in both member-table modes
    # (materialized, as run_pipeline_checkpointed runs it, and lazy, as
    # run_pipeline does), then the pass with its snapshot write
    t("rels:materialized->noop", lambda: noop(
        assemble_relations(rels_raw, aw, nodes, materialize_members=True)))
    t("rels:lazy->noop", lambda: noop(assemble_relations(rels_raw, aw, nodes)))
    t("pass:relations(write)", lambda: ck.run_pass(
        "relations",
        lambda: assemble_relations(rels_raw, aw, nodes, materialize_members=True)))

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
