#!/usr/bin/env python3
"""Capture .explain('formatted') for the headline bench query paths into
plans/<ROUND>/<name>_{before|after}.txt (checked-in plan evidence)."""
from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROUND = "r15"


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", ROUND)
    os.makedirs(out_dir, exist_ok=True)

    import pyspark.sql.functions as F

    from gosmonaut_spark.fixtures.pages import ensure_pages_parquet
    from gosmonaut_spark.functions.dedup import minhash_lsh_pairs
    from gosmonaut_spark.functions.similarity import cosine_topk_lsh
    from gosmonaut_spark.operators.assembly import SKIP_MISSING, assemble_relations, assemble_ways
    from gosmonaut_spark.operators.knn import knn_join
    from gosmonaut_spark.operators.pip import point_in_polygon_join, polygons_from_ways
    from gosmonaut_spark.operators.tiling import tile_pyramid
    from gosmonaut_spark.plans.checkpoint import CheckpointStore
    from gosmonaut_spark.queries import _pts
    from gosmonaut_spark.session import build_session
    from gosmonaut_spark.sources import pages as src

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=cpus * 4)
    pages_path = ensure_pages_parquet("t2")  # small profile: plans are shape-identical
    pages = src.read_pages(spark, pages_path).repartition(cpus * 4)

    ck_dir = tempfile.mkdtemp(prefix="plans_ck_")
    ck = CheckpointStore(spark, ck_dir)
    ents = ck.run_pass("entities", lambda: src.extract_entities(pages), partition_by=["etype"])
    nodes = src.entities_nodes(ents)
    ways_raw = src.entities_ways_raw(ents)
    rels_raw = src.entities_relations_raw(ents)
    aw = ck.run_pass("assembled_ways", lambda: assemble_ways(ways_raw, nodes, mode=SKIP_MISSING))

    def cap(name, df):
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        # plans are compared across hosts: print the fixture dirs by name
        txt = txt.replace(sf_dir, "$SPARK_GRAFT_SF_DIR")
        txt = txt.replace(os.path.dirname(pages_path), "$PAGES_CACHE")
        with open(p, "w") as f:
            f.write(txt)
        print(f"wrote {p} ({len(txt)} bytes)", file=sys.stderr)

    cap("entities_decode", src.extract_entities(pages))
    cap("assemble_ways", assemble_ways(ways_raw, nodes, mode=SKIP_MISSING))
    # materialize_members=True mirrors run_pipeline_checkpointed — the
    # configuration the bench's relations pass actually runs
    cap(
        "assemble_relations",
        assemble_relations(rels_raw, aw, nodes, materialize_members=True),
    )

    nodes_slim = nodes.select("id", "lat", "lon")
    polys = polygons_from_ways(aw).filter(F.col("polygon_id") % 8 == 0)
    cap("pip_join", point_in_polygon_join(nodes_slim, polys, res=13))
    cap("tile_pyramid", tile_pyramid(nodes_slim, 5, 12))

    pts = _pts(spark, sf_dir)
    qs = pts.filter(F.col("id") % 11 == 0).select(
        F.col("id").alias("query_id"), "lat", "lon").repartition(cpus)
    ts = pts.select(F.col("id").alias("target_id"), "lat", "lon")
    cap("knn_ring", knn_join(qs, ts, k=5, res=6, ring=1, broadcast_queries=True))

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").repartition(cpus)
    dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    cap("dedup_minhash", minhash_lsh_pairs(
        d.unionByName(dup), threshold=0.8, n_hashes=16, n_bands=4, hash_fn="xxhash64"))

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(cpus)
    eqs = e.filter(F.col("vec_id") % 7 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    ets = e.select(F.col("vec_id").alias("target_id"), "embedding")
    cap("ann_topk_lsh", cosine_topk_lsh(eqs, ets, k=10, n_bits=6, n_tables=8, dim=64, multiprobe=1))

    import shutil
    spark.stop()
    shutil.rmtree(ck_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
