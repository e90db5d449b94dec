#!/usr/bin/env python3
"""The production launch path named by the north rule: the spatial pipeline
as a spark-submit job with the package shipped via --py-files.

    cd /root/repo
    python tools/make_pyfiles_zip.py               # -> /tmp/gosmonaut_spark.zip
    /opt/spark/bin/spark-submit \
        --master 'local[8]' \
        --py-files /tmp/gosmonaut_spark.zip \
        tools/submit_spatial_job.py

On a real cluster only --master changes (yarn/k8s + executor counts); the
job code is identical — executors import the engine from the shipped zip,
so no shared filesystem is assumed. Env knobs: SPARK_GRAFT_SF_DIR (driver
tables; default /root/testdata/sf0.1), SPARK_GRAFT_PAGES (pages parquet;
default = the deterministic synthetic fixture for that scale),
SPARK_GRAFT_OUT (output dir; default /tmp/gosmonaut_job_out).

Prints one JSON line: rows per stage + wall seconds + rows/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # under spark-submit the session master/conf come from the CLI
    spark = SparkSession.builder.appName("gosmonaut_spatial_pipeline").getOrCreate()

    from gosmonaut_spark.operators.assembly import SKIP_MISSING
    from gosmonaut_spark.operators.pip import (
        point_in_polygon_join,
        polygons_from_ways,
    )
    from gosmonaut_spark.operators.tiling import tile_pyramid, write_tiles
    from gosmonaut_spark.plans.checkpoint import run_pipeline_checkpointed
    from gosmonaut_spark.sources.pages import read_pages

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("SPARK_GRAFT_OUT", "/tmp/gosmonaut_job_out")
    pages_path = os.environ.get("SPARK_GRAFT_PAGES")
    if not pages_path:
        from gosmonaut_spark.fixtures.pages import ensure_pages_parquet

        profile = {"0.001": "t1", "0.01": "t2"}.get(
            sf_dir.rstrip("/").rsplit("sf", 1)[-1], "bench"
        )
        pages_path = ensure_pages_parquet(profile)

    t0 = time.perf_counter()
    pages = read_pages(spark, pages_path)
    _ck, dfs = run_pipeline_checkpointed(
        spark, pages, os.path.join(out_dir, "checkpoints"), mode=SKIP_MISSING
    )
    nodes = dfs["nodes"].select("id", "lat", "lon")
    polys = polygons_from_ways(dfs["assembled_ways"])
    # default engine (edges): fully distributed vertex/cover build — the
    # scale path for dense workloads
    hits = point_in_polygon_join(nodes, polys, res=13)
    n_hits = hits.count()
    tiles = tile_pyramid(nodes, 5, 12)
    write_tiles(tiles, os.path.join(out_dir, "tiles"))
    n_tiles = tiles.count()
    n_entities = sum(
        dfs[k].count() for k in ("nodes", "assembled_ways", "relations")
    )
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "entities": n_entities,
                "pip_pairs": n_hits,
                "tiles": n_tiles,
                "wall_sec": round(wall, 2),
                "rows_per_sec": round((n_entities + n_hits + n_tiles) / wall, 1),
                "out": out_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
