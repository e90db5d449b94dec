"""Focused tests for the round-6 optimization internals: every rewritten
operator path must produce rows identical to the pre-optimization
formulation (or to an independent brute computation) on inputs that force
the new branches."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(v) for v in r) for r in df.select(*cols).collect())


# ---------------------------------------------------------------------------
# ordered_collect_rows carry
# ---------------------------------------------------------------------------


def test_ordered_collect_rows_carry_first_nonnull(spark):
    """Carry columns are recovered via first(ignorenulls) — including for
    groups whose every element is masked out by ``keep`` (empty array,
    carry still present)."""
    from gosmonaut_spark.operators.assembly import ordered_collect_rows

    df = spark.createDataFrame(
        [
            # key 1: normal group, carry on pos 0 only
            (1, 0, "a", "meta1"),
            (1, 1, "b", None),
            (1, 2, "c", None),
            # key 2: every element masked (keep=False via val None), carry
            # rides a sentinel-style row
            (2, 0, None, "meta2"),
        ],
        "k long, pos int, val string, m string",
    )
    out = ordered_collect_rows(
        df,
        "k",
        "pos",
        F.col("val"),
        "vals",
        keep=F.col("val").isNotNull(),
        carry={"m": F.col("m")},
    )
    got = {r["k"]: (r["m"], r["vals"]) for r in out.collect()}
    assert got == {1: ("meta1", ["a", "b", "c"]), 2: ("meta2", [])}


# ---------------------------------------------------------------------------
# assemble_relations: broadcast resolve vs SMJ fallback produce equal rows
# ---------------------------------------------------------------------------


def test_assemble_relations_broadcast_equals_smj(spark, pages_t1):
    from gosmonaut_spark.operators.assembly import (
        SKIP_MISSING,
        assemble_relations,
        assemble_ways,
    )
    from gosmonaut_spark.sources import pages as src

    nodes = src.extract_nodes(pages_t1)
    ways_raw = src.extract_ways_raw(pages_t1)
    rels_raw = src.extract_relations_raw(pages_t1)
    members = src.rel_members(rels_raw)
    aw = assemble_ways(ways_raw, nodes, mode=SKIP_MISSING)

    # broadcast path (count fits any bound) vs forced SMJ fallback
    bcast = assemble_relations(
        rels_raw, members, aw, nodes, materialize_members=True
    )
    smj = assemble_relations(
        rels_raw,
        members,
        aw,
        nodes,
        materialize_members=True,
        broadcast_members_max_rows=0,
    )
    assert _rows(bcast) == _rows(smj)
    # lazy (non-materialized) path — the r5-shaped plan — same rows too
    lazy = assemble_relations(rels_raw, members, aw, nodes)
    assert _rows(lazy) == _rows(bcast)


# ---------------------------------------------------------------------------
# knn_join_adaptive: brute-tail cutover is row-identical to full escalation
# ---------------------------------------------------------------------------


def test_knn_adaptive_brute_tail_cutover_identical(spark):
    from gosmonaut_spark.operators.knn import knn_join_adaptive

    n = 400
    pts = spark.range(n).select(
        F.col("id"),
        (
            ((F.col("id") * 2654435761) % 2147483647 % 1700000) / 10000.0
            - 85.0
        ).alias("lat"),
        (
            ((F.col("id") * 40503 + 1234567) % 2147483647 % 3600000) / 10000.0
            - 180.0
        ).alias("lon"),
    )
    qs = pts.filter(F.col("id") % 7 == 0).select(
        F.col("id").alias("query_id"), "lat", "lon"
    )
    ts = pts.select(F.col("id").alias("target_id"), "lat", "lon")
    # huge tail bound -> cutover fires on the first uncertified tail;
    # zero bound -> never fires (the r5 full escalation)
    cut = knn_join_adaptive(qs, ts, k=3, res=7, ring=1, brute_tail_max=10**9)
    full = knn_join_adaptive(qs, ts, k=3, res=7, ring=1, brute_tail_max=0)
    assert _rows(cut) == _rows(full)
    # both exact: k rows per query (enough targets exist)
    assert cut.groupBy("query_id").count().filter(F.col("count") != 3).count() == 0


# ---------------------------------------------------------------------------
# tile_pyramid: direct-from-finest rollup equals the chained re-agg
# ---------------------------------------------------------------------------


def test_tile_pyramid_direct_equals_chained(spark):
    from gosmonaut_spark.operators.tiling import (
        points_to_tiles,
        rollup_tiles,
        tile_pyramid,
    )

    pts = spark.range(3000).select(
        ((F.col("id") % 171) - 85.0 + 0.25).alias("lat"),
        ((F.col("id") % 359) - 179.0 + 0.25).alias("lon"),
    )
    out = tile_pyramid(pts, 4, 9)
    # independent chained formulation (the r5 shape)
    finest = points_to_tiles(pts, 9)
    layers = [finest]
    cur = finest
    for r in range(9, 4, -1):
        cur = rollup_tiles(cur, r, r - 1)
        layers.append(cur)
    chained = layers[0]
    for l in layers[1:]:
        chained = chained.unionByName(l)
    assert _rows(out) == _rows(chained)


# ---------------------------------------------------------------------------
# checkpoint footer-metadata count equals a real count
# ---------------------------------------------------------------------------


def test_run_pass_footer_count(spark, tmp_path):
    from gosmonaut_spark.plans.checkpoint import CheckpointStore, _parquet_meta_rows

    ck = CheckpointStore(spark, str(tmp_path))
    df = spark.range(1234).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    out = ck.run_pass("t", lambda: df, partition_by=["p"])
    snaps = ck.snapshots("t")
    assert snaps[-1]["rows"] == 1234 == out.count()
    snap_dir = ck._snap_dir("t", snaps[-1]["id"])
    assert _parquet_meta_rows(snap_dir) == 1234
    # no part file read -> None (so run_pass falls back to a real count),
    # never a silent 0
    assert _parquet_meta_rows(str(tmp_path / "missing")) is None
    (tmp_path / "empty").mkdir()
    assert _parquet_meta_rows(str(tmp_path / "empty")) is None


# ---------------------------------------------------------------------------
# session: python-worker prewarm once per SparkContext
# ---------------------------------------------------------------------------


def test_build_session_reuse_does_not_prewarm(spark, monkeypatch):
    """A build_session that reuses the live SparkContext (getOrCreate)
    starts no pyworker-prewarm job: the context's worker pool was already
    warmed when it was created."""
    import threading

    from gosmonaut_spark.session import build_session

    started = []
    real_start = threading.Thread.start

    def spy(self):
        started.append(self.name)
        return real_start(self)

    monkeypatch.setattr(threading.Thread, "start", spy)
    again = build_session(master="local[8]", shuffle_partitions=8)
    assert again.sparkContext is spark.sparkContext
    assert "pyworker-prewarm" not in started
