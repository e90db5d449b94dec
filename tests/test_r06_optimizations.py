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
    aw = assemble_ways(ways_raw, nodes, mode=SKIP_MISSING)

    # broadcast path (the member table fits the session's broadcast
    # threshold) vs the SMJ fallback, forced by disabling that threshold
    bcast = assemble_relations(
        rels_raw, aw, nodes, materialize_members=True
    )
    bcast_rows = _rows(bcast)
    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [member_id" in plan, plan
    # the inner join already keeps only members: no prune semi joins
    assert "LeftSemi" not in plan, plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        smj = assemble_relations(
            rels_raw, aw, nodes, materialize_members=True
        )
        smj_rows = _rows(smj)
        plan = smj._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    # the member resolve itself is the sort-merge join
    assert "SortMergeJoin [member_id" in plan, plan
    assert "BroadcastHashJoin [member_id" not in plan, plan
    assert bcast_rows == smj_rows
    # lazy (non-materialized) path — the r5-shaped plan — same rows too
    lazy = assemble_relations(rels_raw, aw, nodes)
    assert _rows(lazy) == bcast_rows


# ---------------------------------------------------------------------------
# knn_join_adaptive: brute-tail cutover is row-identical to full escalation
# ---------------------------------------------------------------------------


def test_knn_adaptive_brute_tail_cutover_identical(spark, monkeypatch):
    from gosmonaut_spark.operators import knn

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
    # zero bound -> never fires (the full escalation)
    monkeypatch.setattr(knn, "BRUTE_TAIL_MAX", 10**9)
    cut = knn.knn_join_adaptive(qs, ts, k=3, res=7, ring=1)
    monkeypatch.setattr(knn, "BRUTE_TAIL_MAX", 0)
    full = knn.knn_join_adaptive(qs, ts, k=3, res=7, ring=1)
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
    import os

    from gosmonaut_spark.plans.checkpoint import CheckpointStore, _parquet_meta_rows

    ck = CheckpointStore(spark, str(tmp_path))
    df = spark.range(1234).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    out = ck.run_pass("t", lambda: df, partition_by=["p"])
    snaps = ck.snapshots("t")
    assert snaps[-1]["rows"] == 1234 == out.count()
    snap_dir = ck._snap_dir("t", snaps[-1]["id"])
    files = _parquet_meta_rows(snap_dir)
    per_file = [n for _d, n in files]
    assert sum(per_file) == 1234
    # one (partition directory, count) per part file, equal to a spark
    # count grouped by file
    by_file = out.groupBy(F.input_file_name().alias("f")).count().collect()
    by_dir = {}
    for r in by_file:
        by_dir.setdefault(os.path.basename(os.path.dirname(r["f"])), []).append(r["count"])
    assert sorted(files) == sorted((d, n) for d, ns in by_dir.items() for n in ns)
    assert sorted(by_dir) == ["p=0", "p=1", "p=2"]
    # the lineage entry carries the same counts, and the skew is the
    # largest max/mean within one partition directory
    (e,) = ck.lineage()
    assert e["rows_out"] == 1234 and e["rows_per_partition"] == per_file
    assert e["n_partitions"] == len(per_file) == len(by_file)
    assert e["max_partition_skew"] == max(
        round(max(ns) / (sum(ns) / len(ns)), 2) for ns in by_dir.values()
    )
    # no part file read -> None (so run_pass falls back to a real count),
    # never a silent 0
    assert _parquet_meta_rows(str(tmp_path / "missing")) is None
    (tmp_path / "empty").mkdir()
    assert _parquet_meta_rows(str(tmp_path / "empty")) is None


def test_run_pass_unreadable_footer_records_unknown_skew(spark, tmp_path, monkeypatch):
    """Without footers the row count comes from a real count and the skew
    fields are null, never 0."""
    from gosmonaut_spark.plans import checkpoint

    monkeypatch.setattr(checkpoint, "_parquet_meta_rows", lambda _d: None)
    ck = checkpoint.CheckpointStore(spark, str(tmp_path))
    ck.run_pass("t", lambda: spark.range(77))
    (e,) = ck.lineage()
    assert e["rows_out"] == 77
    assert e["n_partitions"] is e["rows_per_partition"] is e["max_partition_skew"] is None


# ---------------------------------------------------------------------------
# session: reusing the live SparkContext runs no job
# ---------------------------------------------------------------------------


def test_build_session_reuse_submits_no_job(spark):
    """A build_session that reuses the live SparkContext (getOrCreate)
    submits no Spark job, neither inline nor from a thread it starts."""
    import time

    from gosmonaut_spark.session import build_session

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = max(tracker.getJobIdsForGroup(), default=-1)
    again = build_session(master="local[8]", shuffle_partitions=8)
    assert again.sparkContext is sc
    time.sleep(0.5)  # give a job started on another thread time to submit
    # a marker job: the listener bus delivers job starts in submission
    # order, so once the marker shows, every earlier job shows too
    sc.setJobGroup("reuse-marker", "marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("reuse-marker"):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    assert [j for j in tracker.getJobIdsForGroup() if j > before] == []
