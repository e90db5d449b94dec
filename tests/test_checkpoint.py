"""Checkpoint/resume/lineage (B11): idempotent re-runs + partial resume."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gosmonaut_spark.plans.checkpoint import CheckpointStore, run_pipeline_checkpointed


def _counts(dfs):
    return {k: v.count() for k, v in dfs.items()}


def test_checkpoint_resume_and_lineage(spark, pages_t1, tmp_path):
    base = str(tmp_path / "ck")
    ck, dfs = run_pipeline_checkpointed(spark, pages_t1, base)
    first = _counts(dfs)
    lineage1 = ck.lineage()
    passes = [e["pass"] for e in lineage1]
    # one decode pass for all entity kinds, then the two assembly passes
    assert passes == ["entities", "assembled_ways", "relations"]
    for e in lineage1:
        assert e["rows_out"] > 0 and e["wall_ms"] > 0
        assert sum(e["rows_per_partition"]) == e["rows_out"]

    # idempotent re-run: snapshots hit, no new lineage entries, same rows
    ck2, dfs2 = run_pipeline_checkpointed(spark, pages_t1, base)
    assert _counts(dfs2) == first
    assert len(ck2.lineage()) == len(lineage1)

    # partial resume: drop a late pass -> only that pass recomputes
    ck2.invalidate("relations")
    ck3, dfs3 = run_pipeline_checkpointed(spark, pages_t1, base)
    assert _counts(dfs3) == first
    lineage3 = ck3.lineage()
    assert len(lineage3) == len(lineage1) + 1
    assert lineage3[-1]["pass"] == "relations"


def _truth_counters():
    """Each pass's rows and drop counters, counted in pure Python from the
    generator's truth tables for the ``pages_t1`` fixture (500 pages,
    seed 42, dangling refs and members on)."""
    from gosmonaut_spark.fixtures.pages import generate_pages
    from gosmonaut_spark.format.gpb import NODE_TYPE, RELATION_TYPE, WAY_TYPE

    truths = [p.truth for p in generate_pages(500, seed=42, dangling=True)]
    nodes = {i for t in truths for i in t.nodes.ids}
    ways = {i for t in truths for i in t.ways.ids}
    refs = [r for t in truths for refs in t.ways.refs for r in refs]
    members = [
        (mid, mt)
        for t in truths
        for mids, mts in zip(t.rels.member_ids, t.rels.member_types)
        for mid, mt in zip(mids, mts)
    ]
    n_rels = sum(len(t.rels.ids) for t in truths)
    known = {NODE_TYPE: nodes, WAY_TYPE: ways}
    return {
        "entities": {"rows_out": len(nodes) + len(ways) + n_rels},
        "assembled_ways": {
            "rows_out": len(ways),
            "missing_way_nodes": sum(r not in nodes for r in refs),
        },
        "relations": {
            "rows_out": n_rels,
            "dropped_sub_relations": sum(mt == RELATION_TYPE for _, mt in members),
            "dropped_rel_members": sum(
                mid not in known[mt] for mid, mt in members if mt != RELATION_TYPE
            ),
        },
    }


def test_lineage_counters_match_truth(spark, pages_t1, tmp_path):
    """Every computed pass records its rows and per-part-file skew from the
    snapshot footers, and the assembly passes record the drop counters
    they observed during their own write; each equals the value counted
    from the generator's truth."""
    ck, _ = run_pipeline_checkpointed(spark, pages_t1, str(tmp_path / "ck"))
    lineage = {e["pass"]: e for e in ck.lineage()}
    truth = _truth_counters()
    assert set(lineage) == set(truth)
    for name, want in truth.items():
        e = lineage[name]
        assert {k: e[k] for k in want} == want, name
        per_file = e["rows_per_partition"]
        assert e["n_partitions"] == len(per_file) and sum(per_file) == e["rows_out"]
        groups = [per_file]
        if ck.snapshots(name)[-1]["partition_by"]:
            # hive-partitioned: skew is taken within each partition directory
            by_file = ck.read(name).groupBy(F.input_file_name().alias("f")).count().collect()
            by_dir = {}
            for r in by_file:
                by_dir.setdefault(os.path.dirname(r["f"]), []).append(r["count"])
            groups = list(by_dir.values())
        assert e["max_partition_skew"] == max(
            round(max(g) / max(sum(g) / len(g), 1), 2) for g in groups
        ), name
    drops = [v for w in truth.values() for k, v in w.items() if k != "rows_out"]
    assert any(drops), "the fixture must exercise at least one drop counter"


def test_lineage_counters_without_relations(spark, pages_t1, tmp_path):
    """On pages that carry no relation, the optimizer may drop the
    relations pass's observed subtree as provably empty; the pass still
    commits, and its drop counters read None (not measured) or 0, never a
    failure or a non-zero count."""
    from gosmonaut_spark.fixtures.pages import generate_pages

    pages_spec = generate_pages(500, seed=42, dangling=True)
    urls = [p.url for p in pages_spec if not len(p.truth.rels.ids)]
    assert urls, "the fixture must have pages without relations"
    pages = pages_t1.filter(F.col("url").isin(urls))
    ck, dfs = run_pipeline_checkpointed(spark, pages, str(tmp_path / "ck"))
    e = {x["pass"]: x for x in ck.lineage()}["relations"]
    assert e["rows_out"] == 0 and dfs["relations"].count() == 0
    for k in ("dropped_sub_relations", "dropped_rel_members"):
        assert k in e and e[k] in (None, 0), (k, e[k])


def test_empty_pages_commit_and_resume(spark, pages_t1, tmp_path):
    """On empty pages every pass commits an empty snapshot, read back with
    the schema it was written with (no part file to infer one from), and
    a second run on the same directory resumes from those snapshots."""
    base = str(tmp_path / "ck")
    ck, dfs = run_pipeline_checkpointed(spark, pages_t1.limit(0), base)
    lineage = ck.lineage()
    assert [e["pass"] for e in lineage] == ["entities", "assembled_ways", "relations"]
    assert [e["rows_out"] for e in lineage] == [0, 0, 0]
    # no row in any part file: skew is unmeasured, not 0
    assert [e["max_partition_skew"] for e in lineage] == [None, None, None]
    assert {k: v.count() for k, v in dfs.items()} == dict.fromkeys(dfs, 0)

    ck2, dfs2 = run_pipeline_checkpointed(spark, pages_t1.limit(0), base)
    assert ck2.lineage() == lineage
    assert {k: v.schema for k, v in dfs2.items()} == {k: v.schema for k, v in dfs.items()}


def test_checkpoint_outputs_match_direct(spark, pages_t1, tmp_path):
    """Checkpointed pipeline == direct pipeline, row for row."""
    from gosmonaut_spark.operators.assembly import SKIP_MISSING
    from gosmonaut_spark.plans.pipeline import run_pipeline

    _, dfs = run_pipeline_checkpointed(spark, pages_t1, str(tmp_path / "ck2"))
    direct = run_pipeline(pages_t1, {"node", "way", "relation"}, None, mode=SKIP_MISSING)

    a = {
        r.id: r.n
        for r in dfs["assembled_ways"].select("id", F.size("nodes").alias("n")).collect()
    }
    # direct emits only predicate-matching ways; with no predicate both match
    b = {
        r.id: r.n
        for r in direct.ways.select("id", F.size("nodes").alias("n")).collect()
    }
    assert a == b


def test_snapshot_versioning_rollback_and_retention(spark, tmp_path):
    """Iceberg-shaped snapshot semantics: write -> overwrite -> resume
    from the prior snapshot id; retention expires old data dirs but keeps
    them listed in the manifest."""
    import os

    import pytest

    ck = CheckpointStore(spark, str(tmp_path / "snap"), retain=2)

    def build(n):
        return lambda: spark.range(n).selectExpr("id", "id * 2 AS v")

    # v1
    out1 = ck.run_pass("t", build(10))
    assert out1.count() == 10
    assert ck.current_snapshot_id("t") == 1

    # cache hit: same snapshot, no new commit
    assert ck.run_pass("t", build(999)).count() == 10

    # overwrite -> v2, parent recorded
    out2 = ck.run_pass("t", build(20), overwrite=True)
    assert out2.count() == 20
    assert ck.current_snapshot_id("t") == 2
    snaps = ck.snapshots("t")
    assert [s["id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent"] == 1
    assert snaps[0]["rows"] == 10 and snaps[1]["rows"] == 20

    # time travel read of the historical snapshot
    assert ck.read("t", snapshot_id=1).count() == 10

    # resume-from-snapshot: rollback, then run_pass HITS v1 (no recompute)
    ck.rollback("t", 1)
    assert ck.current_snapshot_id("t") == 1
    resumed = ck.run_pass("t", build(999))
    assert resumed.count() == 10

    # invalidate keeps history; next run writes v3 with parent = v1
    ck.invalidate("t")
    assert not ck.has("t")
    out3 = ck.run_pass("t", build(30))
    assert out3.count() == 30
    snaps = ck.snapshots("t")
    assert snaps[-1]["id"] == 3 and snaps[-1]["parent"] == 1

    # retain=2: v1 expired — data dir gone, manifest entry flagged
    assert snaps[0].get("expired") is True
    assert not os.path.exists(str(tmp_path / "snap" / "t" / "snap-00001"))
    with pytest.raises(KeyError, match="expired"):
        ck.read("t", snapshot_id=1)
    with pytest.raises(KeyError):
        ck.rollback("t", 1)
    # retained snapshots still time-travel
    assert ck.read("t", snapshot_id=2).count() == 20

    # a fresh store over the same dir resumes from the manifest
    ck2 = CheckpointStore(spark, str(tmp_path / "snap"), retain=2)
    assert ck2.current_snapshot_id("t") == 3
    assert ck2.run_pass("t", build(999)).count() == 30


def test_expire_snapshots_and_schema_evolution(spark, tmp_path):
    """VERDICT r3 #7: explicit expire_snapshots (delete expired data dirs,
    keep manifest history) + a pass re-run with an ADDED column resuming
    cleanly — the Iceberg schema-evolution discipline on the seam."""
    import os

    import pytest

    ck = CheckpointStore(spark, str(tmp_path / "evo"), retain=10)
    ck.run_pass("t", lambda: spark.range(5).selectExpr("id", "id * 2 AS v"))
    for n in (6, 7, 8):
        ck.run_pass(
            "t",
            lambda n=n: spark.range(n).selectExpr("id", "id * 2 AS v"),
            overwrite=True,
        )
    assert [s["id"] for s in ck.snapshots("t")] == [1, 2, 3, 4]

    # roll current back to 2, then expire keeping the newest 1: snapshots
    # 1 and 3 lose their data dirs, 4 (newest) and 2 (current) survive
    ck.rollback("t", 2)
    expired = ck.expire_snapshots("t", keep_last=1)
    assert expired == [1, 3]
    snaps = {s["id"]: s for s in ck.snapshots("t")}
    assert snaps[1].get("expired") and snaps[3].get("expired")
    assert not snaps[2].get("expired") and not snaps[4].get("expired")
    assert not os.path.exists(str(tmp_path / "evo" / "t" / "snap-00003"))
    assert ck.read("t", snapshot_id=2).count() == 6
    with pytest.raises(KeyError, match="expired"):
        ck.read("t", snapshot_id=3)
    # idempotent: a second expire finds nothing new
    assert ck.expire_snapshots("t", keep_last=1) == []

    # schema evolution: invalidate, re-run with an ADDED column — the new
    # snapshot carries the new schema, time travel still serves the old
    ck.invalidate("t")
    out = ck.run_pass(
        "t",
        lambda: spark.range(9).selectExpr(
            "id", "id * 2 AS v", "CAST(id AS STRING) AS tag"
        ),
    )
    assert out.columns == ["id", "v", "tag"] and out.count() == 9
    assert ck.read("t", snapshot_id=2).columns == ["id", "v"]

    # a fresh store over the same dir resumes the evolved schema cleanly
    ck2 = CheckpointStore(spark, str(tmp_path / "evo"), retain=10)
    resumed = ck2.run_pass("t", lambda: 1 / 0)  # must NOT recompute
    assert resumed.columns == ["id", "v", "tag"] and resumed.count() == 9


def test_merge_upsert(spark, tmp_path):
    """Iceberg MERGE INTO analog: update + insert + tombstone delete in one
    commit; parent chain / time travel / manifest operation all recorded."""
    ck = CheckpointStore(spark, str(tmp_path / "mrg"), retain=10)

    ck.run_pass(
        "t", lambda: spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )

    # update k=2, insert k=4, delete k=3
    ups = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True)],
        "k long, v string, deleted boolean",
    )
    out = ck.merge_upsert("t", ups, ["k"], delete_col="deleted")
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (1, "a"), (2, "B"), (4, "d"),
    ]

    snaps = ck.snapshots("t")
    assert [s["id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent"] == 1
    assert snaps[1]["operation"] == "merge"
    assert snaps[1]["merge_keys"] == ["k"]
    # pre-merge time travel
    assert sorted(r.k for r in ck.read("t", snapshot_id=1).collect()) == [1, 2, 3]

    # merge into an empty pass degenerates to insert
    ins = spark.createDataFrame([(9, "z")], "k long, v string")
    out2 = ck.merge_upsert("u", ins, ["k"])
    assert [(r.k, r.v) for r in out2.collect()] == [(9, "z")]

    # schema evolution through merge: updates carry an added column,
    # untouched pre-merge rows read NULL for it
    ups2 = spark.createDataFrame([(4, "D", 7)], "k long, v string, score int")
    out3 = ck.merge_upsert("t", ups2, ["k"])
    got = {r.k: (r.v, r.score) for r in out3.collect()}
    assert got == {1: ("a", None), 2: ("B", None), 4: ("D", 7)}


def test_compact_files_rewrites_layout_not_content(spark, tmp_path):
    import glob

    from gosmonaut_spark.plans.checkpoint import CheckpointStore

    ck = CheckpointStore(spark, str(tmp_path / "cmp"), retain=10)
    rows = [(i, f"v{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v string").repartition(16)
    ck.run_pass("t", lambda: df)

    def n_files(sid):
        return len(
            glob.glob(str(tmp_path / "cmp" / "t" / f"snap-{sid}" / "**" / "*.parquet"),
                      recursive=True)
        ) or len(glob.glob(str(tmp_path / "cmp" / "t" / "*" / "**" / "*.parquet"),
                           recursive=True))

    files_before = len(
        glob.glob(str(tmp_path / "cmp" / "**" / "*.parquet"), recursive=True)
    )
    assert files_before >= 16

    out = ck.compact_files("t", target_files=2)
    # content identical
    assert sorted((r.k, r.v) for r in out.collect()) == sorted(rows)
    assert sorted((r.k, r.v) for r in ck.read("t").collect()) == sorted(rows)
    # layout rewritten: the new snapshot holds far fewer files
    snaps = ck.snapshots("t")
    assert snaps[-1]["operation"] == "rewrite" and snaps[-1]["parent"] == snaps[0]["id"]
    new_dir = glob.glob(str(tmp_path / "cmp" / "**" / "*.parquet"), recursive=True)
    per_snap = {}
    for f in new_dir:
        sid = [p for p in f.split("/") if p.startswith("snap-")]
        if sid:
            per_snap.setdefault(sid[0], []).append(f)
    assert len(per_snap) == 2  # both snapshots' files still on disk
    new_snap = f"snap-{snaps[-1]['id']:05d}"
    old_snap = f"snap-{snaps[0]['id']:05d}"
    assert len(per_snap[new_snap]) == 2
    assert len(per_snap[old_snap]) >= 16
    # time travel reads the pre-compaction snapshot unchanged
    assert sorted(
        (r.k, r.v) for r in ck.read("t", snapshot_id=snaps[0]["id"]).collect()
    ) == sorted(rows)
    # expire reclaims the small-file snapshot, keeping the compacted one
    expired = ck.expire_snapshots("t", keep_last=1)
    assert snaps[0]["id"] in expired
    left = glob.glob(str(tmp_path / "cmp" / "**" / "*.parquet"), recursive=True)
    assert all(new_snap in f for f in left)


def test_snapshot_diff_changelog(spark, tmp_path):
    """store.diff(v1, v2) recovers EXACTLY the merge that produced v2 —
    the changelog read of the merge_upsert write path — and null-safe
    update detection catches NULL<->value transitions both ways."""
    from gosmonaut_spark.plans.checkpoint import snapshot_diff

    ck = CheckpointStore(spark, str(tmp_path / "cdc"), retain=10)
    ck.run_pass(
        "t",
        lambda: spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (5, None)], "k long, v string"
        ),
    )
    ups = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True), (5, "now", False)],
        "k long, v string, deleted boolean",
    )
    ck.merge_upsert("t", ups, ["k"], delete_col="deleted")

    got = sorted(
        (r.k, r.change, r.old_v, r.new_v)
        for r in ck.diff("t", 1, 2, ["k"], ["v"]).collect()
    )
    assert got == [
        (2, "update", "b", "B"),
        (3, "delete", "c", None),
        (4, "insert", None, "d"),
        (5, "update", None, "now"),  # NULL -> value is an update, not noise
    ]
    # k=1 untouched => absent; diff of a version against itself is empty
    assert ck.diff("t", 2, 2, ["k"], ["v"]).count() == 0
    # value -> NULL direction and multi-compare-column OR
    old = spark.createDataFrame([(1, "x", 10)], "k long, v string, s int")
    new = spark.createDataFrame([(1, None, 10)], "k long, v string, s int")
    row = snapshot_diff(old, new, ["k"], ["v", "s"]).collect()
    assert [(r.k, r.change, r.old_v, r.new_v, r.old_s, r.new_s) for r in row] == [
        (1, "update", "x", None, 10, 10)
    ]


def test_snapshot_diff_key_only(spark):
    """Empty compare_cols degrades to a key-presence diff (ADVICE r4):
    inserts and deletes only, never 'update', no crash — on BOTH the
    Spark operator and the generated DuckDB twin."""
    import duckdb

    from gosmonaut_spark.plans.checkpoint import snapshot_diff, snapshot_diff_sql

    old = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    new = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    got = sorted((r.k, r.change) for r in snapshot_diff(old, new, ["k"], []).collect())
    assert got == [(1, "delete"), (4, "insert")]

    sql = snapshot_diff_sql(
        "SELECT * FROM (VALUES (1), (2), (3)) t(k)",
        "SELECT * FROM (VALUES (2), (3), (4)) t(k)",
        ["k"],
        [],
    )
    dgot = sorted(duckdb.sql(sql).fetchall())
    assert dgot == [(1, "delete"), (4, "insert")]
