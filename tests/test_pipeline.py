"""End-to-end pipeline tests vs an independent pure-Python oracle.

Recast of the reference's golden workloads (/root/reference/gosmonaut_test.go:
52-75: 'addresses' = has addr:housenumber over all types; 'restrictions' =
type=restriction over relations only) with the counting rule of
gosmonaut_test.go:138-181 (totals include nested children).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gosmonaut_spark.fixtures.pages import generate_pages
from gosmonaut_spark.format.gpb import NODE_TYPE, RELATION_TYPE, WAY_TYPE
from gosmonaut_spark.operators import predicates as P
from gosmonaut_spark.operators.assembly import SKIP_MISSING, STRICT
from gosmonaut_spark.plans.pipeline import entities_union, run_pipeline

N_PAGES = 500


class Oracle:
    """Pure-Python reimplementation of the 5-pass semantics."""

    def __init__(self, n_pages=N_PAGES, dangling=True):
        self.nodes = {}   # id -> (lat_unit, lon_unit, tags)
        self.ways = {}    # id -> (refs, tags)
        self.rels = {}    # id -> (member_ids, member_types, member_roles, tags)
        for spec in generate_pages(n_pages, seed=42, dangling=dangling):
            t = spec.truth
            for i, nid in enumerate(t.nodes.ids):
                self.nodes[nid] = (t.nodes.lat_units[i], t.nodes.lon_units[i], t.nodes.tags[i])
            for j, wid in enumerate(t.ways.ids):
                self.ways[wid] = (t.ways.refs[j], t.ways.tags[j])
            for j, rid in enumerate(t.rels.ids):
                self.rels[rid] = (
                    t.rels.member_ids[j],
                    t.rels.member_types[j],
                    t.rels.member_roles[j],
                    t.rels.tags[j],
                )

    def run(self, types, pred):
        """Returns (node_count, way_count, rel_count) including children,
        plus the emitted way node-arrays for order checks."""
        nc = wc = rc = 0
        emitted_way_nodes = {}

        if "node" in types:
            nc += sum(1 for _, (_, _, tags) in self.nodes.items() if pred(tags))

        def assemble(wid):
            refs, _ = self.ways[wid]
            return [r for r in refs if r in self.nodes]

        if "way" in types:
            for wid, (refs, tags) in self.ways.items():
                if pred(tags):
                    resolved = assemble(wid)
                    wc += 1
                    nc += len(resolved)
                    emitted_way_nodes[wid] = resolved

        if "relation" in types:
            for rid, (mids, mtypes, _roles, tags) in self.rels.items():
                if not pred(tags):
                    continue
                rc += 1
                for mid, mt in zip(mids, mtypes):
                    if mt == RELATION_TYPE:
                        continue  # dropped sub-relation
                    if mt == WAY_TYPE:
                        if mid in self.ways:
                            wc += 1
                            nc += len(assemble(mid))
                    elif mt == NODE_TYPE:
                        if mid in self.nodes:
                            nc += 1
        return {"nodes": nc, "ways": wc, "relations": rc}, emitted_way_nodes


@pytest.fixture(scope="module")
def oracle():
    return Oracle()


def test_workload_addresses(spark, pages_t1, oracle):
    """All types, has_tag('addr:housenumber') — counts incl. children."""
    expected, way_nodes = oracle.run(
        {"node", "way", "relation"}, lambda t: "addr:housenumber" in t
    )
    res = run_pipeline(
        pages_t1, P.ALL_TYPES, P.has_tag("addr:housenumber"), mode=SKIP_MISSING
    )
    assert res.workload_counts() == expected
    # order of resolved way nodes == ref order (minus dropped danglings)
    got = {
        r.id: [n.id for n in r.nodes]
        for r in res.ways.select("id", "nodes").collect()
    }
    assert got == way_nodes


def test_workload_restrictions(spark, pages_t1, oracle):
    """Relations only, tag_equals('type','restriction')."""
    expected, _ = oracle.run(
        {"relation"}, lambda t: t.get("type") == "restriction"
    )
    res = run_pipeline(
        pages_t1, {P.RELATION}, P.tag_equals("type", "restriction"), mode=SKIP_MISSING
    )
    assert res.nodes is None and res.ways is None
    assert res.workload_counts() == expected
    # the lazy pipeline measures no counter: None, never a silent 0
    m = res.metrics
    assert m.missing_way_nodes is m.dropped_rel_members is m.dropped_sub_relations is None


def test_relation_member_semantics(spark, pages_t1, oracle):
    """Sub-relations and dangling members are dropped; member order is the
    input order of surviving members (gosmonaut.go:441-465)."""
    res = run_pipeline(pages_t1, {P.RELATION}, None, mode=SKIP_MISSING)
    got = {
        r.id: [(m.type, (m.node.id if m.type == "node" else m.way.id), m.role) for m in r.members]
        for r in res.relations.collect()
    }
    for rid, (mids, mtypes, roles, _tags) in oracle.rels.items():
        exp = []
        for mid, mt, role in zip(mids, mtypes, roles):
            if mt == RELATION_TYPE:
                continue
            if mt == WAY_TYPE and mid in oracle.ways:
                exp.append(("way", mid, role))
            elif mt == NODE_TYPE and mid in oracle.nodes:
                exp.append(("node", mid, role))
        assert got[rid] == exp, f"relation {rid} member mismatch"


def test_strict_mode_raises_on_dangling(spark, pages_t1):
    # the dangling-ref check now runs inside the assembly join itself
    # (raise_error), so it surfaces at action time as a Spark exception
    with pytest.raises(Exception, match="dangling"):
        run_pipeline(pages_t1, {P.WAY}, None, mode=STRICT).ways.count()


def test_strict_mode_clean_fixture(spark, tmp_path):
    from gosmonaut_spark.fixtures.pages import write_pages_parquet
    from gosmonaut_spark.sources.pages import read_pages

    path = str(tmp_path / "clean.parquet")
    write_pages_parquet(path, 120, seed=42, dangling=False)
    pages = read_pages(spark, path)
    res = run_pipeline(pages, P.ALL_TYPES, None, mode=STRICT)
    assert res.ways.count() > 0


def test_empty_predicate(spark, pages_t1):
    """Always-false predicate -> 0/0/0, no errors (gosmonaut_test.go:77-95)."""
    res = run_pipeline(pages_t1, P.ALL_TYPES, P.always_false(), mode=SKIP_MISSING)
    assert res.workload_counts() == {"nodes": 0, "ways": 0, "relations": 0}


def test_type_order_invariant(spark, pages_t1):
    """Union stream is globally ordered nodes -> ways -> relations."""
    res = run_pipeline(
        pages_t1, P.ALL_TYPES, P.has_tag("addr:housenumber"), mode=SKIP_MISSING
    )
    ranks = [r.type_rank for r in entities_union(res).select("type_rank").collect()]
    assert ranks == sorted(ranks)
    assert set(ranks) == {1, 2, 4}


def test_pull_iterator_order_and_error(spark, pages_t1):
    """The Next()-style pull consumer (gosmonaut.go:219-236 analog):
    global type order through the iterator path, ids ordered within type,
    and strict-mode errors surface at the pull site."""
    from gosmonaut_spark.plans.pipeline import entities_iterator

    res = run_pipeline(
        pages_t1, P.ALL_TYPES, P.has_tag("addr:housenumber"), mode=SKIP_MISSING
    )
    seen = [(r.type_rank, r.id) for r in entities_iterator(res)]
    assert len(seen) > 0
    assert seen == sorted(seen)
    assert [t for t, _ in seen] == sorted(t for t, _ in seen)

    # error short-circuit: dangling refs in strict mode raise FROM the pull
    strict = run_pipeline(pages_t1, {P.WAY}, None, mode=STRICT)
    with pytest.raises(Exception, match="dangling"):
        for _row in entities_iterator(strict):
            pass


def test_ordered_collect_large_key(spark):
    """The single-agg ordered collect must handle a very large key without
    per-key quadratic blowup (a 30k-member 'relation'): order exact, one
    output row, map payload round-trips through the orderable transform."""
    from gosmonaut_spark.operators.assembly import ordered_collect_rows

    n = 30_000
    df = (
        spark.range(n)
        .select(
            F.lit(1).alias("k"),
            F.col("id").alias("pos"),
            F.struct(
                (F.col("id") * 2).alias("v"),
                F.create_map(F.lit("a"), F.col("id").cast("string")).alias("tags"),
            ).alias("val"),
        )
        .repartition(8)  # scatter rows so the agg really merges partials
    )
    rows = ordered_collect_rows(df, "k", "pos", F.col("val"), "vals").collect()
    assert len(rows) == 1
    vals = rows[0].vals
    assert len(vals) == n
    assert [x["v"] for x in vals[:5]] == [0, 2, 4, 6, 8]
    assert vals[-1]["v"] == 2 * (n - 1)
    assert vals[12345]["tags"] == {"a": "12345"}


def test_ordered_collect_correct_in_foreign_session_conf(spark):
    """The ordered collect must be exact under ANY aggregation mode, with
    no session-conf requirement (ADVICE r2 / VERDICT r2 #4): a foreign
    session enabling ObjectHashAggregate — including its sort-based
    fallback, forced here via a threshold of 1 so it re-sorts remaining
    input by group key only, scrambling within-key pos order — must still
    get pos-ordered arrays, and the operator must not touch the conf."""
    from gosmonaut_spark.operators.assembly import ordered_collect_rows

    key = "spark.sql.execution.useObjectHashAggregateExec"
    thr = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    prev, prev_thr = spark.conf.get(key), spark.conf.get(thr)
    spark.conf.set(key, "true")
    spark.conf.set(thr, "1")  # force the order-breaking fallback path
    try:
        df = (
            spark.range(2000)
            .select(
                (F.col("id") % 50).alias("k"),
                (F.col("id") / F.lit(50)).cast("long").alias("pos"),
                F.struct(
                    F.col("id").alias("v"),
                    F.create_map(
                        F.lit("a"), F.col("id").cast("string")
                    ).alias("tags"),
                ).alias("val"),
            )
            .repartition(4)
        )
        out = ordered_collect_rows(df, "k", "pos", F.col("val"), "vals")
        rows = {r.k: r.vals for r in out.collect()}
        assert spark.conf.get(key) == "true", "operator mutated session conf"
        assert len(rows) == 50
        for k, vals in rows.items():
            assert [x["v"] for x in vals] == [k + 50 * p for p in range(40)]
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(thr, prev_thr)


def test_ordered_collect_empty_group_via_keep_mask(spark):
    """A key whose every element fails the keep mask must survive as one
    row with an empty (not null) array — the SKIP_MISSING contract."""
    from gosmonaut_spark.operators.assembly import ordered_collect_rows

    df = spark.range(6).select(
        (F.col("id") % 2).alias("k"),
        F.col("id").alias("pos"),
        F.col("id").alias("v"),
    )
    out = ordered_collect_rows(
        df, "k", "pos", F.col("v"), "vals", keep=F.col("k") == 0
    )
    rows = {r.k: r.vals for r in out.collect()}
    assert rows[0] == [0, 2, 4]
    assert rows[1] == []


def test_cached_scope_releases_operator_intermediates(spark):
    """cached_scope must unpersist operator-persisted intermediates even
    when the caller transformed the returned DataFrame (which drops the
    exact-object handles release_cached relies on)."""
    from gosmonaut_spark.functions.caching import (
        attach_cached,
        cached_scope,
        release_cached,
    )

    def fake_operator():
        inter = spark.range(100).persist()
        inter.count()
        return attach_cached(inter.selectExpr("id * 2 AS v"), [inter])

    with cached_scope() as handles:
        out = fake_operator()
        derived = out.filter("v > 10")  # drops the attribute
        assert derived.count() == 94
        assert len(handles) == 1
        assert handles[0].storageLevel.useMemory
    assert not handles[0].storageLevel.useMemory, "scope exit must unpersist"

    # exact-object release still works without a scope
    out2 = fake_operator()
    h = getattr(out2, "_gosmonaut_cached")[0]
    assert h.storageLevel.useMemory
    release_cached(out2)
    assert not h.storageLevel.useMemory
