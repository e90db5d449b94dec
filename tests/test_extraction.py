"""Pass-0 extraction vs the pure-Python oracle decoder, on real Spark.

The engine path is pages parquet → mapInArrow(numpy decoder) → DataFrames;
the oracle path decodes every blob with gosmonaut_spark.format.gpb (pure
Python) on the driver. Row-for-row equality = the decoder round-trip
invariant at the DataFrame level.
"""

from __future__ import annotations

from gosmonaut_spark.fixtures.pages import generate_pages
from gosmonaut_spark.format.gpb import COORD_SCALE
from gosmonaut_spark.sources.pages import (
    entities_nodes,
    entities_relations_raw,
    entities_ways_raw,
    extract_entities,
    extract_nodes,
    extract_relations_raw,
    extract_texts,
    extract_ways_raw,
    rel_members,
    way_refs,
)

N_PAGES = 500  # t1 profile

# Two routes to each typed table: its own typed pass, and the projection of
# the all-kinds entities pass the checkpointed pipeline snapshots.
NODE_ROUTES = (extract_nodes, lambda p: entities_nodes(extract_entities(p)))
WAY_ROUTES = (extract_ways_raw, lambda p: entities_ways_raw(extract_entities(p)))
REL_ROUTES = (
    extract_relations_raw,
    lambda p: entities_relations_raw(extract_entities(p)),
)


def _truths():
    return generate_pages(N_PAGES, seed=42)


def test_text_byte_identity(spark, pages_t1):
    """North-rule invariant: byte-identical extracted text per url, checked
    against the stored oracle `text` column for every page."""
    texts = extract_texts(pages_t1)
    joined = texts.join(pages_t1.select("url", "text"), "url", "inner")
    n_total = pages_t1.count()
    n_match = joined.filter("text_extracted = text").count()
    assert n_match == n_total == N_PAGES


def test_nodes_match_oracle(spark, pages_t1):
    truth = []
    for spec in _truths():
        t = spec.truth
        for i in range(len(t.nodes.ids)):
            truth.append(
                (
                    spec.url,
                    t.nodes.ids[i],
                    t.nodes.lat_units[i] * COORD_SCALE,
                    t.nodes.lon_units[i] * COORD_SCALE,
                    t.nodes.tags[i],
                )
            )
    truth.sort(key=lambda r: r[1])
    for route in NODE_ROUTES:
        nodes = route(pages_t1).orderBy("id").collect()
        assert len(nodes) == len(truth)
        for row, exp in zip(nodes, truth):
            assert (row.url, row.id) == (exp[0], exp[1])
            assert row.lat == exp[2] and row.lon == exp[3]
            assert (row.tags or {}) == exp[4]


def test_nodes_with_ts_match_join(spark, pages_t1):
    """The carried event time equals a url join against the pages table."""
    from gosmonaut_spark.streaming.stream import extract_nodes_with_ts

    got = extract_nodes_with_ts(pages_t1)
    want = extract_nodes(pages_t1).join(pages_t1.select("url", "warc_ts"), "url")
    want = want.select(*got.columns)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_way_refs_order_preserved(spark, pages_t1):
    """Ref order must be data-carried, never shuffle order
    (reference: ordered stitch, gosmonaut.go:371-390)."""
    import pyspark.sql.functions as F

    truths = _truths()
    for route in WAY_ROUTES:
        refs = (
            way_refs(route(pages_t1))
            .groupBy("way_id")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "node_id"))).alias("s"))
            .select("way_id", F.col("s.node_id").alias("refs"))
            .collect()
        )
        got = {r.way_id: list(r.refs) for r in refs}
        for spec in truths:
            t = spec.truth
            for wid, wrefs in zip(t.ways.ids, t.ways.refs):
                if wrefs:
                    assert got[wid] == wrefs, f"way {wid} ref order mismatch"


def test_rel_members_zip(spark, pages_t1):
    truth = []
    for spec in _truths():
        t = spec.truth
        for j, rid in enumerate(t.rels.ids):
            for p in range(len(t.rels.member_ids[j])):
                truth.append(
                    (rid, p, t.rels.member_ids[j][p], t.rels.member_types[j][p], t.rels.member_roles[j][p])
                )
    truth.sort(key=lambda r: (r[0], r[1]))
    for route in REL_ROUTES:
        mem = rel_members(route(pages_t1)).orderBy("rel_id", "pos").collect()
        assert [(m.rel_id, m.pos, m.member_id, m.member_type, m.role) for m in mem] == truth


def test_cell_expr_matches_numpy_and_props(spark):
    import numpy as np
    import pyspark.sql.functions as F

    from gosmonaut_spark.functions.cells import (
        cell_expr,
        cell_np,
        cell_parent,
        cell_res,
    )

    rng = np.random.default_rng(7)
    lats = np.concatenate([rng.uniform(-90, 90, 500), [90.0, -90.0, 0.0]])
    lons = np.concatenate([rng.uniform(-180, 180, 500), [180.0, -180.0, 0.0]])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lons)], "lat double, lon double"
    )
    for res in (0, 5, 8, 12, 15):
        out = df.select(
            cell_expr("lat", "lon", res).alias("c"),
            cell_res(cell_expr("lat", "lon", res)).alias("r"),
        ).collect()
        expected = cell_np(lats, lons, res)
        assert [r.c for r in out] == expected.tolist()
        assert all(r.r == res for r in out)
    # parent containment: parent(cell(p, r)) == cell(p, r-1)
    for res in (6, 12):
        out = df.select(
            cell_parent(cell_expr("lat", "lon", res), res).alias("p"),
            cell_expr("lat", "lon", res - 1).alias("c"),
        ).collect()
        assert all(r.p == r.c for r in out)


def test_cell_ring(spark):
    """The kNN ring explode: 9 distinct cells around the centre at a fine
    resolution, and at coarse ones (where the ring is as wide as the grid)
    exactly the distinct, y-clamped, x-wrapped neighbourhood — no cell
    twice."""
    import numpy as np

    from gosmonaut_spark.functions.cells import cell_np, cell_x, cell_y
    from gosmonaut_spark.operators.knn import _ring_cells

    pts = [(10.0, 20.0), (89.9, 179.9), (-89.9, -179.9), (0.0, 0.0), (-45.0, 100.0)]
    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)], "id long, lat double, lon double"
    )

    def ring_cells(res, k):
        q = df.select("id", cell_x("lon", res).alias("qx"), cell_y("lat", res).alias("qy"))
        out = {}
        for r in _ring_cells(q, res, k, k).collect():
            out.setdefault(r.id, []).append(r.cell)
        return out

    res = 8
    cells = sorted(ring_cells(res, 1)[0])
    assert len(cells) == 9 and len(set(cells)) == 9
    # the center cell is in its own ring
    assert int(cell_np([10.0], [20.0], res)[0]) in cells

    for res in (0, 1, 2):
        n = 1 << res
        for k in (1, 2):
            got = ring_cells(res, k)
            for i, (la, lo) in enumerate(pts):
                qx = int(np.clip(np.floor((lo + 180.0) / 360.0 * n), 0, n - 1))
                qy = int(np.clip(np.floor((90.0 - la) / 180.0 * n), 0, n - 1))
                want = {
                    (1 << (2 * res)) + ((qx + dx) % n) * n + (qy + dy)
                    for dx in range(-k, k + 1)
                    for dy in range(-k, k + 1)
                    if 0 <= qy + dy < n
                }
                assert len(got[i]) == len(set(got[i])), (res, k, i)
                assert set(got[i]) == want, (res, k, i)


def test_pages_schema_assert(spark):
    """Fail-fast capability check (reference decode.go:289-295 analog)."""
    import pytest

    from gosmonaut_spark.sources.pages import assert_pages_schema

    bad = spark.createDataFrame([("u", b"x")], "url string, html binary")
    with pytest.raises(ValueError, match="schema mismatch"):
        assert_pages_schema(bad)


def test_header_golden(spark):
    """Exact Header equality for the t1 fixture — the recast of the
    reference's header golden test (gosmonaut_test.go:201-238): bbox over
    every node, features, writing program, replication ts/seq/url."""
    from gosmonaut_spark.fixtures.pages import ensure_pages_parquet
    from gosmonaut_spark.sources.pages import Header, read_header

    h = read_header(ensure_pages_parquet("t1"))
    golden = Header(
        {
            "bounding_box": {
                "left": -157.7552483,
                "right": 159.1336042,
                "top": 53.73052320000001,
                "bottom": -45.393087200000004,
            },
            "required_features": ["GPB1-v1", "DenseGeo"],
            "optional_features": ["Sort.Type_then_ID"],
            "writing_program": "gosmonaut_spark_fixture/1.0",
            "source": "synthetic-seed-42",
            "osmosis_replication_timestamp": 1767225600,
            "osmosis_replication_sequence_number": 500,
            "osmosis_replication_base_url": "https://synth.example/replication",
        }
    )
    assert h == golden


def test_header_capability_fail_fast(spark, tmp_path):
    """An input table demanding an unimplemented required feature must die
    at plan time (reference decode.go:289-295), before any job launches."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from gosmonaut_spark.sources.pages import read_pages

    tbl = pa.table(
        {
            "url": pa.array(["u"], pa.string()),
            "warc_ts": pa.array([0], pa.timestamp("us")),
            "html": pa.array([b"x"], pa.binary()),
            "text": pa.array(["t"], pa.string()),
            "lang": pa.array(["en"], pa.string()),
        }
    )
    hdr = {"required_features": ["GPB1-v1", "HistoricalInformation"]}
    tbl = tbl.replace_schema_metadata(
        {b"gosmonaut.header": json.dumps(hdr).encode()}
    )
    p = str(tmp_path / "future.parquet")
    pq.write_table(tbl, p)
    with pytest.raises(ValueError, match="unsupported features"):
        read_pages(spark, p)


def test_header_multi_file_scan(tmp_path):
    """Directory tables: the header is honored wherever it lives among the
    part files (not just the alphabetically-first one), and conflicting
    headers across parts raise instead of silently picking one."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from gosmonaut_spark.sources.pages import Header, read_header

    def part(hdr: dict | None) -> pa.Table:
        tbl = pa.table({"url": pa.array(["u"], pa.string())})
        if hdr is not None:
            tbl = tbl.replace_schema_metadata(
                {b"gosmonaut.header": json.dumps(hdr).encode()}
            )
        return tbl

    hdr = {"required_features": ["GPB1-v1"], "source": "s"}

    # header only in the LAST part file
    d1 = tmp_path / "late_header"
    d1.mkdir()
    pq.write_table(part(None), str(d1 / "part0.parquet"))
    pq.write_table(part(None), str(d1 / "part1.parquet"))
    pq.write_table(part(hdr), str(d1 / "part2.parquet"))
    assert read_header(str(d1)) == Header(hdr)

    # identical headers in several parts: fine
    d2 = tmp_path / "dup_header"
    d2.mkdir()
    pq.write_table(part(hdr), str(d2 / "part0.parquet"))
    pq.write_table(part(hdr), str(d2 / "part1.parquet"))
    assert read_header(str(d2)) == Header(hdr)

    # conflicting headers: loud failure
    d3 = tmp_path / "conflict"
    d3.mkdir()
    pq.write_table(part(hdr), str(d3 / "part0.parquet"))
    pq.write_table(part({**hdr, "source": "other"}), str(d3 / "part1.parquet"))
    with pytest.raises(ValueError, match="conflicting gosmonaut.header"):
        read_header(str(d3))

    # no header anywhere: None
    d4 = tmp_path / "none"
    d4.mkdir()
    pq.write_table(part(None), str(d4 / "part0.parquet"))
    assert read_header(str(d4)) is None
