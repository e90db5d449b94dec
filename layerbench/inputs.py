"""Seeded inputs and their oracles.

Every input is a pure function of the seed and is written under the run's
work directory before the JVM starts.  Expected results come from sources
the Spark path under test never touches: the page generator's truth
tables (queried with DuckDB) and numpy over the generated tables.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Pages of the ingest_spatial workload.  Sized so one warm pipeline or PIP
# operation takes a few seconds on local[4], which keeps a whole run well
# inside the per-run time budget (see README.md, "Sizing").
PAGES = 600
# keep polygons with polygon_id % PIP_K == 0
PIP_K = 2

# sizes of the llm_ops workload's tables
N_POINTS = 20_000
N_DOCS = 600
N_VECS = 600
DIM = 64
KNN_MOD, ANN_MOD = 11, 7  # query subsets: id % MOD == seed % MOD
DUP_SHIFT = 10_000_000  # id offset of the injected duplicate documents


def write_parts(tbl: pa.Table, path: str, parts: int) -> None:
    """``tbl`` as a directory of ``parts`` parquet files, one Spark input
    split each, the way a large table arrives; the schema metadata (the
    pages table's Header) goes into every part."""
    os.makedirs(path)
    step = -(-tbl.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            tbl.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="zstd",
        )


def write_pages(path: str, n_pages: int, seed: int, procs: int) -> float:
    """The seed's pages table in ``2 * procs`` parts; returns the
    generation wall time.  The generator writes one file of 512-row
    groups, which at this size would be a single split."""
    from gosmonaut_spark.fixtures.pages import write_pages_parquet_parallel

    t0 = time.perf_counter()
    single = path + ".one"
    write_pages_parquet_parallel(single, n_pages, seed=seed, procs=procs)
    write_parts(pq.read_table(single), path, 2 * procs)
    os.remove(single)
    return time.perf_counter() - t0


def truth(out_dir: str, n_pages: int, seed: int) -> dict[str, str]:
    from gosmonaut_spark.fixtures.pages import write_truth_parquet

    return write_truth_parquet(out_dir, n_pages, seed=seed)


def truth_counts(tp: dict[str, str]) -> dict[str, int]:
    """Entity counts of the truth tables, plus the nested totals that
    ``PipelineResult.workload_counts`` reports (way members add their
    resolved nodes; relations add resolved node and way members and the
    ways' nodes).  Dangling refs and relation members resolve to nothing,
    exactly as ``SKIP_MISSING`` drops them."""
    import duckdb

    row = duckdb.sql(
        f"""
WITH n AS (SELECT id FROM read_parquet('{tp["nodes"]}')),
w AS (SELECT way_id FROM read_parquet('{tp["ways"]}')),
wn AS (
  SELECT w.way_id, count(n.id) AS k
  FROM w LEFT JOIN read_parquet('{tp["way_refs"]}') r ON r.way_id = w.way_id
  LEFT JOIN n ON n.id = r.ref
  GROUP BY w.way_id
),
m AS (SELECT * FROM read_parquet('{tp["rel_members"]}'))
SELECT (SELECT count(*) FROM n),
       (SELECT count(*) FROM w),
       (SELECT count(*) FROM read_parquet('{tp["rels"]}')),
       (SELECT sum(k) FROM wn),
       (SELECT count(*) FROM m JOIN n ON m.mtype = 'node' AND m.ref = n.id),
       (SELECT count(*) FROM m JOIN wn ON m.mtype = 'way' AND m.ref = wn.way_id),
       (SELECT coalesce(sum(wn.k), 0)
          FROM m JOIN wn ON m.mtype = 'way' AND m.ref = wn.way_id)
"""
    ).fetchone()
    n, w, r, way_nodes, rel_nodes, rel_ways, rel_way_nodes = (int(v) for v in row)
    return {
        "nodes": n,
        "ways": w,
        "relations": r,
        "nested": {
            "nodes": n + way_nodes + rel_nodes + rel_way_nodes,
            "ways": w + rel_ways,
            "relations": r,
        },
    }


def pip_oracle(tp: dict[str, str], k: int) -> int:
    """(point, polygon) pairs with the point inside, over the rings whose
    way id is divisible by ``k``.  PNPOLY term-for-term as the engine's
    ray cast (the ``pages_pip_tiles`` oracle in ``queries.py``), so the
    count is exact."""
    import duckdb

    return int(
        duckdb.sql(
            f"""
WITH nodes AS (SELECT id, lat, lon FROM read_parquet('{tp["nodes"]}')),
resolved AS (
  SELECT r.way_id, r.pos, n.id, n.lat, n.lon
  FROM read_parquet('{tp["way_refs"]}') r JOIN nodes n ON r.ref = n.id
  WHERE r.way_id % {k} = 0
),
ring_stat AS (
  SELECT way_id FROM resolved GROUP BY way_id
  HAVING count(*) >= 4 AND arg_min(id, pos) = arg_max(id, pos)
),
verts AS (
  SELECT s.way_id, row_number() OVER (PARTITION BY s.way_id ORDER BY s.pos) AS i,
         s.lat, s.lon
  FROM resolved s JOIN ring_stat USING (way_id)
),
edges AS (
  SELECT a.way_id, a.lat AS y1, a.lon AS x1, b.lat AS y2, b.lon AS x2
  FROM verts a JOIN verts b ON a.way_id = b.way_id AND b.i = a.i + 1
),
bbox AS (
  SELECT way_id, min(lat) AS min_lat, max(lat) AS max_lat,
         min(lon) AS min_lon, max(lon) AS max_lon
  FROM verts GROUP BY way_id
),
cand AS (
  SELECT p.id AS pt, p.lat AS plat, p.lon AS plon, b.way_id
  FROM nodes p JOIN bbox b
    ON p.lat >= b.min_lat AND p.lat <= b.max_lat
   AND p.lon >= b.min_lon AND p.lon <= b.max_lon
),
par AS (
  SELECT c.pt, c.way_id,
         sum(CASE WHEN (e.y1 > c.plat) != (e.y2 > c.plat)
                   AND c.plon < (e.x2 - e.x1) * (c.plat - e.y1)
                               / (e.y2 - e.y1) + e.x1
              THEN 1 ELSE 0 END) AS k
  FROM cand c JOIN edges e ON e.way_id = c.way_id
  GROUP BY c.pt, c.way_id
)
SELECT count(*) FROM par WHERE k % 2 = 1"""
        ).fetchone()[0]
    )


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def write_llm_tables(out_dir: str, seed: int, parts: int) -> dict[str, str]:
    """events (event_id only: ``queries._pts`` derives the points from
    it), documents and embeddings, each in ``parts`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x11])
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in ("events", "documents", "embeddings")}

    event_id = np.sort(rng.choice(1_000_000_000, N_POINTS, replace=False)).astype(np.int64)
    write_parts(pa.table({"event_id": event_id}), paths["events"], parts)

    # Zipf-weighted vocabulary: documents share common words the way real
    # text does, so LSH buckets are uneven, but 3-word shingles of two
    # independent documents rarely coincide
    vocab = _words(rng, 800)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    n_words = rng.integers(20, 61, N_DOCS)
    texts = [" ".join(rng.choice(vocab, k, p=p)) for k in n_words]
    write_parts(
        pa.table({"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts}),
        paths["documents"],
        parts,
    )

    vecs = rng.normal(size=(N_VECS, DIM)).astype(np.float32)
    write_parts(
        pa.table(
            {
                "vec_id": np.arange(N_VECS, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs.ravel()), DIM
                ).cast(pa.list_(pa.float32())),
            }
        ),
        paths["embeddings"],
        parts,
    )
    return paths


def points(event_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of each event, the numpy twin of ``queries._pts``: the
    products stay below 2**63, so the integer steps are exact and the one
    float division rounds as Spark's does."""
    from gosmonaut_spark.queries import _M, _O2, _P1, _P2

    hlat = (event_id * _P1) % _M
    hlon = (event_id * _P2 + _O2) % _M
    return (hlat % 1_700_000) / 10_000.0 - 85.0, (hlon % 3_600_000) / 10_000.0 - 180.0


def knn_candidates(ids: np.ndarray, lat: np.ndarray, lon: np.ndarray,
                   is_query: np.ndarray, res: int, ring: int) -> dict[int, int]:
    """Targets inside each query's (2*ring+1)^2 cell neighbourhood: x wraps
    across the antimeridian, y clamps at the poles — the candidate set
    ``knn_join`` scores before its top-k."""
    from gosmonaut_spark.functions.cells import cell_np

    n = 1 << res
    rel = cell_np(lat, lon, res) - np.int64(1 << (2 * res))
    x, y = rel // n, rel % n
    grid = np.zeros((n, n), dtype=np.int64)
    np.add.at(grid, (x, y), 1)
    out = {}
    for qi in np.flatnonzero(is_query):
        cells = {
            ((x[qi] + dx) % n, y[qi] + dy)
            for dx in range(-ring, ring + 1)
            for dy in range(-ring, ring + 1)
            if 0 <= y[qi] + dy < n
        }
        out[int(ids[qi])] = int(sum(grid[c] for c in cells))
    return out
