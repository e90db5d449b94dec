"""The workloads: inputs and oracles, one operation of each kind and its
output check.

Each operation calls one layer's public functions and runs one action on
the result; the action's output is what the check reads.  A check raises
``CheckFailed``; the loop in ``run.py`` counts it as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics

import inputs


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus
        self.gen_s = 0.0  # input generation, part of setup_s
        self.pages_gen_s = 0.0  # the pages table's share of gen_s

    def generate(self) -> None:
        """Write the seed's inputs and compute the oracles (no JVM yet)."""

    def bind(self, spark) -> None:
        """Re-create the session-bound inputs after a session rebuild."""

    def run(self, kind: str, spark, tracer):
        raise NotImplementedError

    def check(self, kind: str, out) -> int:
        """Validate one operation's output; return its row count."""
        raise NotImplementedError

    def after(self, kind: str, out, ok: bool, spark) -> None:
        """Bookkeeping and clean-up outside the timed window."""

    def layer_metrics(self, spark, tracer) -> dict[str, float]:
        """Layer probes of the traced run (outside the timed window)."""
        return {}


# ---------------------------------------------------------------------------


class IngestSpatial(Workload):
    """The full checkpointed pipeline, then the PIP join and the tile
    pyramid over snapshots, in rotation.

    ``ingest`` decodes the seed's pages, writes the snapshots and runs the
    assembly shuffles into a fresh directory: the only kind that runs
    ``format.gpb_numpy`` and writes snapshots.  ``pip`` and ``tiles`` only
    read the snapshots the first ``ingest`` wrote (broadcast joins and
    aggregates skewed onto the fixture's Zipf-weighted cities), so decode
    and assembly changes reach them only through the files they read."""

    name = "ingest_spatial"
    kinds = ("ingest", "pip", "tiles")
    n_pages = inputs.PAGES
    PASSES = [
        "sources.pages:entities",
        "operators.assembly:assembled_ways",
        "operators.assembly:relations",
    ]

    def generate(self) -> None:
        self.pages_path = os.path.join(self.work, "pages")
        self.pages_gen_s = inputs.write_pages(self.pages_path, self.n_pages, self.seed, self.cpus)
        self.gen_s = self.pages_gen_s
        tp = inputs.truth(os.path.join(self.work, "truth"), self.n_pages, self.seed)
        self.expected = inputs.truth_counts(tp)
        self.expected_pip = inputs.pip_oracle(tp, inputs.PIP_K)
        self.n_ops = 0
        self.snapshots = None  # the first ingest's directory, read by pip and tiles
        self.lineages: list[list[dict]] = []
        self.bytes_written: list[int] = []

    def pages(self, spark):
        from gosmonaut_spark.sources.pages import read_pages

        return read_pages(spark, self.pages_path)

    def bind(self, spark) -> None:
        from gosmonaut_spark.plans.checkpoint import CheckpointStore
        from gosmonaut_spark.sources import pages as src

        if self.snapshots is None:
            return
        ck = CheckpointStore(spark, self.snapshots)
        self.nodes = src.entities_nodes(ck.read("entities")).select("id", "lat", "lon")
        self.ways = ck.read("assembled_ways")

    def run(self, kind, spark, tracer):
        import pyspark.sql.functions as F

        from gosmonaut_spark.operators.assembly import SKIP_MISSING, AssemblyMetrics
        from gosmonaut_spark.operators.pip import point_in_polygon_join, polygons_from_ways
        from gosmonaut_spark.operators.tiling import tile_pyramid
        from gosmonaut_spark.plans.checkpoint import run_pipeline_checkpointed
        from gosmonaut_spark.plans.pipeline import PipelineResult

        if kind == "ingest":
            self.n_ops += 1
            base = os.path.join(self.work, f"ck-{self.n_ops}")
            ck, dfs = run_pipeline_checkpointed(
                spark,
                self.pages(spark),
                base,
                mode=SKIP_MISSING,
                post_pass=tracer.passes(self.PASSES),
            )
            with tracer.span("plans.pipeline:workload_counts"):
                counts = PipelineResult(
                    dfs["nodes"], dfs["assembled_ways"], dfs["relations"], AssemblyMetrics()
                ).workload_counts()
            return {"counts": counts, "lineage": ck.lineage(), "base": base}
        if kind == "pip":
            with tracer.span("operators.pip:join"):
                polys = polygons_from_ways(self.ways).filter(
                    F.col("polygon_id") % inputs.PIP_K == 0
                )
                return point_in_polygon_join(self.nodes, polys, res=13, engine="edges").count()
        with tracer.span("operators.tiling:pyramid"):
            # one action: the row count and the per-resolution point sums
            return tile_pyramid(self.nodes, 5, 12).groupBy("res").agg(
                F.count(F.lit(1)).alias("tiles"), F.sum("n_points").alias("points")
            ).collect()

    def check(self, kind, out) -> int:
        e = self.expected
        if kind == "pip":
            expect(out == self.expected_pip, f"pip rows {out} != oracle {self.expected_pip}")
            return out
        if kind == "tiles":
            per_res = {r["res"]: r["points"] for r in out}
            want = {r: e["nodes"] for r in range(5, 13)}
            expect(per_res == want, f"tile point sums {per_res} != node count {want}")
            return sum(r["tiles"] for r in out)
        expect(
            out["counts"] == e["nested"],
            f"workload_counts {out['counts']} != truth {e['nested']}",
        )
        rows = {x["pass"]: x["rows_out"] for x in out["lineage"]}
        want = {
            "entities": e["nodes"] + e["ways"] + e["relations"],
            "assembled_ways": e["ways"],
            "relations": e["relations"],
        }
        expect(rows == want, f"snapshot rows {rows} != truth {want}")
        return want["entities"]

    def after(self, kind, out, ok: bool, spark) -> None:
        if kind != "ingest" or out is None:
            return
        self.lineages.append(out["lineage"])
        self.bytes_written.append(du(out["base"]))
        if ok and self.snapshots is None:
            self.snapshots = out["base"]
            self.bind(spark)
        else:
            shutil.rmtree(out["base"], ignore_errors=True)

    def layer_metrics(self, spark, tracer) -> dict[str, float]:
        m = _decode_probe(self.pages_path)
        m.update(self._scan_extract(spark, tracer))
        m.update(_checkpoint_metrics(self.lineages, self.bytes_written, self.pages_path))
        m["plans.checkpoint.write_s"] = max(
            m["plans.checkpoint.entities_s"] - m["sources.pages.extract_s"], 0.0
        )
        return m

    def _scan_extract(self, spark, tracer) -> dict[str, float]:
        """Noop-sink timings of the scan alone and of scan + decode."""
        import time

        from gosmonaut_spark.sources.pages import extract_entities

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        out = {}
        for key, make in (
            ("scan_s", lambda: self.pages(spark).select("url", "html")),
            ("extract_s", lambda: extract_entities(self.pages(spark))),
        ):
            walls = []
            for _ in range(3):
                with tracer.span(f"probe.sources.pages:{key}"):
                    t0 = time.perf_counter()
                    noop(make())
                    walls.append(time.perf_counter() - t0)
            out[f"sources.pages.{key}"] = statistics.median(walls)
        return out


def _decode_probe(pages_path: str, n: int = 200, repeat: int = 3) -> dict[str, float]:
    """``decode_page_np`` on the driver, one thread, over the first ``n``
    blobs of the seed's pages; median of ``repeat`` passes."""
    import time

    import pyarrow.parquet as pq

    from gosmonaut_spark.format.gpb_numpy import decode_page_np

    blobs = pq.read_table(pages_path, columns=["html"]).column("html").to_pylist()[:n]
    walls = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        for b in blobs:
            decode_page_np(b)
        walls.append(time.perf_counter() - t0)
    return {"format.gpb_numpy.decode_us_per_page": statistics.median(walls) / len(blobs) * 1e6}


def _checkpoint_metrics(lineages, bytes_written, pages_path) -> dict[str, float]:
    """Per-pass walls (median over the pipeline runs) and snapshot bytes
    from ``CheckpointStore.lineage()`` and the snapshot directories."""
    out = {}
    for p in ("entities", "assembled_ways", "relations"):
        walls = [x["wall_ms"] / 1000 for lin in lineages for x in lin if x["pass"] == p]
        rows = {x["rows_out"] for lin in lineages for x in lin if x["pass"] == p}
        out[f"plans.checkpoint.{p}_s"] = statistics.median(walls) if walls else 0.0
        out[f"plans.checkpoint.rows_out.{p}"] = float(max(rows)) if rows else 0.0
    written = statistics.median(bytes_written) if bytes_written else 0.0
    out["plans.checkpoint.bytes_written"] = float(written)
    out["plans.checkpoint.write_amp"] = written / du(pages_path)
    return out


# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------


class LlmOps(Workload):
    """The kNN ring join, MinHash dedup and LSH cosine top-k in rotation
    over small generated tables, where per-job fixed costs (session pins,
    prewarm, eager counts, cache materialisation) dominate.  No pages, no
    snapshots."""

    name = "llm_ops"
    kinds = ("knn", "dedup", "ann")

    def generate(self) -> None:
        import time

        import numpy as np
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        self.dir = os.path.join(self.work, "llm")
        self.paths = inputs.write_llm_tables(self.dir, self.seed, self.cpus)
        self.gen_s = time.perf_counter() - t0
        self.knn_r = self.seed % inputs.KNN_MOD
        self.ann_r = self.seed % inputs.ANN_MOD
        self.doc_ids = set(
            pq.read_table(self.paths["documents"], columns=["doc_id"]).column(0).to_pylist()
        )
        vec_ids = np.arange(inputs.N_VECS)
        self.ann_queries = set(vec_ids[vec_ids % inputs.ANN_MOD == self.ann_r].tolist())
        # kNN oracle: candidate counts over the points as the engine
        # derives them from the events
        ids = pq.read_table(self.paths["events"]).column("event_id").to_numpy()
        lat, lon = inputs.points(ids)
        self.knn_cand = inputs.knn_candidates(
            ids, lat, lon, ids % inputs.KNN_MOD == self.knn_r, res=6, ring=1
        )

    def run(self, kind, spark, tracer):
        return getattr(self, f"_{kind}")(spark, tracer)

    def _knn(self, spark, tracer):
        import pyspark.sql.functions as F

        from gosmonaut_spark.operators.knn import knn_join
        from gosmonaut_spark.queries import _pts

        with tracer.span("operators.knn:join"):
            pts = _pts(spark, self.dir)
            qs = pts.filter(F.col("id") % inputs.KNN_MOD == self.knn_r).select(
                F.col("id").alias("query_id"), "lat", "lon"
            )
            ts = pts.select(F.col("id").alias("target_id"), "lat", "lon")
            return knn_join(qs, ts, k=5, res=6, ring=1, broadcast_queries=True).collect()

    def _dedup(self, spark, tracer):
        import pyspark.sql.functions as F

        from gosmonaut_spark.functions.caching import cached_scope
        from gosmonaut_spark.functions.dedup import minhash_lsh_pairs

        with tracer.span("functions.dedup:minhash"), cached_scope():
            d = spark.read.parquet(self.paths["documents"])
            dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(inputs.DUP_SHIFT))
            return minhash_lsh_pairs(
                d.unionByName(dup), threshold=0.8, n_hashes=16, n_bands=4, hash_fn="xxhash64"
            ).collect()

    def _ann(self, spark, tracer):
        import pyspark.sql.functions as F

        from gosmonaut_spark.functions.similarity import cosine_topk_lsh

        with tracer.span("functions.similarity:lsh"):
            e = spark.read.parquet(self.paths["embeddings"])
            qs = e.filter(F.col("vec_id") % inputs.ANN_MOD == self.ann_r).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            ts = e.select(F.col("vec_id").alias("target_id"), "embedding")
            return cosine_topk_lsh(
                qs, ts, k=10, n_bits=6, n_tables=8, dim=inputs.DIM, multiprobe=1
            ).collect()

    def check(self, kind, out) -> int:
        from collections import defaultdict

        if kind == "knn":
            by_q = defaultdict(list)
            for r in out:
                by_q[r["query_id"]].append((r["dist_m"], r["target_id"]))
            expect(set(by_q) <= set(self.knn_cand), "kNN returned an unknown query")
            for q, cand in self.knn_cand.items():
                got = sorted(by_q.get(q, []))
                expect(len(got) == min(5, cand), f"kNN query {q}: {len(got)} rows, {cand} candidates")
                # every query is also a target: its nearest row is itself
                expect(not got or got[0][0] == 0.0, f"kNN query {q}: nearest at {got[0][0]} m")
                expect(len({t for _d, t in got}) == len(got), f"kNN query {q}: repeated target")
        elif kind == "dedup":
            exact = {(r["a"], r["b"]) for r in out if r["jaccard"] == 1.0}
            missing = [d for d in self.doc_ids if (d, d + inputs.DUP_SHIFT) not in exact]
            expect(not missing, f"dedup: {len(missing)} documents without their copy")
        else:
            best = {}
            for r in out:
                key = (-r["cos_sim"], r["target_id"])
                if r["query_id"] not in best or key < best[r["query_id"]]:
                    best[r["query_id"]] = key
            expect(set(best) == self.ann_queries, "ANN: query set differs")
            wrong = [q for q, (_c, t) in best.items() if t != q]
            expect(not wrong, f"ANN: {len(wrong)} queries whose top hit is not itself")
        return len(out)


WORKLOADS = {w.name: w for w in (IngestSpatial, LlmOps)}
