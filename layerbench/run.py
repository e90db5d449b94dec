#!/usr/bin/env python3
"""Closed-loop benchmark of the gosmonaut_spark engine on local[nproc].

Run from the repository root:

    python3 layerbench/run.py --workload ingest_spatial --seed 1 --seconds 1 --trace 0
    python3 layerbench/run.py --workload llm_ops --seed 1 --seconds 1 --trace 1

One client, one operation at a time: the next operation starts only after
the previous one finished and its output was checked.  The run writes the
seed's inputs and oracles, builds the session, runs a cold round (one
operation of each kind), then warm rounds until ``--seconds`` have passed
since the cold round started.  It prints a table of every metric with its unit (units as in
BENCHMARK.json), then, as the last line, one JSON object ``{"correct",
"attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, taken from the cold round.
``--trace 1`` runs at least one warm round untraced, rebuilds the session
with the Spark event log on, runs at least one round traced, runs the
layer probes and reports the per-layer table (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

WORKLOAD_NAMES = ("ingest_spatial", "llm_ops")
# well under the host's RAM: the inputs are small and the machine is shared
DRIVER_MEM = "3g"
# seconds between operations for the context cleaner (see _hygiene)
SETTLE_S = 0.75
# seconds the JVM gets to exit on its own once its stdin closes
JVM_GRACE_S = 0.5
# modules whose Spark jobs the traced run reports, in report order
MODULES = (
    "sources.pages",
    "operators.assembly",
    "operators.pip",
    "operators.tiling",
    "operators.knn",
    "functions.dedup",
    "functions.similarity",
)


def _spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


@dataclass
class Op:
    kind: str
    seconds: float
    cpu_s: float  # CPU seconds of the whole process tree
    rows: int
    ok: bool


def _env(work: str, cpus: int) -> None:
    """Keep every file the run writes inside its work directory and size
    the JVM for this box, whatever the caller's environment says."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)


def _hygiene(spark) -> None:
    """Between operations, outside the timing: drop cached blocks, run a
    full JVM GC, so each operation starts from the same heap state, and
    give the context cleaner time to remove what the GC released (shuffle
    files, broadcasts), which otherwise runs into the next operation."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def _join_prewarm(timeout: float = 60.0) -> None:
    for t in threading.enumerate():
        if t.name == "pyworker-prewarm":
            t.join(timeout)


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for its JVM and the JVM's Python
    workers to exit.  The gateway server quits when its stdin closes; a JVM
    still in its shutdown hooks after a grace period is killed, since its
    context is stopped and it has nothing left to write."""
    from pyspark import SparkContext
    from spans import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return
    workers = descendants(proc.pid)
    proc.stdin.close()
    try:
        proc.wait(timeout=JVM_GRACE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)
    t_end = time.monotonic() + 30
    while workers and time.monotonic() < t_end:
        workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _log(msg: str) -> None:
    print(f"[layerbench] {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _identity(batches):
    yield from batches


def _geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Bench:
    def __init__(self, args, work: str, cpus: int, spec: dict):
        from spans import RssSampler, Tracer, tree_cpu_s
        from workloads import WORKLOADS

        self.cpu = lambda: tree_cpu_s(os.getpid())

        self.args, self.work, self.cpus = args, work, cpus
        self.spec = spec
        self.master = f"local[{cpus}]"
        self.wl = WORKLOADS[args.workload](args.seed, work, cpus)
        self.tracer = Tracer()
        self.rss = RssSampler()
        self.spark = None
        self.ops: list[Op] = []
        self.op_rss: list[int] = []  # high-water RSS during each operation

    # -- session -----------------------------------------------------------
    def _build(self, **kw) -> float:
        from gosmonaut_spark.session import build_session

        if self.spark is not None:
            _join_prewarm()
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_session(master=self.master, **kw)
        self.tracer.spark = self.spark
        return time.perf_counter() - t0

    # -- operations ----------------------------------------------------------
    def op(self, i: int) -> Op:
        wl, tr = self.wl, self.tracer
        kind = wl.kinds[i % len(wl.kinds)]
        tr.op_id = i
        out, rows, ok = None, 0, False
        self.rss.reset()
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            with tr.span(f"{wl.name}:{kind}"):
                out = wl.run(kind, self.spark, tr)
            secs = time.perf_counter() - t0
            cpu = self.cpu() - c0
            rows = wl.check(kind, out)
            ok = True
        except Exception:
            secs = time.perf_counter() - t0
            cpu = self.cpu() - c0
            print(f"[layerbench] op {i} ({kind}) failed:", file=sys.stderr)
            traceback.print_exc()
        finally:
            self.op_rss.append(self.rss.peak_bytes)
            wl.after(kind, out, ok, self.spark)
            _hygiene(self.spark)
        print(
            f"[layerbench] op {i} {kind} {secs:.3f}s cpu={cpu:.2f}s rows={rows} ok={ok}",
            file=sys.stderr,
        )
        o = Op(kind, secs, cpu, rows, ok)
        self.ops.append(o)
        return o

    def loop(self, t_end: float, min_rounds: int) -> list[Op]:
        """Whole rounds (one operation of each kind) until ``t_end``, at
        least ``min_rounds``."""
        ops: list[Op] = []
        while len(ops) < min_rounds * len(self.wl.kinds) or time.perf_counter() < t_end:
            for _ in self.wl.kinds:
                ops.append(self.op(len(self.ops)))
        return ops

    def medians(self, ops: list[Op]) -> list[tuple[float, float]]:
        """Median (wall, CPU) seconds of each kind, in the workload's kind
        order, over the operations that passed their check (over all of a
        kind's operations if none did: the run then reports correct=false)."""
        out = []
        for kind in self.wl.kinds:
            mine = [o for o in ops if o.kind == kind]
            good = [o for o in mine if o.ok] or mine
            out.append(
                (
                    statistics.median(o.seconds for o in good),
                    statistics.median(o.cpu_s for o in good),
                )
            )
        return out

    # -- the run -------------------------------------------------------------
    def run(self) -> dict:
        a, wl, tr = self.args, self.wl, self.tracer
        self.rss.start()
        try:
            wl.generate()  # inputs and oracles, before the JVM starts
            _log("generated")
            build_s = self._build()
            setup_s = wl.gen_s + build_s
            _log("built")

            self.rss.active = True
            # the first round (one operation of each kind) runs cold: every
            # spark-submit pays it, so it is what the end-to-end metrics
            # report; warm rounds follow while --seconds last (the traced
            # run needs one to compare its traced round against)
            t_end = time.perf_counter() + (a.seconds / 2 if a.trace else a.seconds)
            cold = self.loop(0, 1)
            warm = self.loop(t_end, 1 if a.trace else 0)
            self.rss.active = False
            _log("measured")
            found = {
                "setup_s": setup_s,
                "cold_cpu_s": sum(o.cpu_s for o in cold),
                "op1_cpu_s": cold[0].cpu_s,
                "ops.cold_s": sum(o.seconds for o in cold),
            }
            if warm:
                med = self.medians(warm)
                for i, (wall, cpu) in enumerate(med):
                    found[f"ops.op{i + 1}_s"] = wall
                    found[f"ops.op{i + 1}_cpu_s"] = cpu
            if a.trace:
                found.update(self.traced(build_s, _geomean(w for w, _c in med)))
            found["peak_rss_mb"] = max(self.op_rss) / 2**20
        finally:
            self.rss.stop()
            if self.spark is not None:
                _join_prewarm()
                self.spark.stop()
            _stop_jvm()
            _log("stopped")
        # report exactly the metrics BENCHMARK.json lists for this mode
        want = self.spec["per_layer" if a.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in want}
        if set(units) - set(found):
            raise RuntimeError(f"metrics not measured: {sorted(set(units) - set(found))}")
        metrics = {k: found[k] for k in units}
        failed = sum(not o.ok for o in self.ops)
        rows = [(k, v, units[k]) for k, v in metrics.items()]
        rows.append(("fail_frac", failed / len(self.ops), "ratio"))
        kinds = " ".join(f"op{i + 1}={k}" for i, k in enumerate(wl.kinds))
        print(f"{a.workload}: {kinds}")
        for k, v, unit in rows:
            print(f"{a.workload:14s} {k:48s} {v:16.6f} {unit}")
        return {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def traced(self, build_s: float, untraced_warm_s: float) -> dict[str, float]:
        """Second half of a traced run: event log on, same loop, probes."""
        from spans import EventLog

        wl, tr = self.wl, self.tracer
        evdir = os.path.join(self.work, "eventlog")
        os.environ["SPARK_GRAFT_EVENTLOG"] = evdir
        self._build(extra={"spark.eventLog.compress": "false"})
        tr.spans = []
        t0 = time.perf_counter()
        with tr.span("session:first_arrow_job"):
            self.spark.range(self.cpus, numPartitions=self.cpus).mapInPandas(
                _identity, "id long"
            ).count()
        first_arrow = time.perf_counter() - t0
        wl.bind(self.spark)
        traced = self.loop(time.perf_counter() + self.args.seconds / 2, 1)
        traced_warm_s = _geomean(w for w, _c in self.medians(traced))
        m = {
            "session.build_s": build_s,
            "session.first_arrow_job_s": first_arrow,
            "fixtures.pages.gen_s": wl.pages_gen_s,
        }
        layer = wl.layer_metrics(self.spark, tr)
        _join_prewarm()
        self.spark.stop()
        self.spark = None
        # next to the run's work dir, which is removed when the run ends
        tr.write(
            os.path.join(os.path.dirname(self.work), f"spans-{wl.name}-{self.args.seed}.json")
        )
        log = EventLog.read(evdir)
        for key in LAYER_KEYS:
            m.setdefault(key, layer.get(key, 0.0))
        for mod in MODULES:
            for f, v in log.module_table(mod, tr.spans).items():
                m[f"{mod}.{f}"] = v
        m.update(_ratios(log, traced, wl))
        m["trace_overhead_frac"] = traced_warm_s / untraced_warm_s
        return m


LAYER_KEYS = (
    "format.gpb_numpy.decode_us_per_page",
    "sources.pages.scan_s",
    "sources.pages.extract_s",
    "plans.checkpoint.entities_s",
    "plans.checkpoint.assembled_ways_s",
    "plans.checkpoint.relations_s",
    "plans.checkpoint.write_s",
    "plans.checkpoint.bytes_written",
    "plans.checkpoint.write_amp",
    "plans.checkpoint.rows_out.entities",
    "plans.checkpoint.rows_out.assembled_ways",
    "plans.checkpoint.rows_out.relations",
)


def _ratios(log, traced: list[Op], wl) -> dict[str, float]:
    """Useful-work ratios from the SQL row metrics of the traced jobs."""

    def rows(kind):
        return sum(o.rows for o in traced if o.kind == kind and o.ok)

    def n_ops(kind):
        return sum(1 for o in traced if o.kind == kind and o.ok)

    def div(a, b):
        return a / b if b else 0.0

    out = {
        "operators.pip.hit_ratio": div(rows("pip"), log.join_rows("operators.pip", "cell")),
        "functions.dedup.verify_ratio": div(
            rows("dedup"), log.join_rows("functions.dedup", "band")
        ),
        "operators.knn.candidates_per_query": 0.0,
        "functions.similarity.candidates_per_query": 0.0,
    }
    if wl.name == "llm_ops":
        out["operators.knn.candidates_per_query"] = div(
            log.join_rows("operators.knn", "cell"), n_ops("knn") * len(wl.knn_cand)
        )
        out["functions.similarity.candidates_per_query"] = div(
            log.join_rows("functions.similarity", "tbl"), n_ops("ann") * len(wl.ann_queries)
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # a terminated run still removes its work dir (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gosmonaut_spark", "__init__.py")):
        print("layerbench: run from the repository root (gosmonaut_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".layerbench", f"run-{os.getpid()}")
    os.makedirs(work)
    _env(work, cpus)
    try:
        out = Bench(args, work, cpus, _spec(root)).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
