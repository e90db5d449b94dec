"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are sized for local[N] testing but every knob is the one that
matters on a 1000-executor cluster: AQE on (runtime re-plan + skew-join
splitting), coalescing of tiny shuffle partitions, Arrow batches for all
Python UDF stages, and a runtime Bloom-filter join (the engine analog of the
reference's paged bitset trackers, /root/reference/id_tracker.go:59-138).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


# Raise the C2 promotion threshold ~10x: only genuinely hot methods
# (per-row kernels invoked millions of times) pay for an optimizing
# compile; the long tail of one-shot generated stage methods stays at C1.
# C2's arena churn can stall a virtualized host (A/B at 8 cores, 200k-page
# legs: C2-default decode 209s / pip 68s, C1-only decode 97s / pip 215s —
# this hybrid takes both wins).
_JIT_OPTS = (
    "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=1g "
    "-XX:+UseCodeCacheFlushing"
    " -XX:Tier4InvocationThreshold=150000"
    " -XX:Tier4MinInvocationThreshold=100000"
    " -XX:Tier4CompileThreshold=150000"
)


def _gc_opts(cpus: int) -> str:
    par = max(2, min(int(cpus), 8))
    return (
        f" -XX:ParallelGCThreads={par}"
        f" -XX:ConcGCThreads={max(1, par // 4)}"
    )


def build_session(
    master: str | None = None,
    app_name: str = "gosmonaut_spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # GC sizing follows the session's ACTUAL core budget when the caller
    # pins one via master=local[N]
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m:
        cpus = int(m.group(1))
    if shuffle_partitions is None:
        # local: ~1x cores; on a real cluster this is overridden upward
        shuffle_partitions = max(cpus, 8)

    # Keep glibc from mmap()ing large numpy buffers in the Python workers:
    # every munmap broadcasts TLB-shootdown IPIs to ALL vCPUs, and on a
    # virtualized host each IPI must schedule the target vCPU — measured as
    # a 16-24% system-time storm that grew with worker count (inverse
    # scaling) and vanished with these thresholds (PIP exact stage:
    # 131s -> 74s at 8 cores, sys% 24 -> 0). Heap reuse replaces the
    # map/unmap churn; RSS grows to the high-water mark, which the Arrow
    # batch size already bounds. Must be set before the JVM forks (local
    # mode inherits the driver env); executorEnv covers real clusters.
    _malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": "536870912",
        "MALLOC_TRIM_THRESHOLD_": "536870912",
    }
    for k, v in _malloc_env.items():
        os.environ.setdefault(k, v)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelismFirst coalescing floors post-shuffle partition
        # count at spark.default.parallelism, which local[N] sets to N —
        # the assembly passes' shuffle-read stages were measured collapsing
        # to ~9 fat tasks on an 8-core session (27s avg task, one wave +
        # a ragged tail: stage utilization 0.68-0.87, the dominant
        # non-scaling term in the N->4N legs). A real cluster's
        # defaultParallelism is total-executor-cores, i.e. >= the sized
        # shuffle partitions; pinning the floor to shuffle_partitions
        # reproduces that geometry — AQE still merges sub-1MB fragments,
        # it just can't erase wave-level parallelism.
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        # Blob-decode stages are bounded far below this anyway (4MB file
        # splits = ~1k pages/batch — the spirit of the reference's 8000-
        # entity block, /root/reference/decode.go:42-43); the cap matters
        # for wide scalar streams like PIP candidates, where 8k-row batches
        # made per-batch Python overhead ~30% of the exact-test stage
        # runtime Bloom-filter joins re-*execute* the build-side plan to
        # construct the filter; when that side hangs off a mapInArrow
        # decode (not a re-scannable parquet source) the construction costs
        # more than the pruning saves — measured 18% slower at t2. The
        # checkpointed pipeline reads parquet snapshots, where re-enabling
        # this per-query is a one-line .config for selective probes.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        # Spark 4.1.2: InferFiltersFromConstraints duplicates filters that
        # contain higher-order functions across shared-lineage joins with
        # stale attribute refs -> INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at bind
        # time (hit by the PIP ray-cast). Excluding the rule costs only some
        # inferred isnotnull/join filters; our operators filter explicitly.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # collect_list-style aggs (the ordered re-agg in way/relation
        # assembly) run as SortAggregate, not ObjectHashAggregate: the
        # object-hash path keeps one mutable buffer per group in a hash map
        # and falls back to sort-based aggregation (buffer serialization +
        # spilled sorted runs) after only 128 distinct keys per task — A/B
        # at 8 cores on the 200k-page fixture measured it bimodal
        # (26s..220s, GC/spill-timing dependent) and the no-fallback hash
        # path worse still (>400s object churn). SortAggregate streams the
        # Tungsten-sorted input and appends — 31-37s, stable. Our
        # assemblies pre-sort by (key, pos), so the sort it requires is
        # already satisfied.
        .config("spark.sql.execution.useObjectHashAggregateExec", "false")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", _malloc_env["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", _malloc_env["MALLOC_TRIM_THRESHOLD_"])
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # HotSpot refuses to JIT methods over 8000 bytecode bytes
        # (DontCompileHugeMethods) — wide codegen'd expressions (e.g. the
        # unrolled PIP ray-cast: 13.6KB) silently run in the bytecode
        # INTERPRETER, measured 4.5x slower than the same plan under JIT.
        # Lifting the limit lets the JIT compile every generated stage. The
        # default ~240MB code cache then fills after a few heavy queries
        # (compiler disables itself -> every later query in the session
        # degrades; measured 42s -> 142s for back-to-back identical runs),
        # so reserve 1G and keep flushing on. The raised C2 thresholds
        # (_JIT_OPTS) keep C2's optimizing compiles of the big generated
        # methods, whose mmap'd arena churn can stall a virtualized host,
        # to the genuinely hot kernels (see BASELINE.md).
        # GC threads sized to the CORE BUDGET, not the advertised vCPUs:
        # JDK17 G1 on this 32-vCPU host defaults to 23 parallel + 6
        # concurrent GC workers — on a local[2..8] session that is 3-10x
        # the executor thread count, and on an oversubscribed hypervisor
        # the spare "cores" they assume don't exist (measured: in-session
        # assemble_ways 66s -> 41s at 8 cores with the cap). On a real
        # cluster the executor JVM gets a cgroup cpuset and the same
        # sizing applies per executor.
        .config("spark.driver.extraJavaOptions", _JIT_OPTS + _gc_opts(cpus))
        .config("spark.executor.extraJavaOptions", _JIT_OPTS + _gc_opts(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # zstd for shuffle + parquet (lz4/snappy defaults): the assembly
        # passes are memory-bandwidth bound at high core counts (measured:
        # the stitch stage burns 3.1x more CPU-time per row at 8 cores than
        # at 2 on one socket — stall cycles, run≈cpu, no spill, no GC), so
        # trading stalled cycles for fewer bytes through the sorter/shuffle/
        # page cache is a direct win where cores are starved: stitch stage
        # CPU 90 -> 63 core-s, assembled_ways wall 21.3 -> 16.7s at 8 cores.
        # Also the production-faithful choice: Iceberg's parquet default is
        # zstd, and zstd shuffle is the Spark 3.2+ recommendation.
        .config("spark.io.compression.codec", "zstd")
        # Never use the bypass-merge shuffle writer: below the default
        # threshold (200 reduce partitions) every map task opens ONE FILE
        # PER REDUCE PARTITION (128 partitions x 128 map tasks = 16k file
        # creates per shuffle) — measured on this host as 8x the wall of a
        # small 2-stage aggregation (2.5M rows: 4.3s -> 0.5s with the
        # serialized sort writer, which writes one spill file per map
        # task). The sort writer's extra in-memory partition sort is
        # negligible next to file-creation latency on any storage, and at
        # cluster scale reduce partition counts exceed 200 anyway, so the
        # bypass path would not fire there — this just makes local/small
        # geometry behave like cluster geometry. Callers override it (like
        # any key here) through ``extra``.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # pages blobs expand ~50-100x when decoded: split scans finely so
        # the mapInArrow decode parallelizes even over smallish files
        .config("spark.sql.files.maxPartitionBytes", "4MB")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "WARN")
    )
    # scaling diagnosis hook: SPARK_GRAFT_EVENTLOG=<dir> records the task
    # timeline (tools/stage_utilization.py turns it into driver-gap /
    # wave-tail numbers — where non-scaling wall time hides)
    evdir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", evdir
        )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_tables(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Expose the engine's SQL face: register the benchmark parquet
    tables as temp views so every operator family is reachable from
    ``spark.sql`` too. The engine's oracle-twin SQL is written in the
    ANSI subset both DuckDB and Spark SQL execute, so dialect-portable
    queries (the integer cell law, the hash-derived geo world, window
    laws) run UNCHANGED on either engine — tested in
    ``test_sql_surface.py``.
    """
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
