"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk_brute` — exact top-k by cross join; the oracle twin
  (DuckDB ``list_reduce`` folds in the same order as Spark ``aggregate``,
  so doubles match bit-for-bit) and the right plan when the query side is
  tiny (broadcast).
* :func:`cosine_topk_lsh` — the scale path: random-hyperplane LSH buckets
  (sign bits of dot products with deterministic seeded planes) restrict
  candidates to bucket collisions across ``n_tables`` tables; exact cosine
  re-ranks. Recall tunable via bits/tables.
* :func:`cosine_pairs_lsh` — near-duplicate pairs by embedding cosine
  (the embedding-cosine dedup entry).

All vector math is native Column expressions (zip_with/aggregate fold) —
JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import PKG_ROOT


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin: list_reduce folds left-to-right like Spark aggregate,
    list_zip pairs elements — identical IEEE double sequence."""
    d = (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        f"(acc, v) -> acc + v)"
    )
    na = (
        f"sqrt(list_reduce(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))"
    )
    nb = (
        f"sqrt(list_reduce(list_transform({b}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))"
    )
    return f"({d}) / (({na}) * ({nb}))"


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("target_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def cosine_topk_brute(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    query_id: str = "query_id",
    target_id: str = "target_id",
    vec: str = "embedding",
) -> DataFrame:
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec).alias("qv"))
    t = targets.select(F.col(target_id).alias("target_id"), F.col(vec).alias("tv"))
    cand = q.crossJoin(t).select(
        "query_id", "target_id", cosine(F.col("qv"), F.col("tv")).alias("cos_sim")
    )
    return _topk(cand, k)


def _hyperplanes(dim: int, n_bits: int, table: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng((seed, table))
    return rng.standard_normal((n_bits, dim))


def lsh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: bit j set iff dot(vec, plane_j) > 0 — native
    fold per plane (planes are literals folded by Catalyst).

    REFERENCE SEMANTICS ONLY: ``n_bits x dim`` interpreted lambda ops per
    row made wall time bimodal under JIT tiering (r2 verdict: same input
    measured 23.7s / 136.8s / 291.9s). The hot path is
    :func:`lsh_bucket_table` — one Arrow pass, bit-identical output
    (asserted in tests/test_textops.py::test_lsh_bucket_arrow_matches_fold).
    """
    n_bits, _dim = planes.shape
    out = F.lit(0).cast("long")
    for j in range(n_bits):
        lits = F.array(*[F.lit(float(v)) for v in planes[j]])
        d = F.aggregate(
            F.zip_with(vec, lits, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out + F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def lsh_bucket_table(
    df: DataFrame,
    vec: str,
    n_bits: int,
    n_tables: int,
    dim: int,
    seed: int = 42,
    out_col: str = "__bkts",
    out_norm: str | None = None,
) -> DataFrame:
    """All ``n_tables`` bucket ids in ONE vectorized Arrow pass.

    Appends ``out_col: array<bigint>`` (one bucket per table). The float
    arithmetic is an explicit left-to-right accumulation over vector
    elements — ``acc = acc + (float64(x_i) * plane_i)`` with one rounding
    per multiply and per add — which is the exact IEEE operation sequence
    of the :func:`lsh_bucket` Catalyst fold AND of the DuckDB oracle's
    ``list_reduce``; all three agree bit-for-bit, so swapping engines never
    moves a vector across a bucket boundary. (numpy's ``dot``/``matmul``
    would be faster but uses pairwise/blocked summation whose rounding —
    and therefore sign near zero — can differ; determinism wins here, and
    the dim-step loop is still fully vectorized over rows x bits.)

    This replaces the per-table interpreted HOF branches (r2's instability
    source): per batch the cost is ``dim`` numpy FMAs over an
    (M, n_tables*n_bits) accumulator, one sign test, one weighted sum —
    no JVM lambda interpretation, no JIT-tier dependence.

    ``out_norm``: also emit the vector's L2 norm (double), accumulated in
    the same explicit left-to-right element order as the :func:`norm`
    Catalyst fold and the DuckDB ``list_reduce`` twin — bit-identical, and
    it rides the matrix already stacked for the bucket computation (zero
    extra passes; keeps the per-row interpreted ``norm`` fold out of the
    LSH hot path).
    """
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    if n_bits > 62:
        raise ValueError("n_bits must fit a signed 64-bit bucket id")
    fn = _lsh_batches(df.columns.index(vec), n_bits, n_tables, dim, seed, out_col, out_norm)
    fields = list(df.schema.fields) + [StructField(out_col, ArrayType(LongType()))]
    if out_norm is not None:
        fields.append(StructField(out_norm, DoubleType()))
    return df.mapInArrow(fn, StructType(fields))


def _lsh_batches(vi, n_bits, n_tables, dim, seed, out_col, out_norm):
    """The :func:`lsh_bucket_table` worker: Arrow batches in, the same
    batches plus the bucket (and norm) columns out. Vectors are read from
    the list column's buffers; a null vector, a null element or a vector
    not ``dim`` long raises ``ValueError``."""
    planes_all = np.stack(
        [_hyperplanes(dim, n_bits, t, seed) for t in range(n_tables)]
    )  # (T, B, D)
    w_mat = np.ascontiguousarray(
        planes_all.reshape(n_tables * n_bits, dim).T
    )  # (D, T*B) float64
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))
    pkg_root = PKG_ROOT

    def fn(batches):
        import sys

        import pyarrow as pa

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from gosmonaut_spark.format.arrow_np import arrow_to_np, list_array, np_to_arrow

        for rb in batches:
            m = rb.num_rows
            if m == 0:
                continue
            col = rb.column(vi)
            if col.null_count:
                raise ValueError(f"lsh_bucket_table: {col.null_count} null vectors")
            offs = arrow_to_np(col.offsets)
            lens = np.diff(offs)
            if (lens != dim).any():
                raise ValueError(
                    f"lsh_bucket_table: vector length {lens[lens != dim][0]} != dim {dim}"
                )
            vals = arrow_to_np(col.values.slice(offs[0], m * dim))
            mat = vals.reshape(m, dim).astype(np.float64, copy=False)
            acc = np.zeros((m, w_mat.shape[1]))
            for i in range(dim):
                acc += mat[:, i, None] * w_mat[i]
            bits = acc > 0.0
            bkts = (bits.reshape(m, n_tables, n_bits) * weights).sum(axis=2, dtype=np.int64)
            cols = list(rb.columns)
            cols.append(list_array(np.full(m, n_tables), np_to_arrow(bkts.reshape(-1))))
            names = list(rb.schema.names) + [out_col]
            if out_norm is not None:
                sq = np.zeros(m)
                for i in range(dim):
                    x = mat[:, i]
                    sq = sq + x * x
                cols.append(np_to_arrow(np.sqrt(sq)))
                names.append(out_norm)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return fn


def _bucketed(
    df: DataFrame,
    vec: str,
    n_bits: int,
    n_tables: int,
    dim: int,
    seed: int = 42,
    norm_col: str | None = None,
) -> DataFrame:
    """(rows x tables) bucket assignment: one Arrow pass computes every
    table's bucket (and optionally the row's norm), a codegen'd posexplode
    fans out — the target table is scanned ONCE for all tables (the r2
    plan re-derived buckets per table in 2x n_tables union branches)."""
    b = lsh_bucket_table(df, vec, n_bits, n_tables, dim, seed, out_norm=norm_col)
    extra = [norm_col] if norm_col is not None else []
    return b.select(
        *df.columns, *extra, F.posexplode("__bkts").alias("tbl", "bkt")
    )


def _probe_flips(df: DataFrame, n_bits: int) -> DataFrame:
    """Single-bit multiprobe: each row once per probe, with ``bkt`` as is
    and with each of its ``n_bits`` bits flipped (n_bits+1 rows per row)."""
    probes = F.array(
        F.lit(0).cast("long"),
        *[F.lit(1 << j).cast("long") for j in range(n_bits)],
    )
    return (
        df.withColumn("__f", F.explode(probes))
        .withColumn("bkt", F.col("bkt").bitwiseXOR(F.col("__f")))
        .drop("__f")
    )


def dot_codegen(a: Column, b: Column, dim: int) -> Column:
    """Unrolled dot product for the candidate re-rank: ``dim`` literal
    ``element_at`` product terms accumulated left-to-right.

    Same IEEE sequence as the :func:`dot` fold (acc starts at 0.0, one
    rounding per multiply and per add, float32 widened to double first)
    and as DuckDB's ``list_reduce`` — oracle hashes are unchanged. Unlike
    the fold it is whole-stage-codegen (one compiled Java method, no
    per-element lambda interpretation — the r2/r3 ANN instability source),
    and unlike an Arrow pass it never ships the candidate pairs' vectors
    to Python workers (measured: the Arrow re-rank was fine standalone but
    2-5x worse inside the full bench suite under memory pressure). Same
    discipline as the PIP edges engine's unrolled ray cast."""
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i).cast("double") * F.element_at(b, i).cast(
            "double"
        )
    return acc


def cosine_topk_lsh(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    n_bits: int = 16,
    n_tables: int = 8,
    dim: int = 64,
    query_id: str = "query_id",
    target_id: str = "target_id",
    vec: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in >=1 table.

    The bucket join is an equi-join on (table, bucket); the exact re-rank
    touches only collisions. **Sizing for scale**: expected bucket
    cardinality is n_targets / 2^n_bits per table — size n_bits ~
    log2(n_targets / desired_bucket_size), e.g. 10^12 targets with
    ~1000-vector buckets wants n_bits ~ 30. The old default of 8 bits put
    ~10^9 vectors in a bucket at that scale and the within-bucket join
    went quadratic; the default is now 16 with single-bit multiprobe ON so
    the finer buckets don't cost recall.

    ``multiprobe=1`` probes, per table, the query's own bucket plus every
    single-bit flip (n_bits+1 probes): recall of coarser buckets at the
    candidate volume of finer ones — the standard multiprobe-LSH trade.
    Only the (small) query side is exploded.

    The query side is a bounded batch: it is coalesced and its
    probe-exploded buckets are broadcast into the bucket join, so the
    TARGET side — the one carrying a ``dim``-float array per row ×
    n_tables — never shuffles at all; the only shuffles are scalar
    (id, id, cos) triples for dedup/top-k. A query set beyond broadcast
    size must be chunked by the caller. (Measured: 2-vs-8-core scaling
    of the bench ANN leg was bandwidth-bound on the target shuffle
    before the broadcast.)
    """
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe supports 0 (off) or 1 (single-bit probes)")
    # norms are per-row, not per-pair: precompute before the bucket join so
    # the pair step is a dot product + one divide (identical IEEE result —
    # the expression tree dot/(na*nb) is unchanged, na/nb just computed
    # n+m times instead of n*m). The dedup runs on (ids, cos) scalars, not
    # on the vector columns — shuffling two 64-float arrays per candidate
    # through a distinct was the dominant byte volume at scale.
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec).alias("qv")
    )
    # bounded-batch contract (see docstring): the probe side is small, but
    # it inherits the caller's input partitioning — its Arrow bucket pass
    # then demands one python worker per input split for a handful of rows
    # each (measured: the concurrent qb/tb bucket stages spawned 2x`cores`
    # workers; worker startup, not compute, dominated the broadcast-build
    # job). A narrow coalesce keeps the batch's pass to a few workers
    # without touching the target side.
    q = q.coalesce(max(q.sparkSession.sparkContext.defaultParallelism // 8, 2))
    t = targets.select(
        F.col(target_id).alias("target_id"), F.col(vec).alias("tv")
    )
    # norms ride the bucket Arrow pass (same stacked matrix, zero extra
    # scans) — no interpreted norm fold anywhere in this plan
    qb = _bucketed(q, "qv", n_bits, n_tables, dim, norm_col="qn")
    tb = _bucketed(t, "tv", n_bits, n_tables, dim, norm_col="tn")
    if multiprobe == 1:
        qb = _probe_flips(qb, n_bits)
    qb = F.broadcast(qb)
    # per-pair dedup via groupBy on the LONG pair key + max(cos): cos_sim
    # is functionally determined by the pair (the dot/norm expression is a
    # fixed IEEE sequence over the pair's vectors), so every duplicate row
    # carries the identical value and max() returns exactly the value
    # distinct() kept — but a distinct whose grouping key includes the
    # DOUBLE column defeats the codegen'd fast hash map (floating keys get
    # NaN/-0.0 normalization), measured 6x the aggregate's wall at the
    # bench ANN leg (523k candidates: distinct 6-8.6s, long-key groupBy
    # 1.1s).
    cand = (
        qb.join(tb, ["tbl", "bkt"])
        .select(
            "query_id",
            "target_id",
            (
                dot_codegen(F.col("qv"), F.col("tv"), dim)
                / (F.col("qn") * F.col("tn"))
            ).alias("cos_sim"),
        )
        .groupBy("query_id", "target_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return _topk(cand, k)


def cosine_topk_ivf(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    centroid_stride: int = 16,
    nprobe: int = 2,
    dim: int = 64,
    query_id: str = "query_id",
    target_id: str = "target_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    path that complements :func:`cosine_topk_lsh`.

    * **Centroids**: every ``centroid_stride``-th target by id. At corpus
      scale these come from a sampled k-means training job; the stride
      selection keeps this engine deterministic and exactly
      oracle-checkable (the DuckDB twin re-derives the identical
      centroids), and the assignment/probe/re-rank plan below is the same
      either way — swap the centroid table, nothing else moves.
    * **Assignment** (the inverted lists): each target joins the
      BROADCAST centroid table and keeps its argmax-cosine centroid via a
      ``max(struct(cos, -centroid_id))`` aggregation — partial (map-side)
      aggregation collapses the n_targets x n_centroids pairs back to one
      row per target before the shuffle, so the shuffle volume is
      O(n_targets) regardless of centroid count.
    * **Probe**: each query ranks the same broadcast centroids and probes
      its ``nprobe`` nearest lists; candidates are an equi-join on
      ``centroid_id``. With ``nprobe >= n_centroids`` every list is probed
      and the result equals :func:`cosine_topk_brute` exactly (the lists
      partition the targets) — the recall dial is explicit.
    * **Re-rank**: exact cosine via :func:`dot_codegen` (whole-stage
      codegen, no interpreted HOF folds, no Python) with norms as
      ``sqrt(dot_codegen(v, v))`` — the same left-to-right IEEE sequence
      as the DuckDB ``list_reduce`` twin, bit-for-bit.
    """
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec).alias("qv"))
    t = targets.select(F.col(target_id).alias("target_id"), F.col(vec).alias("tv"))
    cents = F.broadcast(
        targets.filter(F.col(target_id) % centroid_stride == 0).select(
            F.col(target_id).alias("centroid_id"),
            F.col(vec).alias("cv"),
            F.sqrt(dot_codegen(F.col(vec), F.col(vec), dim)).alias("cn"),
        )
    )
    tn = F.sqrt(dot_codegen(F.col("tv"), F.col("tv"), dim))
    t_cos = t.withColumn("tn", tn).crossJoin(cents).select(
        "target_id",
        "tv",
        "tn",
        "centroid_id",
        (dot_codegen(F.col("tv"), F.col("cv"), dim) / (F.col("tn") * F.col("cn"))
         ).alias("__c"),
    )
    # argmax centroid per target, map-side combinable (no window shuffle of
    # the exploded pairs): struct max is lexicographic, so (cos, -cid) picks
    # highest cosine then lowest centroid id — deterministic ties
    assigned = t_cos.groupBy("target_id").agg(
        F.first("tv").alias("tv"),
        F.first("tn").alias("tn"),
        F.max(F.struct(F.col("__c"), (-F.col("centroid_id")).alias("__nc"))).alias(
            "__m"
        ),
    ).select(
        "target_id", "tv", "tn", (-F.col("__m.__nc")).alias("centroid_id")
    )
    qn = F.sqrt(dot_codegen(F.col("qv"), F.col("qv"), dim))
    q_cos = q.withColumn("qn", qn).crossJoin(cents).select(
        "query_id",
        "qv",
        "qn",
        "centroid_id",
        (dot_codegen(F.col("qv"), F.col("cv"), dim) / (F.col("qn") * F.col("cn"))
         ).alias("__c"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__c").desc(), F.col("centroid_id").asc()
    )
    probes = (
        q_cos.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "qv", "qn", "centroid_id")
    )
    cand = probes.join(assigned, ["centroid_id"]).select(
        "query_id",
        "target_id",
        (
            dot_codegen(F.col("qv"), F.col("tv"), dim) / (F.col("qn") * F.col("tn"))
        ).alias("cos_sim"),
    )
    return _topk(cand, k)


def cosine_pairs_lsh(
    docs: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 16,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos >= threshold).

    **Sizing for scale** (mirrors cosine_topk_lsh): the self-join is
    quadratic PER BUCKET, so the default is 16 bits (65,536
    buckets/table) with single-bit multiprobe ON — fine buckets keep the
    per-bucket join linear-ish, the probes buy back the recall coarser
    buckets had. The r2 default of 8 bits put n/256 vectors in a bucket —
    quadratic blowup at corpus scale.

    ``multiprobe=1`` probes each doc's own bucket plus every single-bit
    flip on the LEFT side of the self-join only (a pair within hamming 1
    of bucket ids is found once from whichever side flips toward the
    other)."""
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe supports 0 (off) or 1 (single-bit probes)")
    # same Arrow-pass norm + scalar-dedup discipline as cosine_topk_lsh
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(vec).alias("v"))
    b = _bucketed(d, "v", n_bits, n_tables, dim, norm_col="vn")
    if multiprobe == 1:
        # without probes both join sides are one subtree and Spark reuses
        # its exchange; the probed left side is not, so persist the bucket
        # table to run its Arrow pass once
        b = b.persist()
    a = b.select(F.col("doc_id").alias("a"), F.col("v").alias("va"), F.col("vn").alias("na"), "tbl", "bkt")
    if multiprobe == 1:
        a = _probe_flips(a, n_bits)
    c = b.select(F.col("doc_id").alias("b"), F.col("v").alias("vb"), F.col("vn").alias("nb"), "tbl", "bkt")
    out = (
        a.join(c, ["tbl", "bkt"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (
                dot_codegen(F.col("va"), F.col("vb"), dim)
                / (F.col("na") * F.col("nb"))
            ).alias("cos_sim"),
        )
        # long-pair groupBy + max instead of a distinct keyed on the
        # double (same rows: cos_sim is functionally determined by the
        # pair — see cosine_topk_lsh for the measured 6x)
        .groupBy("a", "b")
        .agg(F.max("cos_sim").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    if multiprobe == 1:
        from .caching import attach_cached

        out = attach_cached(out, [b])
    return out


# ---------------------------------------------------------------------------
# fixed-iteration spherical k-means (IVF centroid training)
# ---------------------------------------------------------------------------


def kmeans_train(
    points: DataFrame,
    iters: int = 2,
    stride: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Lloyd iterations for IVF centroid training → one row per centroid:
    ``(centroid_id, n_assigned, centroid)``.

    Closes the loop :func:`cosine_topk_ivf` documents ("at corpus scale
    the centroids come from a sampled k-means training job"): seeds are
    the same deterministic stride sample, then ``iters`` fixed Lloyd
    rounds of cosine argmax assignment (identical tie law to the IVF
    assignment: max cosine, then min centroid id — the point's norm is a
    positive constant inside its own argmax, so assignment ranks by
    ``dot/|c|`` and skips the point-norm divide) and element-wise mean
    update. Empty clusters keep their previous centroid (n_assigned 0).
    Fixed iteration count keeps the result a pure function of the input;
    final means are compared at round(x, 9) — mean sums reassociate
    between engines, every other op is the repo's bit-exact fold law.

    Plan shape (100 TB lens): per round, assignment is a BROADCAST
    centroid join collapsed by a map-side-combinable max(struct) agg
    (O(n_points) shuffle rows, same as IVF assignment); the update is
    posexplode → (centroid, dim) hash agg — again map-side combinable,
    shuffle volume O(k * dim), NOT O(points). ``localCheckpoint`` per
    round truncates the iterative lineage. No driver-side vectors ever.
    """
    p = points.select(
        F.col(id_col).cast("long").alias("pid"), F.col(vec).alias("pv")
    )
    cents = p.filter(F.col("pid") % stride == 0).select(
        F.col("pid").alias("centroid_id"), F.col("pv").alias("cv")
    )
    out = None
    for _ in range(int(iters)):
        c = F.broadcast(
            cents.withColumn(
                "cn", F.sqrt(dot_codegen(F.col("cv"), F.col("cv"), dim))
            )
        )
        scored = p.crossJoin(c).select(
            "pid",
            "pv",
            "centroid_id",
            (dot_codegen(F.col("pv"), F.col("cv"), dim) / F.col("cn")).alias("__s"),
        )
        assigned = (
            scored.groupBy("pid")
            .agg(
                F.first("pv").alias("pv"),
                F.max(
                    F.struct(F.col("__s"), (-F.col("centroid_id")).alias("__nc"))
                ).alias("__m"),
            )
            .select("pid", "pv", (-F.col("__m.__nc")).alias("centroid_id"))
        )
        sums = (
            assigned.select(
                "centroid_id", F.posexplode("pv").alias("d", "x")
            )
            .groupBy("centroid_id", "d")
            .agg(
                F.sum(F.col("x").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        means = sums.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("d", (F.col("s") / F.col("n").cast("double")).alias("m"))
                    )
                ),
                lambda st: st["m"],
            ).alias("mv"),
            F.max("n").alias("n_assigned"),
        )
        out = (
            cents.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("n_assigned"), F.lit(0)).alias("n_assigned"),
                F.coalesce(
                    F.col("mv"),
                    F.transform(F.col("cv"), lambda x: x.cast("double")),
                ).alias("cv"),
            )
            .localCheckpoint()
        )
        cents = out.select("centroid_id", "cv")
    return out.select("centroid_id", "n_assigned", F.col("cv").alias("centroid"))


def kmeans_train_sql(
    points_sql: str,
    iters: int = 2,
    stride: int = 16,
) -> str:
    """DuckDB twin of :func:`kmeans_train` with the Lloyd loop UNROLLED
    (one assignment/update CTE pair per round, like pagerank_sql).
    ``points_sql`` must yield ``(pid, pv)``. Final means reassociate —
    consumers compare at round(x, 9)."""

    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
            f"(acc, v) -> acc + v)"
        )

    parts = [
        f"WITH km_pts AS MATERIALIZED ({points_sql})",
        f"km_c0 AS (SELECT pid AS centroid_id, "
        f"list_transform(pv, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM km_pts WHERE pid % {int(stride)} = 0)",
    ]
    for t in range(1, int(iters) + 1):
        prv = t - 1
        parts.append(
            f"km_a{t} AS (SELECT pid, pv, centroid_id FROM ("
            f"SELECT p.pid, p.pv, c.centroid_id, row_number() OVER ("
            f"PARTITION BY p.pid ORDER BY "
            f"({dot('p.pv', 'c.cv')}) / sqrt({dot('c.cv', 'c.cv')}) DESC, "
            f"c.centroid_id ASC) AS r FROM km_pts p, km_c{prv} c) WHERE r = 1)"
        )
        parts.append(
            f"km_s{t} AS (SELECT centroid_id, generate_subscripts(pv, 1) AS d, "
            f"unnest(pv) AS x FROM km_a{t})"
        )
        parts.append(
            f"km_g{t} AS (SELECT centroid_id, d, sum(CAST(x AS DOUBLE)) AS s, "
            f"count(*) AS n FROM km_s{t} GROUP BY centroid_id, d)"
        )
        parts.append(
            f"km_m{t} AS (SELECT centroid_id, "
            f"list(s / CAST(n AS DOUBLE) ORDER BY d) AS mv, "
            f"max(n) AS n_assigned FROM km_g{t} GROUP BY centroid_id)"
        )
        parts.append(
            f"km_c{t} AS (SELECT c.centroid_id, "
            f"coalesce(m.mv, c.cv) AS cv, "
            f"coalesce(m.n_assigned, 0) AS n_assigned "
            f"FROM km_c{prv} c LEFT JOIN km_m{t} m USING (centroid_id))"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT centroid_id, n_assigned, cv AS centroid FROM km_c{int(iters)}"
    )


# ---------------------------------------------------------------------------
# top principal component (fixed power iterations, PCA-lite)
# ---------------------------------------------------------------------------


def power_iteration_top_pc(
    points: DataFrame,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Leading principal direction of an embedding table → ``(d, v)``
    (one row per dimension, unit-norm vector after ``iters`` power
    iterations on the centered Gram matrix).

    The embedding-hygiene primitive (dominant-direction removal — the
    all-but-the-top-PC postprocessing of Mu & Viswanath 2018 — drift
    detection, whitening prep), computed WITHOUT any linear-algebra
    library: everything is explode + join + hash agg, so it scales like
    any shuffle workload and the DuckDB twin is the same plan.

    Law (pure function of the input): center by per-dim mean; G[d1,d2] =
    Σ xc[d1]·xc[d2] (the centered Gram — the 1/(n-1) scale does not move
    the eigenvector and is skipped); v0 = 1/√dim · 1⃗; each round
    v ← G·v / ‖G·v‖. Fixed ``iters`` keeps the result deterministic;
    sums reassociate between engines so consumers compare at
    round(v, 7); the all-ones start fixes the sign convention.

    Plan shape (100 TB lens): the heavy stage is the Gram accumulation —
    a self-equi-join on the row id (co-partitioned, no skew: every row
    carries exactly ``dim`` entries) followed by a (d1,d2) hash agg
    whose OUTPUT is dim² rows regardless of corpus size — the classic
    "compute X^T X distributed, iterate on the tiny result" shape. The
    power loop itself runs on dim² × dim tables (broadcast joins).
    """
    x = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.posexplode(vec).alias("d", "x0"),
    ).select("pid", "d", F.col("x0").cast("double").alias("x"))
    mu = x.groupBy("d").agg(
        (F.sum("x") / F.count(F.lit(1)).cast("double")).alias("mu")
    )
    xc = x.join(F.broadcast(mu), "d").select(
        "pid", "d", (F.col("x") - F.col("mu")).alias("xc")
    )
    a = xc.select("pid", F.col("d").alias("d1"), F.col("xc").alias("x1"))
    b = xc.select("pid", F.col("d").alias("d2"), F.col("xc").alias("x2"))
    gram = (
        a.join(b, "pid")
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("x1") * F.col("x2")).alias("g"))
        .localCheckpoint()
    )
    import math

    v = None  # (d, v) table; v0 handled via literal inside the first round
    v0 = 1.0 / math.sqrt(float(dim))
    for t in range(int(iters)):
        if v is None:
            w = gram.groupBy(F.col("d1").alias("d")).agg(
                F.sum(F.col("g") * F.lit(v0)).alias("w")
            )
        else:
            w = (
                gram.join(
                    F.broadcast(v.select(F.col("d").alias("d2"), "v")), "d2"
                )
                .groupBy(F.col("d1").alias("d"))
                .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
            )
        norm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = (
            w.crossJoin(F.broadcast(norm))
            .select("d", (F.col("w") / F.col("nrm")).alias("v"))
            .localCheckpoint()
        )
    return v


def power_iteration_top_pc_sql(
    points_sql: str, iters: int = 3, dim: int = 64
) -> str:
    """DuckDB twin of :func:`power_iteration_top_pc`, loop unrolled.
    ``points_sql`` must yield ``(pid, pv)``. Compare at round(v, 7)."""
    import math

    v0 = 1.0 / math.sqrt(float(dim))
    parts = [
        f"WITH pc_pts AS MATERIALIZED ({points_sql})",
        "pc_x AS (SELECT pid, generate_subscripts(pv, 1) - 1 AS d, "
        "CAST(unnest(pv) AS DOUBLE) AS x FROM pc_pts)",
        "pc_mu AS (SELECT d, sum(x) / CAST(count(*) AS DOUBLE) AS mu "
        "FROM pc_x GROUP BY d)",
        "pc_xc AS (SELECT pid, pc_x.d, x - mu AS xc FROM pc_x "
        "JOIN pc_mu ON pc_mu.d = pc_x.d)",
        "pc_g AS MATERIALIZED (SELECT a.d AS d1, b.d AS d2, "
        "sum(a.xc * b.xc) AS g "
        "FROM pc_xc a JOIN pc_xc b ON a.pid = b.pid GROUP BY a.d, b.d)",
    ]
    prev = None
    for t in range(1, int(iters) + 1):
        if prev is None:
            parts.append(
                f"pc_w{t} AS (SELECT d1 AS d, sum(g * {v0!r}) AS w "
                "FROM pc_g GROUP BY d1)"
            )
        else:
            parts.append(
                f"pc_w{t} AS (SELECT d1 AS d, sum(g * v.v) AS w "
                f"FROM pc_g JOIN {prev} v ON v.d = pc_g.d2 GROUP BY d1)"
            )
        parts.append(
            f"pc_n{t} AS (SELECT sqrt(sum(w * w)) AS nrm FROM pc_w{t})"
        )
        parts.append(
            f"pc_v{t} AS (SELECT d, w / nrm AS v FROM pc_w{t}, pc_n{t})"
        )
        prev = f"pc_v{t}"
    return ",\n".join(parts) + f"\nSELECT d, v FROM {prev}"


def remove_top_pc(
    points: DataFrame,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Dominant-direction removal: ``x ← x − (x·v)v`` with ``v`` the
    power-iteration top PC — the all-but-the-top postprocessing (Mu &
    Viswanath 2018) that strips the corpus-wide common component before
    cosine similarity (raw embeddings share a large common direction
    that swamps cosine; removing it is standard retrieval hygiene,
    and the reason :func:`power_iteration_top_pc` exists).

    NOTE: centering is used to ESTIMATE v (same law as
    power_iteration_top_pc); the projection is applied to the RAW
    vectors — the published recipe.

    Returns ``(id, d, e)`` exploded per dimension (scalar rows — the
    repo's oracle-friendly shape for vector outputs).

    Plan shape: v is dim rows — broadcast; the projection is one
    scan-riding pass per row (dot fold + element update inside HOFs),
    no shuffle beyond the PC estimation itself.
    """
    v = power_iteration_top_pc(points, iters=iters, dim=dim, id_col=id_col, vec=vec)
    # agg does NOT preserve input order — sort inside the row instead
    varr = v.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
        ).alias("varr")
    )
    p = points.select(F.col(id_col).cast("long").alias("id"), F.col(vec).alias("pv"))
    proj = (
        p.crossJoin(F.broadcast(varr))
        .withColumn("dot", dot_codegen(F.col("pv"), F.col("varr"), dim))
        .select(
            "id",
            F.posexplode(
                F.zip_with(
                    "pv",
                    "varr",
                    lambda x, vv: x.cast("double") - F.col("dot") * vv,
                )
            ).alias("d", "e"),
        )
    )
    return proj


def remove_top_pc_sql(points_sql: str, iters: int = 3, dim: int = 64) -> str:
    """DuckDB twin — same v (unrolled), same left-to-right dot fold, same
    per-element update. Compare at round(e, 7)."""
    pc = power_iteration_top_pc_sql(points_sql, iters=iters, dim=dim)
    return f"""WITH rp_v AS MATERIALIZED (
  SELECT list(v ORDER BY d) AS varr FROM ({pc})
),
rp_p AS (SELECT pid AS id, pv FROM ({points_sql})),
rp_d AS (
  SELECT id, pv, varr,
         list_reduce(list_transform(list_zip(pv, varr),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
           (acc, x) -> acc + x) AS dot
  FROM rp_p, rp_v
)
SELECT id, generate_subscripts(pv, 1) - 1 AS d,
       CAST(unnest(pv) AS DOUBLE) - dot * unnest(varr) AS e
FROM rp_d"""


def pq_encode(
    vectors: DataFrame,
    m: int = 8,
    centroid_stride: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): split each
    vector into ``m`` subspaces and replace every subvector with the id
    of its nearest codebook entry — the vector-compression step that
    makes billion-scale ANN memory-resident (a 64-dim float vector
    becomes m=8 single-byte codes: 32x smaller; completes the engine's
    vector family alongside LSH buckets and IVF lists).

    * **Codebooks**: every ``centroid_stride``-th vector by id donates
      its subvectors (deterministic and exactly oracle-checkable, same
      contract as the IVF stride centroids — at corpus scale swap in
      per-subspace k-means codebooks via :func:`kmeans_train`; the
      encode plan below is identical either way).
    * **Encode**: per (vector, subspace): argmin of the subspace L2²
      over the BROADCAST codebook, computed as an unrolled fixed-order
      chain of (dim/m) squared-difference terms (the
      :func:`dot_codegen` discipline — whole-stage codegen, bit-exact
      cross-engine), ties broken by the smaller code id via one
      map-side-combinable ``min(struct(d2, code))`` aggregation —
      shuffle volume O(n·m), never O(n·k).

    Returns ``(vec_id, subspace, code, d2)`` — one row per subspace,
    the relational form of the code matrix (pivot downstream if a
    packed array is wanted).
    """
    if dim % m:
        raise ValueError(f"pq_encode: dim {dim} not divisible by m {m}")
    sub = dim // m
    subspaces = F.explode(F.array(*[F.lit(j) for j in range(int(m))]))
    cents = vectors.where(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("code"), F.col(vec).alias("__cv")
    )
    v_j = vectors.select(
        F.col(id_col), F.col(vec).alias("__v"), subspaces.alias("subspace")
    ).select(
        id_col,
        "subspace",
        F.slice(F.col("__v"), F.col("subspace") * sub + 1, sub).alias("__vs"),
    )
    c_j = cents.select(
        "code", subspaces.alias("subspace"), F.col("__cv").alias("__cv")
    ).select(
        "code",
        "subspace",
        F.slice(F.col("__cv"), F.col("subspace") * sub + 1, sub).alias("__cs"),
    )
    d2: Column = F.lit(0.0)
    for i in range(1, sub + 1):
        diff = F.element_at("__vs", i).cast("double") - F.element_at(
            "__cs", i
        ).cast("double")
        d2 = d2 + diff * diff
    scored = v_j.join(F.broadcast(c_j), "subspace").select(
        id_col, "subspace", F.struct(d2.alias("d2"), F.col("code")).alias("__s")
    )
    best = scored.groupBy(id_col, "subspace").agg(F.min("__s").alias("__b"))
    return best.select(
        id_col,
        "subspace",
        F.col("__b.code").alias("code"),
        F.col("__b.d2").alias("d2"),
    )


def pq_encode_sql(
    vectors_sql: str,
    m: int = 8,
    centroid_stride: int = 32,
    dim: int = 64,
    id_expr: str = "vec_id",
    vec_expr: str = "embedding",
) -> str:
    """DuckDB twin — identical slice/unrolled-L2/tie law (argmin via a
    deterministic row_number: semantics, not plan)."""
    if dim % m:
        raise ValueError("pq_encode_sql: dim not divisible by m")
    sub = dim // m
    terms = " + ".join(
        f"(CAST(vs[{i}] AS DOUBLE) - CAST(cs[{i}] AS DOUBLE))"
        f" * (CAST(vs[{i}] AS DOUBLE) - CAST(cs[{i}] AS DOUBLE))"
        for i in range(1, sub + 1)
    )
    return f"""WITH pq_src AS ({vectors_sql}),
pq_j AS (SELECT unnest(range(0, {int(m)})) AS subspace),
pq_v AS (
  SELECT {id_expr} AS vid, subspace,
         list_slice({vec_expr}, subspace * {sub} + 1, subspace * {sub} + {sub}) AS vs
  FROM pq_src CROSS JOIN pq_j
),
pq_c AS (
  SELECT {id_expr} AS code, subspace,
         list_slice({vec_expr}, subspace * {sub} + 1, subspace * {sub} + {sub}) AS cs
  FROM pq_src CROSS JOIN pq_j
  WHERE {id_expr} % {int(centroid_stride)} = 0
),
pq_d AS (
  SELECT v.vid, v.subspace, c.code, (0.0 + {terms}) AS d2
  FROM pq_v v JOIN pq_c c ON c.subspace = v.subspace
),
pq_r AS (
  SELECT vid, subspace, code, d2,
         row_number() OVER (PARTITION BY vid, subspace
                            ORDER BY d2 ASC, code ASC) AS rn
  FROM pq_d
)
SELECT vid AS {id_expr}, subspace, code, d2 FROM pq_r WHERE rn = 1"""


def pq_adc_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    m: int = 8,
    centroid_stride: int = 32,
    dim: int = 64,
    query_id: str = "query_id",
    target_id: str = "target_id",
    vec: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the payoff of
    :func:`pq_encode`: score(query, target) = Σ_j L2²(query subvector j,
    codebook[target's code j]). The scorer touches only the CODES and a
    per-query m×k lookup table — never the target vectors — which is
    why PQ search fits a billion vectors in RAM.

    Exactness law: the per-subspace lookup distances are the same
    unrolled bit-exact chains as the encoder; the m-term ADC sum is an
    EXPLICIT in-order fold over subspace index (collect → sort →
    left-to-right aggregate on Spark; ``list_reduce`` over an ORDER BY
    subspace list in DuckDB — the 0.0-seeded and seedless folds agree
    because 0.0 + x == x for the nonnegative first term), so scores and
    the (score, target_id) ranking are bit-identical cross-engine.

    Plan shape (100 TB lens): codes = one :func:`pq_encode` pass over
    the targets (shuffle O(n·m)); the distance table is queries ×
    codebook — tiny, broadcast; scoring is an equi-join on (subspace,
    code) + one (query, target) hash agg with constant-size (m) groups;
    top-k is a bounded per-query window. Returns
    ``(query_id, target_id, adc_d2, rank)``.
    """
    sub = dim // m
    codes = pq_encode(
        targets, m=m, centroid_stride=centroid_stride, dim=dim,
        id_col=target_id, vec=vec,
    ).select(F.col(target_id), "subspace", "code")
    subspaces = F.explode(F.array(*[F.lit(j) for j in range(int(m))]))
    cents = targets.where(F.col(target_id) % centroid_stride == 0).select(
        F.col(target_id).alias("code"), F.col(vec).alias("__cv")
    )
    c_j = cents.select(
        "code", subspaces.alias("subspace"), F.col("__cv")
    ).select(
        "code",
        "subspace",
        F.slice(F.col("__cv"), F.col("subspace") * sub + 1, sub).alias("__cs"),
    )
    q_j = queries.select(
        F.col(query_id), F.col(vec).alias("__q"), subspaces.alias("subspace")
    ).select(
        query_id,
        "subspace",
        F.slice(F.col("__q"), F.col("subspace") * sub + 1, sub).alias("__qs"),
    )
    qd2: Column = F.lit(0.0)
    for i in range(1, sub + 1):
        diff = F.element_at("__qs", i).cast("double") - F.element_at(
            "__cs", i
        ).cast("double")
        qd2 = qd2 + diff * diff
    dtab = q_j.join(F.broadcast(c_j), "subspace").select(
        query_id, "subspace", "code", qd2.alias("__qd2")
    )
    scored = codes.join(dtab, ["subspace", "code"]).groupBy(
        query_id, target_id
    ).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("subspace", "__qd2"))),
            F.lit(0.0),
            lambda acc, x: acc + x["__qd2"],
        ).alias("adc_d2")
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adc_d2").asc(), F.col(target_id).asc()
    )
    return (
        scored.select("*", F.row_number().over(w).cast("int").alias("rank"))
        .where(F.col("rank") <= F.lit(int(k)))
    )


def pq_adc_topk_sql(
    queries_sql: str,
    targets_sql: str,
    k: int,
    m: int = 8,
    centroid_stride: int = 32,
    dim: int = 64,
    query_id: str = "query_id",
    target_id: str = "target_id",
    vec_expr: str = "embedding",
) -> str:
    """DuckDB twin — re-derives codes + distance table with the same
    laws; in-order fold via list_reduce over ORDER BY subspace."""
    sub = dim // m
    enc = pq_encode_sql(
        targets_sql, m=m, centroid_stride=centroid_stride, dim=dim,
        id_expr=target_id, vec_expr=vec_expr,
    )
    terms = " + ".join(
        f"(CAST(qs[{i}] AS DOUBLE) - CAST(cs[{i}] AS DOUBLE))"
        f" * (CAST(qs[{i}] AS DOUBLE) - CAST(cs[{i}] AS DOUBLE))"
        for i in range(1, sub + 1)
    )
    return f"""WITH adc_codes AS (
{enc}
),
adc_qsrc AS ({queries_sql}),
adc_tsrc AS ({targets_sql}),
adc_j AS (SELECT unnest(range(0, {int(m)})) AS subspace),
adc_c AS (
  SELECT {target_id} AS code, subspace,
         list_slice({vec_expr}, subspace * {sub} + 1, subspace * {sub} + {sub}) AS cs
  FROM adc_tsrc CROSS JOIN adc_j
  WHERE {target_id} % {int(centroid_stride)} = 0
),
adc_q AS (
  SELECT {query_id} AS qid, subspace,
         list_slice({vec_expr}, subspace * {sub} + 1, subspace * {sub} + {sub}) AS qs
  FROM adc_qsrc CROSS JOIN adc_j
),
adc_tab AS (
  SELECT q.qid, q.subspace, c.code, (0.0 + {terms}) AS qd2
  FROM adc_q q JOIN adc_c c ON c.subspace = q.subspace
),
adc_scored AS (
  SELECT t.qid, d.{target_id} AS tid,
         list_reduce(list(t.qd2 ORDER BY t.subspace), (a, b) -> a + b) AS adc_d2
  FROM adc_codes d
  JOIN adc_tab t ON t.subspace = d.subspace AND t.code = d.code
  GROUP BY t.qid, d.{target_id}
),
adc_ranked AS (
  SELECT qid, tid, adc_d2,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY adc_d2 ASC, tid ASC) AS INTEGER) AS rank
  FROM adc_scored
)
SELECT qid AS {query_id}, tid AS {target_id}, adc_d2, rank
FROM adc_ranked WHERE rank <= {int(k)}"""


def knn_classify(
    topk: DataFrame,
    labels: DataFrame,
    query_id: str = "query_id",
    target_id: str = "target_id",
    label_col: str = "label",
    exclude_self: bool = True,
) -> DataFrame:
    """kNN label transfer — majority vote over a top-k neighbor table:
    the classification/weak-labeling step (dataset label propagation,
    semi-supervised tagging, embedding-space QA) that every vector
    pipeline runs after its ANN search.

    Deliberately topk-AGNOSTIC: ``topk`` is any (query_id, target_id)
    neighbor table — :func:`cosine_topk_brute` for oracle work,
    :func:`cosine_topk_lsh` / :func:`cosine_topk_ivf` at scale, or
    :func:`pq_adc_topk` for code-only search; the vote is the same one
    hash agg + one bounded window regardless. ``exclude_self`` drops
    target == query rows first (a query inside the target corpus always
    finds itself at similarity 1 — letting it vote leaks the answer).

    Ties break by the smaller label (count DESC, label ASC) — total
    order, both engines. Returns ``(query_id, label, n_votes)``.
    """
    pairs = topk.select(query_id, target_id)
    if exclude_self:
        pairs = pairs.where(F.col(query_id) != F.col(target_id))
    votes = (
        pairs.join(
            labels.select(
                F.col(target_id), F.col(label_col).alias("label")
            ),
            target_id,
        )
        .groupBy(query_id, "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.select("*", F.row_number().over(w).alias("__rn"))
        .where(F.col("__rn") == 1)
        .select(query_id, "label", "n_votes")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) — the other vector-compression family
# next to PQ: per-vector max-abs scale + 8-bit codes, asymmetric scoring
# ---------------------------------------------------------------------------


def sq8_scale(vec: Column) -> Column:
    """Per-vector quantization scale: max |x_i| (0.0 for a zero vector).
    Max is associative, so the fold matches any engine's reduce exactly."""
    return F.aggregate(
        F.transform(vec, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )


def sq8_codes(vec: Column, scale: Column) -> Column:
    """int8 codes: round-half-up(x / s * 127) clamped to [-127, 127],
    written as ``floor(x/s*127 + 0.5)`` so BOTH engines evaluate the
    identical IEEE expression (no engine-specific rounding mode). A zero
    vector (scale 0) codes to all zeros."""
    enc = F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(
                    x.cast("double") / scale * F.lit(127.0) + F.lit(0.5)
                ).cast("int"),
            ),
        ),
    )
    zeros = F.transform(vec, lambda x: F.lit(0))
    return F.when(scale > F.lit(0.0), enc).otherwise(zeros)


def sq8_adc_dot(qvec: Column, codes: Column, scale: Column) -> Column:
    """Asymmetric distance computation: full-precision query against int8
    codes — ``(s / 127) * Σ q_i · code_i``, the standard SQ8 scoring that
    never reconstructs the target vector. The fold is the engine's
    left-to-right dot law (bit-identical to the DuckDB twin)."""
    acc = F.aggregate(
        F.zip_with(
            qvec, codes, lambda x, c: x.cast("double") * c.cast("double")
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return acc * scale / F.lit(127.0)


def sq8_scale_sql(vec: str) -> str:
    return (
        f"list_reduce(list_transform({vec}, x -> abs(CAST(x AS DOUBLE))), "
        "(acc, v) -> CASE WHEN v > acc THEN v ELSE acc END)"
    )


def sq8_codes_sql(vec: str, scale: str) -> str:
    return (
        f"CASE WHEN {scale} > 0.0 THEN "
        f"list_transform({vec}, x -> greatest(-127, least(127, "
        f"CAST(floor(CAST(x AS DOUBLE) / {scale} * 127.0 + 0.5) AS INT)))) "
        f"ELSE list_transform({vec}, x -> 0) END"
    )


def sq8_adc_dot_sql(qvec: str, codes: str, scale: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({qvec}, {codes}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        f"(acc, v) -> acc + v) * {scale} / 127.0"
    )


# ---------------------------------------------------------------------------
# cluster quality: simplified (centroid-based) silhouette
# ---------------------------------------------------------------------------


def silhouette_simplified(
    points: DataFrame,
    centroids: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Simplified silhouette per cluster → ``(centroid_id, n_points,
    mean_silhouette)`` ordered by centroid id.

    The standard "did k-means produce real structure" gate before
    trusting IVF lists or cluster-balanced sampling: per point,
    ``a`` = cosine distance to its OWN centroid, ``b`` = distance to
    the nearest OTHER centroid, ``s = (b − a) / max(a, b)`` ∈ [−1, 1];
    report the per-cluster mean. The centroid-based simplification
    (Hruschka et al.) replaces the O(n²) pairwise silhouette with
    O(n·k) — the only version that exists at corpus scale.

    Exactness contract: callers pass centroids ROUNDED to 9 decimals
    (one ``transform(round(x, 9))`` after training) so both engines
    score against identical arrays; every per-point op — the unrolled
    left-to-right dot fold, norms, the (score DESC, id ASC) ranking —
    is then bit-identical cross-engine, and only the final per-cluster
    mean reassociates (compared at ``round(x, 9)``, the repo's float
    convention).

    Plan shape: one broadcast of the k-row centroid table, one
    per-point window (rank 1 = own, rank 2 = nearest other), one hash
    agg. O(n·k) scored rows, no point-point pairs, no driver state.
    """
    from pyspark.sql import Window

    p = points.select(
        F.col(id_col).cast("long").alias("pid"), F.col(vec).alias("pv")
    )
    c = F.broadcast(
        centroids.select(
            F.col("centroid_id"),
            F.col("centroid").alias("cv"),
            F.sqrt(dot_codegen(F.col("centroid"), F.col("centroid"), dim)).alias(
                "cn"
            ),
        )
    )
    scored = p.crossJoin(c).select(
        "pid",
        "centroid_id",
        (
            F.lit(1.0)
            - dot_codegen(F.col("pv"), F.col("cv"), dim)
            / (F.sqrt(dot_codegen(F.col("pv"), F.col("pv"), dim)) * F.col("cn"))
        ).alias("dist"),
    )
    w = Window.partitionBy("pid").orderBy(
        F.asc("dist"), F.asc("centroid_id")
    )
    ranked = scored.select(
        "pid", "centroid_id", "dist", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= 2)
    per_point = ranked.groupBy("pid").agg(
        F.max(F.when(F.col("rk") == 1, F.col("centroid_id"))).alias("own"),
        F.max(F.when(F.col("rk") == 1, F.col("dist"))).alias("a"),
        F.max(F.when(F.col("rk") == 2, F.col("dist"))).alias("b"),
    )
    sil = per_point.select(
        "own",
        (
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b"))
        ).alias("s"),
    )
    return (
        sil.groupBy(F.col("own").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.sum("s") / F.count(F.lit(1)), 9).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("centroid_id")
    )


def silhouette_simplified_sql(
    points_sql: str, centroids_sql: str
) -> str:
    """DuckDB twin — identical distance fold, rank law and round-9 mean
    (``points_sql`` → ``(pid, pv)``; ``centroids_sql`` →
    ``(centroid_id, centroid)`` with ROUNDED arrays)."""

    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
            f"(acc, v) -> acc + v)"
        )

    return f"""WITH sl_p AS MATERIALIZED ({points_sql}),
sl_c AS MATERIALIZED (
  SELECT centroid_id, centroid AS cv,
         sqrt({dot('centroid', 'centroid')}) AS cn
  FROM ({centroids_sql})
),
sl_s AS (
  SELECT p.pid, c.centroid_id,
         1.0 - ({dot('p.pv', 'c.cv')})
             / (sqrt({dot('p.pv', 'p.pv')}) * c.cn) AS dist
  FROM sl_p p, sl_c c
),
sl_r AS (
  SELECT pid, centroid_id, dist,
         row_number() OVER (PARTITION BY pid
                            ORDER BY dist ASC, centroid_id ASC) AS rk
  FROM sl_s
),
sl_pp AS (
  SELECT pid,
         max(CASE WHEN rk = 1 THEN centroid_id END) AS own,
         max(CASE WHEN rk = 1 THEN dist END) AS a,
         max(CASE WHEN rk = 2 THEN dist END) AS b
  FROM sl_r WHERE rk <= 2 GROUP BY pid
)
SELECT own AS centroid_id, count(*) AS n_points,
       round(sum((b - a) / greatest(a, b)) / count(*), 9)
         AS mean_silhouette
FROM sl_pp GROUP BY own
ORDER BY centroid_id"""
