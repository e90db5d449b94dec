"""Driver-facing query registry: every operator as a (Spark, oracle-SQL) pair.

Contract (see __spark_entry__.py): each entry runs on the driver-registered
parquet tables (region nation customer supplier part orders lineitem events
documents embeddings) so DuckDB can verify it. Geo operators run over a
*derived* point/polygon world computed with integer-hash arithmetic that is
bit-identical on both engines (pure BIGINT ops + IEEE double division).

Determinism rules used throughout:
* no double SUM/AVG across rows (shuffle order changes fp rounding) —
  money is summed in integer cents, distances compared per-row;
* every hash is md5 (identical on both engines);
* all window ties broken by an id column;
* column names aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import dedup as D
from .functions import similarity as S
from .functions import text as T
from .functions.cells import cell_expr, cell_np, cell_sql
from .functions.packing import pack_sequences_sql as _packing_oracle
from .operators.pip import point_in_polygon_join, ray_cast_inside

# ---------------------------------------------------------------------------
# shared derivations (Spark + SQL twins)
# ---------------------------------------------------------------------------

_P1, _M = 2_654_435_761, 2_147_483_647
_P2, _O2 = 40_503, 1_234_567


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived geo points from events: id, lat, lon (bit-exact twin below)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
    hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
    return ev.select(
        F.col("event_id").alias("id"),
        ((hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)).alias("lat"),
        ((hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)).alias("lon"),
    )


_PTS_SQL = f"""
SELECT event_id AS id,
       ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
       ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon
FROM events
"""


def _rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 axis-aligned rectangle polygons derived from nation — closed
    5-vertex rings, same arithmetic as _RECTS_SQL."""
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    hlat = (k * F.lit(_P1)) % F.lit(_M)
    hlon = (k * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
    cy = (hlat % F.lit(1_400_000)) / F.lit(10_000.0) - F.lit(70.0)
    cx = (hlon % F.lit(3_300_000)) / F.lit(10_000.0) - F.lit(165.0)
    h = (k % F.lit(5)).cast("double") / F.lit(2.0) + F.lit(1.0)
    w = (k % F.lit(7)).cast("double") / F.lit(2.0) + F.lit(1.5)
    s, n = cy - h, cy + h
    west, east = cx - w, cx + w
    return na.select(
        k.alias("polygon_id"),
        F.array(s, s, n, n, s).alias("lats"),
        F.array(west, east, east, west, west).alias("lons"),
    )


_RECTS_SQL = f"""
SELECT CAST(n_nationkey AS BIGINT) AS polygon_id,
       ((((CAST(n_nationkey AS BIGINT) * {_P1}) % {_M}) % 1400000) / 10000.0) - 70.0 AS cy,
       ((((CAST(n_nationkey AS BIGINT) * {_P2} + {_O2}) % {_M}) % 3300000) / 10000.0) - 165.0 AS cx,
       (CAST(CAST(n_nationkey AS BIGINT) % 5 AS DOUBLE) / 2.0) + 1.0 AS h,
       (CAST(CAST(n_nationkey AS BIGINT) % 7 AS DOUBLE) / 2.0) + 1.5 AS w
FROM nation
"""


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------


def build_queries() -> dict:
    q = {}

    # ---- tiling (B6/B9) ----------------------------------------------------
    def q_tiles_res8(spark, sf):
        return (
            _pts(spark, sf)
            .groupBy(cell_expr("lat", "lon", 8).alias("cell"))
            .agg(F.count(F.lit(1)).alias("n_points"))
            .orderBy("cell")
        )

    q["tiles_res8"] = (
        q_tiles_res8,
        f"""WITH pts AS ({_PTS_SQL})
SELECT {cell_sql('lat', 'lon', 8)} AS cell, count(*) AS n_points
FROM pts GROUP BY 1 ORDER BY cell""",
    )

    def q_tiles_rollup(spark, sf):
        # engine path: tiles at res 8, integer-arith roll-up to res 5 —
        # the oracle aggregates directly at res 5, so this cross-checks
        # the parent arithmetic itself
        from .operators.tiling import points_to_tiles, rollup_tiles

        t8 = points_to_tiles(_pts(spark, sf), 8)
        return rollup_tiles(t8, 8, 5).select("cell", "n_points").orderBy("cell")

    q["tiles_rollup_5"] = (
        q_tiles_rollup,
        f"""WITH pts AS ({_PTS_SQL})
SELECT {cell_sql('lat', 'lon', 5)} AS cell, count(*) AS n_points
FROM pts GROUP BY 1 ORDER BY cell""",
    )

    def q_tiles_salted(spark, sf):
        from .operators.tiling import salted_points_to_tiles

        return (
            salted_points_to_tiles(_pts(spark, sf), 6, n_salts=8)
            .select("cell", "n_points")
            .orderBy("cell")
        )

    q["tiles_salted_6"] = (
        q_tiles_salted,
        f"""WITH pts AS ({_PTS_SQL})
SELECT {cell_sql('lat', 'lon', 6)} AS cell, count(*) AS n_points
FROM pts GROUP BY 1 ORDER BY cell""",
    )

    # ---- point-in-polygon (B7) ---------------------------------------------
    def q_pip(spark, sf):
        out = point_in_polygon_join(_pts(spark, sf), _rects(spark, sf), res=7)
        return out.select("id", "polygon_id").orderBy("id", "polygon_id")

    # oracle: same PNPOLY formula unrolled over the 4 rectangle edges —
    # divisions by zero on horizontal edges yield inf, comparisons false,
    # identically on both engines
    def _edge(y1, x1, y2, x2):
        return (
            f"(CASE WHEN (({y1} > p.lat) != ({y2} > p.lat)) AND "
            f"(p.lon < ({x2} - {x1}) * (p.lat - {y1}) / ({y2} - {y1}) + {x1}) "
            f"THEN 1 ELSE 0 END)"
        )

    edges = " + ".join(
        [
            _edge("r.s", "r.west", "r.s", "r.east"),
            _edge("r.s", "r.east", "r.n", "r.east"),
            _edge("r.n", "r.east", "r.n", "r.west"),
            _edge("r.n", "r.west", "r.s", "r.west"),
        ]
    )
    q["pip_rects"] = (
        q_pip,
        f"""WITH pts AS ({_PTS_SQL}),
rectsrc AS ({_RECTS_SQL}),
rects AS (SELECT polygon_id, cy - h AS s, cy + h AS n, cx - w AS west, cx + w AS east FROM rectsrc)
SELECT p.id AS id, r.polygon_id AS polygon_id
FROM pts p, rects r
WHERE (({edges}) % 2) = 1
ORDER BY id, polygon_id""",
    )

    # ---- kNN (B8) -----------------------------------------------------------
    def q_knn_brute(spark, sf):
        pts = _pts(spark, sf)
        qs = pts.filter(F.col("id") % 97 == 0).select(
            F.col("id").alias("query_id"),
            F.col("lat").alias("qlat"),
            F.col("lon").alias("qlon"),
        )
        ts = pts.select(
            F.col("id").alias("target_id"),
            F.col("lat").alias("tlat"),
            F.col("lon").alias("tlon"),
        )
        cand = (
            qs.crossJoin(ts)
            .filter(F.col("target_id") != F.col("query_id"))
            .select(
                "query_id",
                "target_id",
                (
                    (F.col("qlat") - F.col("tlat")) * (F.col("qlat") - F.col("tlat"))
                    + (F.col("qlon") - F.col("tlon")) * (F.col("qlon") - F.col("tlon"))
                ).alias("dist2"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist2").asc(), F.col("target_id").asc()
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .orderBy("query_id", "rank")
        )

    q["knn_brute_3"] = (
        q_knn_brute,
        f"""WITH pts AS ({_PTS_SQL}),
cand AS (
  SELECT q.id AS query_id, t.id AS target_id,
         (q.lat - t.lat) * (q.lat - t.lat) + (q.lon - t.lon) * (q.lon - t.lon) AS dist2
  FROM pts q, pts t
  WHERE q.id % 97 = 0 AND t.id != q.id
),
ranked AS (
  SELECT query_id, target_id, dist2,
         row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, target_id ASC) AS rank
  FROM cand
)
SELECT query_id, target_id, dist2, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
ORDER BY query_id, rank""",
    )

    def q_knn_ring(spark, sf):
        from .operators.knn import knn_join

        pts = _pts(spark, sf)
        qs = pts.filter(F.col("id") % 97 == 0).select(
            F.col("id").alias("query_id"), "lat", "lon"
        )
        ts = pts.select(F.col("id").alias("target_id"), "lat", "lon")
        out = knn_join(qs, ts, k=3, res=5, ring=1)
        # planar-ring semantics twin: keep the haversine rank but expose
        # only ids (haversine doubles may differ in the last ulp between
        # libm implementations, so they stay out of the hash)
        return out.select("query_id", "target_id").orderBy("query_id", "target_id")

    n5 = 1 << 5
    ring_cond = (
        f"least((qx - tx + {n5}) % {n5}, (tx - qx + {n5}) % {n5}) <= 1 "
        f"AND abs(qy - ty) <= 1"
    )
    hav = (
        "2.0 * 6371008.8 * asin(sqrt("
        "pow(sin(radians(t.lat - q.lat) / 2), 2) + "
        "cos(radians(q.lat)) * cos(radians(t.lat)) * "
        "pow(sin(radians(t.lon - q.lon) / 2), 2)))"
    )
    x_of = lambda lon: f"least(greatest(cast(floor((({lon}) + 180.0) / 360.0 * 32.0) as bigint), 0), 31)"
    y_of = lambda lat: f"least(greatest(cast(floor((90.0 - ({lat})) / 180.0 * 32.0) as bigint), 0), 31)"
    q["knn_ring_3"] = (
        q_knn_ring,
        f"""WITH pts AS ({_PTS_SQL}),
qs AS (SELECT id, lat, lon, {x_of('lon')} AS qx, {y_of('lat')} AS qy FROM pts WHERE id % 97 = 0),
ts AS (SELECT id, lat, lon, {x_of('lon')} AS tx, {y_of('lat')} AS ty FROM pts),
cand AS (
  SELECT q.id AS query_id, t.id AS target_id, {hav} AS dist_m
  FROM qs q JOIN ts t ON {ring_cond}
),
ranked AS (
  SELECT query_id, target_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist_m ASC, target_id ASC) AS rank
  FROM cand
)
SELECT query_id, target_id FROM ranked WHERE rank <= 3
ORDER BY query_id, target_id""",
    )

    def q_knn_adaptive(spark, sf):
        from .operators.knn import knn_join_adaptive

        pts = _pts(spark, sf)
        qs = pts.filter(F.col("id") % 97 == 0).select(
            F.col("id").alias("query_id"), "lat", "lon"
        )
        ts = pts.select(F.col("id").alias("target_id"), "lat", "lon")
        # EXACT operator (coverage-certified escalation), so the twin is the
        # unconstrained brute-force ranking — no ring algebra to mirror
        out = knn_join_adaptive(qs, ts, k=3, res=8, min_res=2)
        return out.select("query_id", "target_id").orderBy("query_id", "target_id")

    q["knn_adaptive_3"] = (
        q_knn_adaptive,
        f"""WITH pts AS ({_PTS_SQL}),
qs AS (SELECT id, lat, lon FROM pts WHERE id % 97 = 0),
cand AS (
  SELECT q.id AS query_id, t.id AS target_id, {hav} AS dist_m
  FROM qs q CROSS JOIN pts t
),
ranked AS (
  SELECT query_id, target_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist_m ASC, target_id ASC) AS rank
  FROM cand
)
SELECT query_id, target_id FROM ranked WHERE rank <= 3
ORDER BY query_id, target_id""",
    )

    # ---- text analysis ------------------------------------------------------
    def q_token_counts(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return d.select(
            "doc_id",
            T.token_count("text").alias("n_tokens"),
            T.subword_count("text").alias("n_subwords"),
        ).orderBy("doc_id")

    q["text_token_counts"] = (
        q_token_counts,
        f"""SELECT doc_id, {T.token_count_sql('text')} AS n_tokens,
{T.subword_count_sql('text')} AS n_subwords
FROM documents ORDER BY doc_id""",
    )

    def q_lang(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return (
            d.select(T.lang_id("text").alias("lang_pred"))
            .groupBy("lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("lang_pred")
        )

    q["text_lang_id"] = (
        q_lang,
        f"""SELECT {T.lang_id_sql('text')} AS lang_pred, count(*) AS n_docs
FROM documents GROUP BY 1 ORDER BY lang_pred""",
    )

    def q_quality(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        feats = T.quality_features("text")
        return d.select(
            "doc_id",
            feats["n_chars"].alias("n_chars"),
            feats["n_tokens"].alias("n_tokens"),
            feats["alnum_ratio"].alias("alnum_ratio"),
            feats["stop_ratio"].alias("stop_ratio"),
            feats["mean_token_len"].alias("mean_token_len"),
        ).orderBy("doc_id")

    fsql = T.quality_features_sql("text")
    q["text_quality"] = (
        q_quality,
        f"""SELECT doc_id, {fsql['n_chars']} AS n_chars, {fsql['n_tokens']} AS n_tokens,
{fsql['alnum_ratio']} AS alnum_ratio, {fsql['stop_ratio']} AS stop_ratio,
{fsql['mean_token_len']} AS mean_token_len
FROM documents ORDER BY doc_id""",
    )

    def q_fingerprint(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return d.select(
            "doc_id", T.content_fingerprint("text").alias("fingerprint")
        ).orderBy("doc_id")

    q["text_fingerprint"] = (
        q_fingerprint,
        f"""SELECT doc_id, {T.content_fingerprint_sql('text')} AS fingerprint
FROM documents ORDER BY doc_id""",
    )

    # ---- dedup ---------------------------------------------------------------
    def q_exact_dup(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        groups = D.exact_dup_groups(d.unionByName(dup))
        return groups.select("fp", "n_docs", "canonical_id").orderBy("fp")

    q["dedup_exact_groups"] = (
        q_exact_dup,
        f"""WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
fps AS (SELECT doc_id, {T.content_fingerprint_sql('text')} AS fp FROM all_docs)
SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM fps GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
    )

    # ---- exact-dedup savings report -------------------------------------------
    # the bytes-kept summary a pipeline owner reads after fingerprint
    # dedup (keep min doc_id per fingerprint; planted duplicates via the
    # +1e6 shift): all integer counts + terminal shares
    def q_dedup_savings(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "text", "n_chars"
        )
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        docs = d.unionByName(dup)
        fp = docs.select(
            "doc_id", "n_chars", T.content_fingerprint("text").alias("fp")
        )
        kept = fp.groupBy("fp").agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("n_chars").alias("chars_all"),
            F.min_by(F.col("n_chars"), F.col("doc_id")).alias("chars_kept"),
        )
        return kept.agg(
            F.count(F.lit(1)).alias("n_unique_docs"),
            F.sum("n_copies").alias("n_docs_in"),
            F.sum("chars_all").alias("chars_in"),
            F.sum("chars_kept").alias("chars_kept"),
            (
                F.lit(1.0)
                - F.sum("chars_kept").cast("double")
                / F.sum("chars_all").cast("double")
            ).alias("savings_share"),
        )

    q["dedup_exact_savings"] = (
        q_dedup_savings,
        f"""WITH sv2_docs AS (
  SELECT doc_id, text, n_chars FROM documents
  UNION ALL SELECT doc_id + 1000000, text, n_chars FROM documents
),
sv2_fp AS (
  SELECT doc_id, n_chars, {T.content_fingerprint_sql('text')} AS fp
  FROM sv2_docs
),
sv2_k AS (
  SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies,
         sum(n_chars) AS chars_all,
         arg_min(n_chars, doc_id) AS chars_kept
  FROM sv2_fp GROUP BY fp
)
SELECT count(*) AS n_unique_docs,
       CAST(sum(n_copies) AS BIGINT) AS n_docs_in,
       CAST(sum(chars_all) AS BIGINT) AS chars_in,
       CAST(sum(chars_kept) AS BIGINT) AS chars_kept,
       1.0 - CAST(sum(chars_kept) AS DOUBLE)
           / CAST(sum(chars_all) AS DOUBLE) AS savings_share
FROM sv2_k""",
    )

    def q_jaccard(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").filter(F.col("doc_id") < 300)
        return D.jaccard_pairs(d, threshold=0.2, n=3).orderBy("a", "b")

    sh_sql = T.shingles_sql("text", 3)
    q["dedup_jaccard_pairs"] = (
        q_jaccard,
        f"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
sh AS (SELECT doc_id, unnest({sh_sql}) AS s FROM docs),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT i.a AS a, i.b AS b,
       CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.2
ORDER BY a, b""",
    )

    # same semantics as dedup_jaccard_pairs via the PPJoin prefix-filter
    # candidate law — the oracle twin is the SAME exact-jaccard SQL (the
    # prefix filter is provably lossless at the threshold), so a hash
    # match here proves the filter dropped no qualifying pair.
    def q_jaccard_prefix(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").filter(F.col("doc_id") < 300)
        return D.jaccard_prefix_pairs(d, threshold=0.2, n=3).orderBy("a", "b")

    q["dedup_jaccard_prefix"] = (q_jaccard_prefix, q["dedup_jaccard_pairs"][1])

    def q_minhash(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").filter(F.col("doc_id") < 200)
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        return D.minhash_lsh_pairs(
            d.unionByName(dup), threshold=0.8, n_hashes=8, n_bands=4, n=3
        ).orderBy("a", "b")

    mh_cols = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5(s || ':{i}')), 'min') AS mh_{i}"
        for i in range(8)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(mh_{2*b} || '|' || mh_{2*b+1}) AS bkey FROM sigs"
        for b in range(4)
    )
    q["dedup_minhash_lsh"] = (
        q_minhash,
        f"""WITH all_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200
),
shing AS (SELECT doc_id, {sh_sql} AS sh FROM all_docs),
sigs AS MATERIALIZED (SELECT doc_id, sh, {mh_cols} FROM shing WHERE len(sh) > 0),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
),
sh2 AS (SELECT doc_id, unnest(sh) AS s FROM shing),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c JOIN sh2 x ON x.doc_id = c.a JOIN sh2 y ON y.doc_id = c.b AND y.s = x.s
  GROUP BY c.a, c.b
)
SELECT i.a AS a, i.b AS b,
       CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.8
ORDER BY a, b""",
    )

    # ---- LSH tuning evaluation: candidate recall/precision vs exact truth -----
    # the report a pipeline owner reads before picking (n_hashes, n_bands):
    # candidates = band collisions with ANY shingle overlap (threshold 0);
    # truth = exact jaccard >= tau on the same planted corpus. All counts
    # integer; two terminal divisions.
    def q_lsh_eval(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").filter(
            F.col("doc_id") < 200
        )
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        pert = d.withColumn(
            "doc_id", F.col("doc_id") + F.lit(2_000_000)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" zq")))
        docs = d.unionByName(dup).unionByName(pert)
        cand = D.minhash_lsh_pairs(
            docs, threshold=0.0, n_hashes=8, n_bands=4, n=3
        ).select("a", "b", F.col("jaccard").alias("cj"))
        truth = D.jaccard_pairs(docs, threshold=0.5, n=3).select("a", "b")
        n_c = cand.count()
        hit = cand.where(F.col("cj") >= 0.5)
        stats = hit.agg(F.count(F.lit(1)).alias("n_hit")).crossJoin(
            F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        )
        return stats.select(
            F.lit(n_c).alias("n_candidates"),
            "n_truth",
            "n_hit",
            (F.col("n_hit").cast("double") / F.lit(float(n_c))).alias(
                "precision"
            ),
            (
                F.col("n_hit").cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )

    q["dedup_lsh_eval"] = (
        q_lsh_eval,
        f"""WITH all_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 2000000, text || ' zq' FROM documents
            WHERE doc_id < 200
),
shing AS (SELECT doc_id, {sh_sql} AS sh FROM all_docs),
sigs AS MATERIALIZED (SELECT doc_id, sh, {mh_cols} FROM shing WHERE len(sh) > 0),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
),
sh2 AS (SELECT doc_id, unnest(sh) AS s FROM shing),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
cinter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c JOIN sh2 x ON x.doc_id = c.a JOIN sh2 y ON y.doc_id = c.b AND y.s = x.s
  GROUP BY c.a, c.b
),
cj AS (
  SELECT i.a, i.b,
         CAST(i.n_inter AS DOUBLE)
           / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS j
  FROM cinter i JOIN sizes sa ON sa.doc_id = i.a
  JOIN sizes sb ON sb.doc_id = i.b
),
tinter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
  FROM sh2 x JOIN sh2 y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.a, i.b
  FROM tinter i JOIN sizes sa ON sa.doc_id = i.a
  JOIN sizes sb ON sb.doc_id = i.b
  WHERE CAST(i.n_inter AS DOUBLE)
          / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
)
SELECT (SELECT count(*) FROM cj) AS n_candidates,
       (SELECT count(*) FROM truth) AS n_truth,
       (SELECT count(*) FROM cj WHERE j >= 0.5) AS n_hit,
       CAST((SELECT count(*) FROM cj WHERE j >= 0.5) AS DOUBLE)
         / CAST((SELECT count(*) FROM cj) AS DOUBLE) AS precision,
       CAST((SELECT count(*) FROM cj WHERE j >= 0.5) AS DOUBLE)
         / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall""",
    )

    # ---- duplicate-cluster size histogram --------------------------------------
    # how big do near-dup clusters get (pairwise LSH -> components ->
    # size histogram): the skew signal for cluster-cap planning. Engine:
    # star-loop CC; oracle: recursive closure over the same banded pairs.
    def q_cluster_hist(spark, sf):
        from .operators.graph import connected_components

        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "text")
        )
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        pert = d.withColumn(
            "doc_id", F.col("doc_id") + F.lit(2_000_000)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" zq")))
        docs = d.unionByName(dup).unionByName(pert)
        pairs = D.minhash_lsh_pairs(
            docs, threshold=0.5, n_hashes=8, n_bands=4, n=3
        )
        cc = connected_components(pairs, "a", "b")
        sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        return (
            sizes.groupBy("sz")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .orderBy("sz")
        )

    q["dedup_cluster_size_histogram"] = (
        q_cluster_hist,
        f"""WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 2000000, text || ' zq' FROM documents
            WHERE doc_id < 200
),
shing AS (SELECT doc_id, {sh_sql} AS sh FROM all_docs),
sigs AS MATERIALIZED (SELECT doc_id, sh, {mh_cols} FROM shing WHERE len(sh) > 0),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
   AND x.doc_id < y.doc_id
),
sh2 AS (SELECT doc_id, unnest(sh) AS s FROM shing),
sizes0 AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c JOIN sh2 x ON x.doc_id = c.a
  JOIN sh2 y ON y.doc_id = c.b AND y.s = x.s
  GROUP BY c.a, c.b
),
pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes0 sa ON sa.doc_id = i.a
  JOIN sizes0 sb ON sb.doc_id = i.b
  WHERE CAST(i.n_inter AS DOUBLE)
          / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
),
edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT u AS id, u AS lbl FROM edges
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id
),
comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
csz AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
SELECT sz, count(*) AS n_clusters FROM csz GROUP BY sz ORDER BY sz""",
    )

    def q_simhash(spark, sf):
        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("doc_id") < 150)
            .select("doc_id", "text")
        )
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        pert = d.withColumn(
            "doc_id", F.col("doc_id") + F.lit(2_000_000)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" zq")))
        return D.simhash_pairs(
            d.unionByName(dup).unionByName(pert), max_hamming=3, n=2, n_blocks=4
        ).orderBy("a", "b")

    # DuckDB twin is *exhaustive* (all-pairs hamming) — valid oracle because
    # the pigeonhole block trick is exact for max_hamming < n_blocks: any
    # pair within hamming 3 shares one of the 4 blocks, so the Spark
    # candidate set provably covers every qualifying pair.
    sh2_sql = T.shingles_sql("text", 2)
    sim_votes = " + ".join(
        f"CASE WHEN list_sum(list_transform(h, v -> CASE WHEN ((v >> {k}) & 1) = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << k} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for k in range(60)
    )
    q["dedup_simhash"] = (
        q_simhash,
        f"""WITH all_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 150
  UNION ALL SELECT doc_id + 2000000, text || ' zq' FROM documents WHERE doc_id < 150
),
shing AS (SELECT doc_id, {sh2_sql} AS sh FROM all_docs),
hs AS (SELECT doc_id,
       list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS h
       FROM shing),
sigs AS (SELECT doc_id, ({sim_votes}) AS sh64 FROM hs)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.sh64, y.sh64)) AS INT) AS hamming
FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.sh64, y.sh64)) <= 3
ORDER BY a, b""",
    )

    # ---- embeddings / similarity ---------------------------------------------
    def q_cos_topk(spark, sf):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.filter(F.col("vec_id") % 101 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ts = e.select(F.col("vec_id").alias("target_id"), "embedding")
        out = S.cosine_topk_brute(qs, ts, k=5)
        return out.filter(F.col("query_id") != F.col("target_id")).select(
            "query_id", "target_id", "cos_sim"
        ).orderBy("query_id", "target_id")

    cos = S.cosine_sql("q.embedding", "t.embedding")
    q["ann_cosine_topk"] = (
        q_cos_topk,
        f"""WITH ranked AS (
  SELECT q.vec_id AS query_id, t.vec_id AS target_id, {cos} AS cos_sim,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos} DESC, t.vec_id ASC) AS rank
  FROM embeddings q, embeddings t
  WHERE q.vec_id % 101 = 0
)
SELECT query_id, target_id, cos_sim FROM ranked
WHERE rank <= 5 AND query_id != target_id
ORDER BY query_id, target_id""",
    )

    # ---- LSH-bucketed ANN with a full DuckDB twin of the bucket algebra:
    # the hyperplanes are deterministic (seed 42), so the oracle re-derives
    # buckets, single-bit multiprobe, the bucket join, the exact cosine
    # re-rank, and top-k — bit-for-bit (list_reduce folds left-to-right
    # like Spark aggregate). This verifies the SCALE path end to end, not
    # just the brute-force oracle twin above.
    _ANN_BITS, _ANN_TABLES, _ANN_DIM, _ANN_K = 8, 4, 64, 5

    def q_ann_lsh(spark, sf):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.filter(F.col("vec_id") % 7 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ts = e.select(F.col("vec_id").alias("target_id"), "embedding")
        out = S.cosine_topk_lsh(
            qs,
            ts,
            k=_ANN_K,
            n_bits=_ANN_BITS,
            n_tables=_ANN_TABLES,
            dim=_ANN_DIM,
            multiprobe=1,
        )
        return out.orderBy("query_id", "target_id")

    def _bucket_sql(vec: str, planes) -> str:
        bits = []
        for j, row in enumerate(planes):
            arr = "[" + ", ".join(repr(float(v)) for v in row) + "]"
            dotj = (
                f"list_reduce(list_transform(list_zip({vec}, {arr}), "
                f"p -> CAST(p[1] AS DOUBLE) * p[2]), (acc, v) -> acc + v)"
            )
            bits.append(
                f"CASE WHEN ({dotj}) > 0.0 THEN CAST({1 << j} AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END"
            )
        return "(" + " + ".join(bits) + ")"

    def _norm_sql(a: str) -> str:
        return (
            f"sqrt(list_reduce(list_transform({a}, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))"
        )

    _q_branches = []
    _t_branches = []
    for _tbl in range(_ANN_TABLES):
        _planes = S._hyperplanes(_ANN_DIM, _ANN_BITS, _tbl)
        _q_branches.append(
            f"SELECT query_id, qv, qn, {_tbl} AS tbl,"
            f" {_bucket_sql('qv', _planes)} AS bkt FROM q"
        )
        _t_branches.append(
            f"SELECT target_id, tv, tn, {_tbl} AS tbl,"
            f" {_bucket_sql('tv', _planes)} AS bkt FROM t"
        )
    _probes = "[" + ", ".join(
        str(v) for v in [0] + [1 << j for j in range(_ANN_BITS)]
    ) + "]"
    _dot_qt = (
        "list_reduce(list_transform(list_zip(qpr.qv, tb.tv), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    q["ann_lsh_topk"] = (
        q_ann_lsh,
        f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, {_norm_sql("embedding")} AS qn
  FROM embeddings WHERE vec_id % 7 = 0
),
t AS (
  SELECT vec_id AS target_id, embedding AS tv, {_norm_sql("embedding")} AS tn
  FROM embeddings
),
qb AS (
{" UNION ALL ".join(_q_branches)}
),
tb AS (
{" UNION ALL ".join(_t_branches)}
),
qpr AS (
  SELECT query_id, qv, qn, tbl, xor(bkt, f) AS bkt
  FROM qb, UNNEST({_probes}) AS u(f)
),
cand AS (
  SELECT DISTINCT qpr.query_id, tb.target_id,
         ({_dot_qt}) / (qpr.qn * tb.tn) AS cos_sim
  FROM qpr JOIN tb ON qpr.tbl = tb.tbl AND qpr.bkt = tb.bkt
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, target_id ASC
  ) AS rank FROM cand
)
SELECT query_id, target_id, cos_sim FROM ranked
WHERE rank <= {_ANN_K}
ORDER BY query_id, target_id""",
    )

    # ---- IVF ANN with a full DuckDB twin of the inverted-file algebra:
    # stride-sampled centroids, argmax-cosine assignment, nprobe nearest
    # lists, exact re-rank — every double in the same IEEE fold order as
    # dot_codegen (left-to-right), so the twin is bit-exact end to end.
    _IVF_STRIDE, _IVF_NPROBE, _IVF_K = 25, 3, 5

    def q_ann_ivf(spark, sf):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.filter(F.col("vec_id") % 11 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ts = e.select(F.col("vec_id").alias("target_id"), "embedding")
        out = S.cosine_topk_ivf(
            qs, ts, k=_IVF_K, centroid_stride=_IVF_STRIDE, nprobe=_IVF_NPROBE,
            dim=64,
        )
        return out.orderBy("query_id", "target_id")

    def _dot_sql(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
            f"(acc, v) -> acc + v)"
        )

    q["ann_ivf_topk"] = (
        q_ann_ivf,
        f"""WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv, {_norm_sql("embedding")} AS cn
  FROM embeddings WHERE vec_id % {_IVF_STRIDE} = 0
),
t AS (
  SELECT vec_id AS target_id, embedding AS tv, {_norm_sql("embedding")} AS tn
  FROM embeddings
),
t_assign AS (
  SELECT target_id, tv, tn, centroid_id, row_number() OVER (
    PARTITION BY target_id
    ORDER BY ({_dot_sql("tv", "cv")}) / (tn * cn) DESC, centroid_id ASC
  ) AS r
  FROM t, cents
),
assigned AS (SELECT target_id, tv, tn, centroid_id FROM t_assign WHERE r = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, {_norm_sql("embedding")} AS qn
  FROM embeddings WHERE vec_id % 11 = 0
),
q_probe AS (
  SELECT query_id, qv, qn, centroid_id, row_number() OVER (
    PARTITION BY query_id
    ORDER BY ({_dot_sql("qv", "cv")}) / (qn * cn) DESC, centroid_id ASC
  ) AS r
  FROM q, cents
),
probes AS (
  SELECT query_id, qv, qn, centroid_id FROM q_probe WHERE r <= {_IVF_NPROBE}
),
cand AS (
  SELECT query_id, target_id,
         ({_dot_sql("qv", "tv")}) / (qn * tn) AS cos_sim
  FROM probes JOIN assigned USING (centroid_id)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, target_id ASC
  ) AS rank FROM cand
)
SELECT query_id, target_id, cos_sim FROM ranked
WHERE rank <= {_IVF_K}
ORDER BY query_id, target_id""",
    )

    # ---- kNN label transfer (majority vote over exact-at-full-probe IVF) ------
    # the Spark plan is the IVF scale shape; nprobe >= n_lists makes it
    # EXACT (the documented recall dial), so the brute cross-join twin
    # is the oracle. Self-votes excluded (the query is in the corpus).
    def q_knn_classify(spark, sf):
        from .functions.similarity import knn_classify

        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.where(F.col("vec_id") % 17 == 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ts = e.select(F.col("vec_id").alias("target_id"), "embedding")
        topk = S.cosine_topk_ivf(
            qs, ts, k=6, centroid_stride=25, nprobe=10_000, dim=64
        )
        labels = e.select(F.col("vec_id").alias("target_id"), "label")
        return knn_classify(topk, labels).orderBy("query_id")

    q["embeddings_knn_classify"] = (
        q_knn_classify,
        f"""WITH kq AS (
  SELECT vec_id AS query_id, embedding AS qv, {_norm_sql("embedding")} AS qn
  FROM embeddings WHERE vec_id % 17 = 3
),
kt AS (
  SELECT vec_id AS target_id, embedding AS tv, {_norm_sql("embedding")} AS tn,
         label
  FROM embeddings
),
kranked AS (
  SELECT query_id, target_id, label, row_number() OVER (
    PARTITION BY query_id
    ORDER BY ({_dot_sql("qv", "tv")}) / (qn * tn) DESC, target_id ASC
  ) AS rank
  FROM kq, kt
),
kvotes AS (
  SELECT query_id, label, count(*) AS n_votes
  FROM kranked WHERE rank <= 6 AND target_id <> query_id
  GROUP BY query_id, label
),
kwin AS (
  SELECT query_id, label, n_votes, row_number() OVER (
    PARTITION BY query_id ORDER BY n_votes DESC, label ASC) AS rn
  FROM kvotes
)
SELECT query_id, label, n_votes FROM kwin WHERE rn = 1
ORDER BY query_id""",
    )

    # ---- Matryoshka truncation recall: 16-dim prefix vs full 64-dim top-k ------
    # the evaluation query behind prefix-truncatable embeddings: how much
    # of the exact top-5 survives when vectors are cut to their first 16
    # dims. Brute top-k on both sides (the oracle-grade baseline; at
    # scale both sides run the LSH/IVF paths — the recall JOIN is the
    # same), overlap counted per query, one exact division.
    def q_matryoshka(spark, sf):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.where(F.col("vec_id") % 13 == 1).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ts = e.select(F.col("vec_id").alias("target_id"), "embedding")
        full = S.cosine_topk_brute(qs, ts, k=5).select("query_id", "target_id")
        qs16 = qs.select("query_id", F.slice("embedding", 1, 16).alias("embedding"))
        ts16 = ts.select("target_id", F.slice("embedding", 1, 16).alias("embedding"))
        trunc = S.cosine_topk_brute(qs16, ts16, k=5).select(
            "query_id", "target_id"
        )
        common = full.join(trunc, ["query_id", "target_id"], "left_semi")
        return (
            common.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .select(
                "query_id",
                "n_common",
                (F.col("n_common").cast("double") / F.lit(5.0)).alias("recall_at_5"),
            )
            .orderBy("query_id")
        )

    _MK_RANK = """row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, target_id ASC)"""
    q["embeddings_matryoshka_recall"] = (
        q_matryoshka,
        f"""WITH mq AS (
  SELECT vec_id AS query_id, embedding AS qv, {_norm_sql("embedding")} AS qn
  FROM embeddings WHERE vec_id % 13 = 1
),
mt AS (
  SELECT vec_id AS target_id, embedding AS tv, {_norm_sql("embedding")} AS tn
  FROM embeddings
),
full_r AS (
  SELECT query_id, target_id, {_MK_RANK} AS rank FROM (
    SELECT q.query_id, t.target_id,
           ({_dot_sql("qv", "tv")}) / (qn * tn) AS cos_sim
    FROM mq q, mt t)
),
mq16 AS (
  SELECT vec_id AS query_id, list_slice(embedding, 1, 16) AS qv,
         {_norm_sql("list_slice(embedding, 1, 16)")} AS qn
  FROM embeddings WHERE vec_id % 13 = 1
),
mt16 AS (
  SELECT vec_id AS target_id, list_slice(embedding, 1, 16) AS tv,
         {_norm_sql("list_slice(embedding, 1, 16)")} AS tn
  FROM embeddings
),
tr_r AS (
  SELECT query_id, target_id, {_MK_RANK} AS rank FROM (
    SELECT q.query_id, t.target_id,
           ({_dot_sql("qv", "tv")}) / (qn * tn) AS cos_sim
    FROM mq16 q, mt16 t)
),
common AS (
  SELECT f.query_id, count(*) AS n_common
  FROM (SELECT query_id, target_id FROM full_r WHERE rank <= 5) f
  JOIN (SELECT query_id, target_id FROM tr_r WHERE rank <= 5) t
    USING (query_id, target_id)
  GROUP BY f.query_id
)
SELECT query_id, n_common,
       CAST(n_common AS DOUBLE) / 5.0 AS recall_at_5
FROM common
ORDER BY query_id""",
    )

    def q_cos_dup(spark, sf):
        """Oracle twin ONLY — a brute cosine check over a deliberately
        tiny CHECKED SUBSET (every 50th id + the planted duplicates), so
        DuckDB can re-derive it exactly. The PRODUCTION near-dup path at
        scale is :func:`gosmonaut_spark.functions.similarity.
        cosine_pairs_lsh` (bucketed LSH candidates + verify, no
        all-pairs); its band algebra is oracled end-to-end by
        ``ann_lsh_topk`` and unit-tested against this brute law."""
        e = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
        dup = e.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
        both = e.unionByName(dup)
        a = both.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
        b = both.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
        pairs = (
            a.crossJoin(b)
            .filter(F.col("a") < F.col("b"))
            .filter((F.col("a") % 50 == 0) | (F.col("b") - F.col("a") == 1_000_000))
            .select("a", "b", S.cosine(F.col("ea"), F.col("eb")).alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.95)
        )
        return pairs.orderBy("a", "b")

    cos2 = S.cosine_sql("x.embedding", "y.embedding")
    q["embedding_near_dup"] = (
        q_cos_dup,
        f"""WITH both_t AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings
)
SELECT x.vec_id AS a, y.vec_id AS b, {cos2} AS cos_sim
FROM both_t x, both_t y
WHERE x.vec_id < y.vec_id
  AND (x.vec_id % 50 = 0 OR y.vec_id - x.vec_id = 1000000)
  AND {cos2} >= 0.95
ORDER BY a, b""",
    )

    # ---- LSH-path embedding near-dup (the PRODUCTION dedup path, fully
    # oracled — VERDICT r4 #7's optional row): cosine_pairs_lsh with a
    # DuckDB twin re-deriving the WHOLE band algebra like ann_lsh_topk —
    # deterministic hyperplanes (seed 42), per-table buckets, single-bit
    # multiprobe on the probe side only, bucket self-join a < b, exact
    # cosine verify (left-to-right folds) — bit-for-bit. Planted exact
    # duplicates (vec_id + 1e6) guarantee recall targets exist.
    _ND_BITS, _ND_TABLES = 8, 4

    def q_near_dup_lsh(spark, sf):
        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        dup = e.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
        return S.cosine_pairs_lsh(
            e.unionByName(dup),
            threshold=0.99,
            n_bits=_ND_BITS,
            n_tables=_ND_TABLES,
            dim=64,
            multiprobe=1,
        ).orderBy("a", "b")

    _nd_branches = []
    for _tbl in range(_ND_TABLES):
        _planes = S._hyperplanes(64, _ND_BITS, _tbl)
        _nd_branches.append(
            f"  SELECT vec_id, {_tbl} AS tbl,"
            f" {_bucket_sql('embedding', _planes)} AS bkt FROM nd_src"
        )
    _nd_flips = "[" + ", ".join(
        str(v) for v in [0] + [1 << j for j in range(_ND_BITS)]
    ) + "]"
    _nd_cos = (
        "list_reduce(list_transform(list_zip(va.v, vb.v), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
        " / (va.vn * vb.vn)"
    )
    _nd_union = "\n  UNION ALL\n".join(_nd_branches)
    q["embedding_near_dup_lsh"] = (
        q_near_dup_lsh,
        f"""WITH nd_src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings
),
nd_v AS (
  SELECT vec_id, embedding AS v, {_norm_sql('embedding')} AS vn FROM nd_src
),
nd_b AS (
{_nd_union}
),
nd_probe AS (
  SELECT vec_id, tbl, xor(bkt, f) AS bkt
  FROM nd_b, (SELECT unnest({_nd_flips}) AS f)
),
nd_cand AS (
  SELECT DISTINCT p.vec_id AS a, t.vec_id AS b
  FROM nd_probe p JOIN nd_b t USING (tbl, bkt)
  WHERE p.vec_id < t.vec_id
)
SELECT c.a, c.b, {_nd_cos} AS cos_sim
FROM nd_cand c
JOIN nd_v va ON va.vec_id = c.a
JOIN nd_v vb ON vb.vec_id = c.b
WHERE {_nd_cos} >= 0.99
ORDER BY a, b""",
    )

    # ---- semantic-dedup clusters: the full production composite ---------------
    # LSH near-dup pairs (scale path above) -> connected components ->
    # cluster roster (min-id representative = the component label, exact
    # member count). The embedding-side mirror of dedup_cluster_reps;
    # DuckDB twin = the same band algebra + recursive-CTE reachability.
    def q_emb_clusters(spark, sf):
        from .operators.graph import connected_components

        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        dup = e.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
        # lean LSH config for the composite: exact duplicates collide in
        # EVERY table, so 2 tables / no multiprobe already has full
        # recall on the planted clusters — the recall-path configuration
        # (4 tables + single-bit probes) is exercised by
        # embedding_near_dup_lsh above
        pairs = S.cosine_pairs_lsh(
            e.unionByName(dup),
            threshold=0.99,
            n_bits=_ND_BITS,
            n_tables=2,
            dim=64,
            multiprobe=0,
        )
        # materialize the verified pair table once before the CC rounds
        # (the LSH bucket pass + cosine verify would otherwise re-derive
        # under each round's lineage)
        cc = connected_components(
            pairs.select("a", "b").localCheckpoint(eager=False), "a", "b"
        )
        return (
            cc.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .orderBy("component")
        )

    _ndc_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {_tbl} AS tbl,"
        f" {_bucket_sql('embedding', S._hyperplanes(64, _ND_BITS, _tbl))} AS bkt"
        f" FROM nd_src"
        for _tbl in range(2)
    )
    q["embedding_dedup_clusters"] = (
        q_emb_clusters,
        f"""WITH RECURSIVE nd_src AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings
),
nd_v AS (
  SELECT vec_id, embedding AS v, {_norm_sql('embedding')} AS vn FROM nd_src
),
nd_b AS (
{_ndc_union}
),
nd_cand AS (
  SELECT DISTINCT p.vec_id AS a, t.vec_id AS b
  FROM nd_b p JOIN nd_b t USING (tbl, bkt)
  WHERE p.vec_id < t.vec_id
),
nd_pairs AS (
  SELECT c.a, c.b
  FROM nd_cand c
  JOIN nd_v va ON va.vec_id = c.a
  JOIN nd_v vb ON vb.vec_id = c.b
  WHERE {_nd_cos} >= 0.99
),
nd_edges AS (
  SELECT a AS u, b AS v FROM nd_pairs UNION SELECT b, a FROM nd_pairs
),
nd_reach AS (
  SELECT u AS id, u AS lbl FROM nd_edges
  UNION
  SELECT e.v AS id, r.lbl FROM nd_reach r JOIN nd_edges e ON e.u = r.id
  WHERE r.lbl < e.v
),
nd_comp AS (SELECT id, min(lbl) AS component FROM nd_reach GROUP BY id)
SELECT component, count(*) AS n_members
FROM nd_comp GROUP BY component
ORDER BY component""",
    )

    # ---- event-time sessionization (streaming-shaped batch op) ----------------
    def q_sessions(spark, sf):
        # parquet yields TIMESTAMP_NTZ; DuckDB's epoch_ms treats the naive
        # value as UTC. ntz_epoch_ms computes the same thing from the NTZ
        # *fields* — zone-free by construction, so no session-timezone pin
        # (the r2 version mutated spark.sql.session.timeZone session-wide,
        # shifting unrelated user queries' NTZ casts afterwards).
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ms = ntz_epoch_ms(F.col("ts"))
        gap = ms - F.lag(ms).over(w)
        new_s = F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0)
        sess = (
            ev.withColumn("new_s", new_s)
            .withColumn("session_no", F.sum("new_s").over(w))
        )
        return (
            sess.groupBy("user_id", "session_no")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min(ms).alias("start_ms"),
                F.max(ms).alias("end_ms"),
            )
            .orderBy("user_id", "session_no")
        )

    q["events_sessionize"] = (
        q_sessions,
        """WITH lagged AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ms,
         CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ms,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no, count(*) AS n_events,
       min(ms) AS start_ms, max(ms) AS end_ms
FROM sess GROUP BY user_id, session_no
ORDER BY user_id, session_no""",
    )

    # ---- cumulative weekly revenue curve (dense spine) ------------------------
    def q_cum_revenue(spark, sf):
        from pyspark.sql import Window as _W

        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        wk = (ntz_epoch_ms(F.col("ts")) / F.lit(604_800_000)).cast("long")
        per = ev.select(
            wk.alias("week"),
            F.round(F.col("value") * F.lit(100.0)).cast("long").alias("c"),
        ).groupBy("week").agg(F.sum("c").alias("wk_cents"))
        bounds = per.agg(
            F.min("week").alias("w0"), F.max("week").alias("w1")
        )
        spine = bounds.select(
            F.explode(F.sequence(F.col("w0"), F.col("w1"))).alias("week")
        )
        w = _W.orderBy("week").rowsBetween(_W.unboundedPreceding, 0)
        return (
            spine.join(per, "week", "left")
            .select(
                "week",
                F.coalesce(F.col("wk_cents"), F.lit(0).cast("long")).alias(
                    "wk_cents"
                ),
            )
            .select(
                "week", "wk_cents", F.sum("wk_cents").over(w).alias("cum_cents")
            )
            .orderBy("week")
        )

    q["events_cum_revenue"] = (
        q_cum_revenue,
        """WITH cr_p AS (
  SELECT epoch_ms(ts) // 604800000 AS week,
         sum(CAST(round(value * 100.0) AS BIGINT)) AS wk_cents
  FROM events GROUP BY 1
),
cr_s AS (
  SELECT unnest(range((SELECT min(week) FROM cr_p),
                      (SELECT max(week) FROM cr_p) + 1)) AS week
),
cr_d AS (
  SELECT s.week, coalesce(p.wk_cents, 0) AS wk_cents
  FROM cr_s s LEFT JOIN cr_p p ON p.week = s.week
)
SELECT week, CAST(wk_cents AS BIGINT) AS wk_cents,
       CAST(sum(wk_cents) OVER (ORDER BY week
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_cents
FROM cr_d
ORDER BY week""",
    )

    # ---- revenue Pareto: top-decile user share --------------------------------
    # share of total cents held by the top 10% of users (pinned ranks,
    # integer ceil cut, exact sums) — the 80/20 dial
    def q_pareto(spark, sf):
        from pyspark.sql import Window as _W

        ev = spark.read.parquet(f"{sf}/events.parquet")
        per = ev.groupBy("user_id").agg(
            F.sum(F.round(F.col("value") * F.lit(100.0)).cast("long")).alias(
                "cents"
            )
        )
        ranked = per.select(
            "cents",
            F.row_number().over(
                _W.orderBy(F.desc("cents"), F.asc("user_id"))
            ).alias("rk"),
            F.count(F.lit(1)).over(_W.partitionBy()).alias("n"),
        )
        cut = F.expr("(n + 9) div 10")
        return ranked.agg(
            F.max("n").alias("n_users"),
            F.sum("cents").alias("total_cents"),
            F.sum(
                F.when(F.col("rk") <= cut, F.col("cents")).otherwise(
                    F.lit(0)
                )
            ).alias("top_decile_cents"),
            F.round(
                F.sum(
                    F.when(F.col("rk") <= cut, F.col("cents")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum("cents").cast("double"),
                9,
            ).alias("top_decile_share"),
        )

    q["events_revenue_pareto"] = (
        q_pareto,
        """WITH pr2_u AS (
  SELECT user_id,
         sum(CAST(round(value * 100.0) AS BIGINT)) AS cents
  FROM events GROUP BY user_id
),
pr2_r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents DESC, user_id ASC) AS rk,
         count(*) OVER () AS n
  FROM pr2_u
)
SELECT max(n) AS n_users,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN rk <= (n + 9) // 10 THEN cents ELSE 0 END)
            AS BIGINT) AS top_decile_cents,
       round(CAST(sum(CASE WHEN rk <= (n + 9) // 10 THEN cents ELSE 0 END)
            AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 9) AS top_decile_share
FROM pr2_r""",
    )

    # ---- hour-of-day activity profile (integer hod law) -----------------------
    def q_hourly(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hod = (
            (ntz_epoch_ms(F.col("ts")) / F.lit(3_600_000)).cast("long")
            % F.lit(24)
        )
        per = ev.select(hod.alias("hour")).groupBy("hour").agg(
            F.count(F.lit(1)).alias("n_events")
        )
        tot = per.agg(F.sum("n_events").alias("t"))
        return (
            per.crossJoin(F.broadcast(tot))
            .select(
                "hour",
                "n_events",
                F.round(
                    F.col("n_events").cast("double") / F.col("t").cast("double"),
                    9,
                ).alias("share"),
            )
            .orderBy("hour")
        )

    q["events_hourly_profile"] = (
        q_hourly,
        """WITH hp_p AS (
  SELECT (epoch_ms(ts) // 3600000) % 24 AS hour, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT hour, n_events,
       round(CAST(n_events AS DOUBLE)
         / CAST((SELECT sum(n_events) FROM hp_p) AS DOUBLE), 9) AS share
FROM hp_p
ORDER BY hour""",
    )

    # ---- event-type mix by week (drift monitoring cross-tab) ------------------
    def q_type_week(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        wk = (ntz_epoch_ms(F.col("ts")) / F.lit(604_800_000)).cast("long")
        per = ev.select(wk.alias("week"), "event_type").groupBy(
            "week", "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
        tot = per.groupBy("week").agg(F.sum("n").alias("t"))
        return (
            per.join(tot, "week")
            .select(
                "week",
                "event_type",
                "n",
                F.round(
                    F.col("n").cast("double") / F.col("t").cast("double"), 9
                ).alias("share"),
            )
            .orderBy("week", "event_type")
        )

    q["events_type_mix_by_week"] = (
        q_type_week,
        """WITH tw_p AS (
  SELECT epoch_ms(ts) // 604800000 AS week, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
tw_t AS (SELECT week, sum(n) AS t FROM tw_p GROUP BY week)
SELECT p.week, p.event_type, p.n,
       round(CAST(p.n AS DOUBLE) / CAST(t.t AS DOUBLE), 9) AS share
FROM tw_p p JOIN tw_t t ON t.week = p.week
ORDER BY p.week, p.event_type""",
    )

    # ---- revenue by day-of-week (pure integer dow law) ------------------------
    # dow = (epoch_days + 4) % 7 with 0 = Sunday — integer arithmetic,
    # no engine calendar functions (their week conventions differ)
    def q_value_dow(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        days = (ntz_epoch_ms(F.col("ts")) / F.lit(86_400_000)).cast("long")
        dow = (days + F.lit(4)) % F.lit(7)
        cents = F.round(F.col("value") * F.lit(100.0)).cast("long")
        return (
            ev.select(dow.alias("dow"), cents.alias("c"))
            .groupBy("dow")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("c").alias("total_cents"),
            )
            .orderBy("dow")
        )

    q["events_value_by_dow"] = (
        q_value_dow,
        """SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY dow
ORDER BY dow""",
    )

    # ---- value histogram (power-of-two cent buckets per type) -----------------
    def q_value_hist(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        cents = F.round(F.col("value") * F.lit(100.0)).cast("long")
        bucket = sum(
            (cents >= F.lit(1 << k)).cast("long") for k in range(20)
        )
        return (
            ev.select("event_type", bucket.alias("bucket"), cents.alias("c"))
            .groupBy("event_type", "bucket")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("c").alias("total_cents"),
            )
            .orderBy("event_type", "bucket")
        )

    _VH_TESTS = " + ".join(
        f"CAST(CAST(round(value * 100.0) AS BIGINT) >= {1 << k} AS BIGINT)"
        for k in range(20)
    )
    q["events_value_histogram"] = (
        q_value_hist,
        f"""SELECT event_type, ({_VH_TESTS}) AS bucket,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY event_type, bucket
ORDER BY event_type, bucket""",
    )

    # ---- inter-arrival gap quantiles per event type (exact rank law) ----------
    def q_iat_quantiles(spark, sf):
        from pyspark.sql import Window as _W

        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = _W.partitionBy("user_id").orderBy(
            ntz_epoch_ms(F.col("ts")).asc(), F.col("event_id").asc()
        )
        ms = ntz_epoch_ms(F.col("ts"))
        gaps = ev.select(
            "event_type",
            "event_id",
            (ms - F.lag(ms).over(w)).alias("g"),
        ).where(F.col("g").isNotNull() & (F.col("g") > 0))
        ranked = gaps.select(
            "event_type",
            "g",
            F.row_number().over(
                _W.partitionBy("event_type").orderBy("g", "event_id")
            ).alias("rk"),
            F.count(F.lit(1)).over(
                _W.partitionBy("event_type")
            ).alias("n"),
        )
        med = F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long")
        p90 = F.floor((F.col("n") * 9 + 9) / F.lit(10.0)).cast("long")
        return (
            ranked.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_gaps"),
                F.min("g").alias("min_ms"),
                F.max(F.when(F.col("rk") == med, F.col("g"))).alias(
                    "median_ms"
                ),
                F.max(F.when(F.col("rk") == p90, F.col("g"))).alias("p90_ms"),
                F.max("g").alias("max_ms"),
            )
            .orderBy("event_type")
        )

    q["events_iat_quantiles"] = (
        q_iat_quantiles,
        """WITH iq_g AS (
  SELECT event_type, event_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts) ASC, event_id ASC
         ) AS g
  FROM events
),
iq_r AS (
  SELECT event_type, g,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY g, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM iq_g WHERE g IS NOT NULL AND g > 0
)
SELECT event_type, count(*) AS n_gaps, min(g) AS min_ms,
       max(CASE WHEN rk = CAST(floor((n + 1) / 2.0) AS BIGINT)
                THEN g END) AS median_ms,
       max(CASE WHEN rk = CAST(floor((n * 9 + 9) / 10.0) AS BIGINT)
                THEN g END) AS p90_ms,
       max(g) AS max_ms
FROM iq_r GROUP BY event_type
ORDER BY event_type""",
    )

    # ---- new vs returning daily actives (growth accounting) -------------------
    def q_new_returning(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        ud = ev.select(
            "user_id",
            (ntz_epoch_ms(F.col("ts")) / F.lit(86_400_000))
            .cast("long")
            .alias("day"),
        ).distinct()
        first = ud.groupBy("user_id").agg(F.min("day").alias("fd"))
        j = ud.join(first, "user_id")
        return (
            j.groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n_active"),
                F.sum((F.col("day") == F.col("fd")).cast("long")).alias(
                    "n_new"
                ),
            )
            .select(
                "day",
                "n_active",
                "n_new",
                (F.col("n_active") - F.col("n_new")).alias("n_returning"),
            )
            .orderBy("day")
        )

    q["events_new_vs_returning"] = (
        q_new_returning,
        """WITH nr_d AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
),
nr_f AS (SELECT user_id, min(day) AS fd FROM nr_d GROUP BY user_id)
SELECT d.day, count(*) AS n_active,
       CAST(sum(CAST(d.day = f.fd AS BIGINT)) AS BIGINT) AS n_new,
       count(*) - CAST(sum(CAST(d.day = f.fd AS BIGINT)) AS BIGINT)
         AS n_returning
FROM nr_d d JOIN nr_f f ON f.user_id = d.user_id
GROUP BY d.day
ORDER BY d.day""",
    )

    # ---- longest daily-activity streak per user (islands law) -----------------
    # day − row_number over distinct active days is constant within a
    # consecutive run — the classic gaps-and-islands trick, all integers
    def q_streak(spark, sf):
        from pyspark.sql import Window as _W

        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        days = ev.select(
            "user_id",
            (ntz_epoch_ms(F.col("ts")) / F.lit(86_400_000))
            .cast("long")
            .alias("day"),
        ).distinct()
        grp = days.withColumn(
            "g",
            F.col("day")
            - F.row_number().over(
                _W.partitionBy("user_id").orderBy("day")
            ),
        )
        runs = grp.groupBy("user_id", "g").agg(
            F.count(F.lit(1)).alias("len")
        )
        return (
            runs.groupBy("user_id")
            .agg(
                F.sum("len").alias("active_days"),
                F.max("len").alias("longest_streak"),
                F.count(F.lit(1)).alias("n_streaks"),
            )
            .orderBy("user_id")
        )

    q["events_longest_streak"] = (
        q_streak,
        """WITH st_d AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
),
st_g AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS g
  FROM st_d
),
st_r AS (
  SELECT user_id, g, count(*) AS len FROM st_g GROUP BY user_id, g
)
SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
       CAST(max(len) AS BIGINT) AS longest_streak,
       count(*) AS n_streaks
FROM st_r GROUP BY user_id
ORDER BY user_id""",
    )

    # ---- event-type affinity (market-basket lift over sessions) ---------------
    # support/lift for unordered type pairs co-occurring inside the same
    # 12h-gap session: integer counts, terminal divisions only
    def q_affinity(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ms = ntz_epoch_ms(F.col("ts"))
        gap = ms - F.lag(ms).over(w)
        new_s = F.when(gap.isNull() | (gap > 43_200_000), 1).otherwise(0)
        sess = ev.withColumn(
            "sid", F.sum(new_s).over(w)
        ).select("user_id", "sid", "event_type")
        st = sess.select(
            F.concat_ws("#", F.col("user_id"), F.col("sid")).alias("s"),
            "event_type",
        ).distinct()
        n_sessions = st.select("s").distinct().count()
        single = st.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        pairs = (
            st.alias("x")
            .join(st.alias("y"), "s")
            .where(F.col("x.event_type") < F.col("y.event_type"))
            .groupBy(
                F.col("x.event_type").alias("t1"),
                F.col("y.event_type").alias("t2"),
            )
            .agg(F.count(F.lit(1)).alias("n_both"))
        )
        ns = float(n_sessions)
        return (
            pairs.join(
                single.select(
                    F.col("event_type").alias("t1"), F.col("n").alias("n1")
                ),
                "t1",
            )
            .join(
                single.select(
                    F.col("event_type").alias("t2"), F.col("n").alias("n2")
                ),
                "t2",
            )
            .select(
                "t1",
                "t2",
                "n_both",
                (
                    F.col("n_both").cast("double") * F.lit(ns)
                    / (
                        F.col("n1").cast("double")
                        * F.col("n2").cast("double")
                    )
                ).alias("lift"),
            )
            .orderBy("t1", "t2")
        )

    q["events_type_affinity"] = (
        q_affinity,
        """WITH af_l AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events
),
af_s AS (
  SELECT user_id, event_type, ms, event_id,
         CASE WHEN prev_ms IS NULL OR ms - prev_ms > 43200000
              THEN 1 ELSE 0 END AS new_s
  FROM af_l
),
af_t AS (
  SELECT DISTINCT
         CAST(user_id AS VARCHAR) || '#' || CAST(
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS VARCHAR) AS s,
         event_type
  FROM af_s
),
af_n AS (SELECT count(DISTINCT s) AS ns FROM af_t),
af_1 AS (SELECT event_type, count(*) AS n FROM af_t GROUP BY event_type),
af_p AS (
  SELECT x.event_type AS t1, y.event_type AS t2, count(*) AS n_both
  FROM af_t x JOIN af_t y ON x.s = y.s AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT p.t1, p.t2, p.n_both,
       CAST(p.n_both AS DOUBLE) * CAST(n.ns AS DOUBLE)
         / (CAST(a1.n AS DOUBLE) * CAST(a2.n AS DOUBLE)) AS lift
FROM af_p p
JOIN af_1 a1 ON a1.event_type = p.t1
JOIN af_1 a2 ON a2.event_type = p.t2
CROSS JOIN af_n n
ORDER BY t1, t2""",
    )

    # ---- session-level stats (12h-gap sessions, exact rank quantiles) ---------
    # one row: session count, mean events/session, median & p90 duration
    # by the exact integer rank law (no approx-percentile gap)
    def q_session_stats(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ms = ntz_epoch_ms(F.col("ts"))
        gap = ms - F.lag(ms).over(w)
        new_s = F.when(gap.isNull() | (gap > 43_200_000), 1).otherwise(0)
        sess = (
            ev.withColumn("new_s", new_s)
            .withColumn("session_no", F.sum("new_s").over(w))
            .groupBy("user_id", "session_no")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (F.max(ms) - F.min(ms)).alias("dur_ms"),
            )
        )
        ranked = sess.select(
            "n_events",
            "dur_ms",
            F.row_number().over(
                Window.orderBy(
                    F.asc("dur_ms"), F.asc("user_id"), F.asc("session_no")
                )
            ).alias("rk"),
            F.count(F.lit(1)).over(
                Window.partitionBy()
            ).alias("n"),
        )
        med = F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long")
        p90 = F.floor((F.col("n") * 9 + 9) / F.lit(10.0)).cast("long")
        return ranked.agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events_total"),
            (
                F.sum("n_events").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_events"),
            F.max(
                F.when(F.col("rk") == med, F.col("dur_ms"))
            ).alias("median_dur_ms"),
            F.max(
                F.when(F.col("rk") == p90, F.col("dur_ms"))
            ).alias("p90_dur_ms"),
        )

    q["events_session_stats"] = (
        q_session_stats,
        """WITH ss_l AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events
),
ss_f AS (
  SELECT user_id, event_id, ms,
         CASE WHEN prev_ms IS NULL OR ms - prev_ms > 43200000
              THEN 1 ELSE 0 END AS new_s
  FROM ss_l
),
ss_s AS (
  SELECT user_id, ms,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM ss_f
),
ss_g AS (
  SELECT user_id, session_no, count(*) AS n_events,
         max(ms) - min(ms) AS dur_ms
  FROM ss_s GROUP BY user_id, session_no
),
ss_r AS (
  SELECT n_events, dur_ms,
         row_number() OVER (ORDER BY dur_ms ASC, user_id ASC,
                            session_no ASC) AS rk,
         count(*) OVER () AS n
  FROM ss_g
)
SELECT count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events_total,
       CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_events,
       max(CASE WHEN rk = CAST(floor((n + 1) / 2.0) AS BIGINT)
                THEN dur_ms END) AS median_dur_ms,
       max(CASE WHEN rk = CAST(floor((n * 9 + 9) / 10.0) AS BIGINT)
                THEN dur_ms END) AS p90_dur_ms
FROM ss_r""",
    )

    # ---- relational coverage (TPC-H-shaped; exact integer-cent money) ---------
    def q_pricing(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        cents = F.round(F.col("l_extendedprice") * 100).cast("long")
        disc_cents = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("2024-06-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"),
                F.sum(cents).alias("sum_base_cents"),
                F.sum(disc_cents).alias("sum_disc_cents"),
                F.count(F.lit(1)).alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    q["tpch_pricing_summary"] = (
        q_pricing,
        """SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-06-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
    )

    def q_revenue_join(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        n = spark.read.parquet(f"{sf}/nation.parquet")
        rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum(rev).alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
            .orderBy("n_name")
        )

    q["join_revenue_by_nation"] = (
        q_revenue_join,
        """SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name""",
    )

    def q_top_suppliers(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        s = spark.read.parquet(f"{sf}/supplier.parquet")
        rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        )
        per = (
            li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .groupBy("s_suppkey", "s_name")
            .agg(F.sum(rev).alias("revenue_cents"))
        )
        w = Window.orderBy(F.col("revenue_cents").desc(), F.col("s_suppkey").asc())
        return (
            per.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 10)
            .orderBy("rank")
        )

    q["window_top_suppliers"] = (
        q_top_suppliers,
        """WITH per AS (
  SELECT s_suppkey, s_name,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_suppkey, s_name
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY revenue_cents DESC, s_suppkey ASC) AS INT) AS rank
  FROM per
)
SELECT s_suppkey, s_name, revenue_cents, rank FROM ranked WHERE rank <= 10 ORDER BY rank""",
    )

    # ---- fuzzy-dedup clustering: pairs -> connected components ----------------
    def q_cluster_reps(spark, sf):
        # the full corpus-dedup shape: LSH pair generation, then distributed
        # connected components (large-star/small-star) so every document
        # gets a deterministic cluster representative (component min id);
        # singletons never enter the graph op (left join + coalesce)
        from .operators.graph import connected_components

        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "text")
        )
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        pert = d.withColumn(
            "doc_id", F.col("doc_id") + F.lit(2_000_000)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" zq")))
        docs = d.unionByName(dup).unionByName(pert)
        pairs = D.minhash_lsh_pairs(
            docs, threshold=0.5, n_hashes=8, n_bands=4, n=3
        )
        cc = connected_components(pairs, "a", "b")
        joined = docs.join(cc, docs.doc_id == cc.id, "left")
        rep = F.coalesce(cc.component, docs.doc_id)
        return (
            joined.select(
                docs.doc_id.alias("doc_id"),
                rep.alias("cluster_rep"),
                (docs.doc_id == rep).cast("int").alias("is_canonical"),
            )
            .orderBy("doc_id")
        )

    # oracle: same md5 minhash/banding CTEs at threshold 0.5, then exact
    # transitive closure via a recursive CTE (min reachable id = component)
    q["dedup_cluster_reps"] = (
        q_cluster_reps,
        f"""WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 2000000, text || ' zq' FROM documents WHERE doc_id < 200
),
shing AS (SELECT doc_id, {sh_sql} AS sh FROM all_docs),
sigs AS MATERIALIZED (SELECT doc_id, sh, {mh_cols} FROM shing WHERE len(sh) > 0),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
),
sh2 AS (SELECT doc_id, unnest(sh) AS s FROM shing),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c JOIN sh2 x ON x.doc_id = c.a JOIN sh2 y ON y.doc_id = c.b AND y.s = x.s
  GROUP BY c.a, c.b
),
pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
  WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
),
edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
reach AS (
  SELECT u AS id, u AS lbl FROM edges
  UNION
  SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id WHERE r.lbl < e.v
),
comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
SELECT d.doc_id AS doc_id,
       COALESCE(c.component, d.doc_id) AS cluster_rep,
       CAST(CASE WHEN COALESCE(c.component, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM all_docs d LEFT JOIN comp c ON c.id = d.doc_id
ORDER BY doc_id""",
    )

    # ---- as-of join (time-series nearest-event; DuckDB-native oracle) ---------
    def q_asof_view(spark, sf):
        # each purchase annotated with the user's latest view at-or-before
        # it — ONE window sweep, no range join (operators/asof.py); right
        # side pre-aggregated to unique (key, ts) for tie determinism
        from .functions.timeops import ntz_epoch_ms
        from .operators.asof import asof_join

        ev = spark.read.parquet(f"{sf}/events.parquet")
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        right = (
            ev.filter(F.col("event_type") == "view")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("view_value"))
        )
        out = asof_join(left, right, on="user_id", left_ts="ts")
        return out.select(
            "event_id",
            "user_id",
            ntz_epoch_ms(F.col("ts")).alias("ts_ms"),
            ntz_epoch_ms(F.col("asof_ts")).alias("view_ts_ms"),
            F.col("asof_view_value").alias("view_value"),
        ).orderBy("event_id")

    q["events_asof_view"] = (
        q_asof_view,
        """WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, max(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT l.event_id AS event_id, l.user_id AS user_id,
       epoch_ms(l.ts) AS ts_ms, epoch_ms(r.ts) AS view_ts_ms,
       r.view_value AS view_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY event_id""",
    )

    # ---- corpus cleaning composite (gate -> exact dedup -> fuzzy dedup) -------
    def q_corpus_clean(spark, sf):
        from .functions.corpus import clean_corpus

        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        pert = d.withColumn(
            "doc_id", F.col("doc_id") + F.lit(2_000_000)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" zq")))
        corpus = d.unionByName(dup).unionByName(pert)
        out = clean_corpus(corpus, langs=("en",), min_tokens=10)
        return out.select(
            "doc_id", T.token_count("text").alias("n_tokens")
        ).orderBy("doc_id")

    _lang = T.lang_id_sql("text")
    _cq = T.quality_features_sql("text")
    q["corpus_clean"] = (
        q_corpus_clean,
        f"""WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
  UNION ALL SELECT doc_id + 2000000, text || ' zq' FROM documents
),
gated AS (
  SELECT doc_id, text, {_cq['n_tokens']} AS n_tokens FROM base
  WHERE {_lang} = 'en' AND {_cq['n_tokens']} >= 10
    AND {_cq['alnum_ratio']} >= 0.5 AND {_cq['stop_ratio']} >= 0.01
),
fps AS (SELECT doc_id, text, n_tokens,
        {T.content_fingerprint_sql('text')} AS fp FROM gated),
exact AS (
  SELECT doc_id, text, n_tokens FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS min_id FROM fps
  ) WHERE doc_id = min_id
),
shing AS (SELECT doc_id, {sh_sql} AS sh FROM exact),
sigs AS MATERIALIZED (SELECT doc_id, sh, {mh_cols} FROM shing WHERE len(sh) > 0),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
),
sh2 AS (SELECT doc_id, unnest(sh) AS s FROM shing),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c JOIN sh2 x ON x.doc_id = c.a JOIN sh2 y ON y.doc_id = c.b AND y.s = x.s
  GROUP BY c.a, c.b
),
pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
  WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.5
),
edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
reach AS (
  SELECT u AS id, u AS lbl FROM edges
  UNION
  SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id WHERE r.lbl < e.v
),
comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
SELECT d.doc_id AS doc_id, d.n_tokens AS n_tokens
FROM exact d LEFT JOIN comp c ON c.id = d.doc_id
WHERE COALESCE(c.component, d.doc_id) = d.doc_id
ORDER BY doc_id""",
    )

    # ---- interval (range-containment) join: grid-bucketed, keyed -------------
    # 25 synthetic promo windows derived from nation (integer epoch-ms
    # arithmetic, bit-identical twin below), keyed by user_id % 5 —
    # exercises the (key, cell) equi-join + exact range filter path.
    _IV_BASE, _IV_SPAN, _IV_HOUR = 1_704_067_200_000, 2_500_000_000, 3_600_000

    def q_interval_join(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.interval import interval_join

        ev = spark.read.parquet(f"{sf}/events.parquet")
        pts = ev.select(
            "event_id",
            (F.col("user_id") % F.lit(5)).alias("k5"),
            ntz_epoch_ms(F.col("ts")).alias("ts_ms"),
        )
        na = spark.read.parquet(f"{sf}/nation.parquet")
        k = F.col("n_nationkey").cast("long")
        start = F.lit(_IV_BASE) + (k * F.lit(_P1)) % F.lit(_IV_SPAN)
        iv = na.select(
            k.alias("interval_id"),
            (k % F.lit(5)).alias("k5"),
            start.alias("start_ms"),
            (start + F.lit(_IV_HOUR) * (F.lit(1) + k % F.lit(31))).alias("end_ms"),
        )
        hits = interval_join(
            pts, iv, point_ts="ts_ms", on="k5", bucket_ms=6 * _IV_HOUR
        )
        return (
            hits.groupBy("interval_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("event_id").alias("first_event"),
                F.max("event_id").alias("last_event"),
            )
            .orderBy("interval_id")
        )

    q["events_interval_join"] = (
        q_interval_join,
        f"""WITH iv AS (
  SELECT CAST(n_nationkey AS BIGINT) AS interval_id,
         CAST(n_nationkey AS BIGINT) % 5 AS k5,
         {_IV_BASE} + (CAST(n_nationkey AS BIGINT) * {_P1}) % {_IV_SPAN} AS start_ms,
         {_IV_BASE} + (CAST(n_nationkey AS BIGINT) * {_P1}) % {_IV_SPAN}
           + {_IV_HOUR} * (1 + CAST(n_nationkey AS BIGINT) % 31) AS end_ms
  FROM nation
),
pts AS (
  SELECT event_id, user_id % 5 AS k5, epoch_ms(ts) AS ts_ms FROM events
)
SELECT iv.interval_id AS interval_id, count(*) AS n_events,
       min(pts.event_id) AS first_event, max(pts.event_id) AS last_event
FROM pts JOIN iv ON pts.k5 = iv.k5
 AND pts.ts_ms >= iv.start_ms AND pts.ts_ms < iv.end_ms
GROUP BY iv.interval_id ORDER BY interval_id""",
    )

    # ---- deterministic sampling: stratified rates + hash train/test split ----
    _RATES = {"de": 0.5, "en": 0.8, "es": 0.25, "fr": 1.0, "zh": 0.1}
    _FRACS = {"train": 0.8, "valid": 0.1, "test": 0.1}

    def q_sample_split(spark, sf):
        from .functions.sampling import hash_split, stratified_sample

        d = spark.read.parquet(f"{sf}/documents.parquet")
        s = stratified_sample(d, "lang", _RATES, "doc_id")
        return (
            s.withColumn("split", hash_split("doc_id", _FRACS))
            .groupBy("lang", "split")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("min_id"),
                F.max("doc_id").alias("max_id"),
            )
            .orderBy("lang", "split")
        )

    from .functions.sampling import hash_split_sql, hash_uniform_sql

    _rate_sql = "0.0"
    for _lang in sorted(_RATES, reverse=True):
        _rate_sql = (
            f"CASE WHEN lang = '{_lang}' THEN {_RATES[_lang]!r} ELSE {_rate_sql} END"
        )
    q["sample_stratified_split"] = (
        q_sample_split,
        f"""WITH kept AS (
  SELECT doc_id, lang FROM documents
  WHERE ({hash_uniform_sql('doc_id', 'strat')}) < ({_rate_sql})
)
SELECT lang, {hash_split_sql('doc_id', _FRACS)} AS split,
       count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM kept GROUP BY 1, 2 ORDER BY lang, split""",
    )

    def q_sample_weighted(spark, sf):
        from .functions.sampling import weighted_sample

        d = spark.read.parquet(f"{sf}/documents.parquet")
        return (
            weighted_sample(d, "n_chars", "doc_id", scale=0.002)
            .select("doc_id", "n_chars")
            .orderBy("doc_id")
        )

    q["sample_weighted"] = (
        q_sample_weighted,
        f"""SELECT doc_id, n_chars FROM documents
WHERE ({hash_uniform_sql('doc_id', 'wt')})
      < least(1.0, CAST(n_chars AS DOUBLE) * 0.002)
ORDER BY doc_id""",
    )

    # ---- tf-idf top terms (integer-ranked; raw inverse frequency score) ------
    def q_tfidf(spark, sf):
        from .functions.corpus import tfidf_top_terms

        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        return tfidf_top_terms(d, k=3).orderBy("doc_id", "rank")

    _tok = T.tokens_sql("text")
    q["text_tfidf_top3"] = (
        q_tfidf,
        f"""WITH toks AS (
  SELECT doc_id, unnest({_tok}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS n_tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS n_df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.n_tf, dfreq.n_df,
         CAST(tf.n_tf AS DOUBLE) * n.n_docs / dfreq.n_df AS tfidf_raw,
         CAST(row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.n_tf DESC, dfreq.n_df ASC, tf.term ASC) AS INT) AS rank
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, n_tf AS tf, n_df AS df, tfidf_raw, rank
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""",
    )

    # ---- LM-prep n-gram counts: top bigrams per language ---------------------
    def q_bigrams(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        bg = d.select(
            "lang", F.explode(T.ngrams("text", 2)).alias("bigram")
        )
        counts = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy("lang").orderBy(
            F.col("n").desc(), F.col("bigram").asc()
        )
        return (
            counts.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= 10)
            .orderBy("lang", "rank")
        )

    q["text_bigram_counts"] = (
        q_bigrams,
        f"""WITH bg AS (
  SELECT lang, unnest({T.ngrams_sql('text', 2)}) AS bigram FROM documents
),
counts AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY lang ORDER BY n DESC, bigram ASC) AS INT) AS rank
  FROM counts
)
SELECT lang, bigram, n, rank FROM ranked WHERE rank <= 10
ORDER BY lang, rank""",
    )

    # ---- lexical diversity: inverse-Simpson effective vocabulary per lang ---------
    # eff_vocab = (Σc)² / Σc² — the rational diversity index (no
    # entropy/log): 1 when one token dominates, |vocab| when uniform;
    # exact BIGINT numerator/denominator, ONE division.
    def q_lexdiv(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        tc = (
            d.select("lang", F.explode(T.tokens("text")).alias("tok"))
            .groupBy("lang", "tok")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            tc.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_vocab"),
                F.sum("c").alias("n_tokens"),
                F.sum(F.col("c") * F.col("c")).alias("__sq"),
            )
            .select(
                "lang",
                "n_vocab",
                "n_tokens",
                F.round(
                    F.col("n_tokens").cast("double")
                    * F.col("n_tokens").cast("double")
                    / F.col("__sq").cast("double"),
                    9,
                ).alias("eff_vocab"),
            )
            .orderBy("lang")
        )

    q["corpus_lexical_diversity"] = (
        q_lexdiv,
        f"""WITH tc AS (
  SELECT lang, tok, count(*) AS c FROM (
    SELECT lang, unnest({T.tokens_sql('text')}) AS tok FROM documents
  ) GROUP BY lang, tok
)
SELECT lang, count(*) AS n_vocab, CAST(sum(c) AS BIGINT) AS n_tokens,
       round(CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)
         / CAST(sum(c * c) AS DOUBLE), 9) AS eff_vocab
FROM tc GROUP BY lang
ORDER BY lang""",
    )

    # ---- OOV char-bigram rate (perplexity proxy / gibberish score) -----------------
    # the synthetic corpus's bigram field is uniform (82 pairs, min df 26),
    # so min_df 100 marks its genuinely rare tail ('du' etc.) as OOV
    def q_oov(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return T.oov_bigram_rate(d, "doc_id", "text", min_df=100).orderBy("doc_id")

    q["text_oov_rate"] = (
        q_oov,
        T.oov_bigram_rate_sql(
            "SELECT doc_id, text FROM documents", "doc_id", "text", min_df=100
        )
        + "\nORDER BY doc_id",
    )

    # ---- RAKE keyword extraction --------------------------------------------------
    def q_rake(spark, sf):
        from .functions.corpus import rake_keywords
        from .functions.text import STOPWORDS

        stops = sorted({w for ws in STOPWORDS.values() for w in ws})
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return rake_keywords(d, stops, "doc_id", "text", top_k=3).orderBy(
            "doc_id", "rank"
        )

    from .functions.corpus import rake_keywords_sql
    from .functions.text import STOPWORDS as _SW

    q["text_rake_keywords"] = (
        q_rake,
        rake_keywords_sql(
            "SELECT doc_id, text FROM documents",
            sorted({w for ws in _SW.values() for w in ws}),
            "doc_id",
            "text",
            top_k=3,
        )
        + "\nORDER BY doc_id, rank",
    )

    # ---- containment (excerpt) detection -----------------------------------------
    # derived corpus plants an EXCERPT relation: every doc with
    # doc_id % 10 == 7 contributes a truncated copy (first ~40% of its
    # text) under a shifted id — near-1 containment, low jaccard.
    def q_containment(spark, sf):
        from .functions.dedup import containment_pairs

        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        ex = d.where(F.col("doc_id") % 10 == 7).select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            F.substring(
                F.col("text"),
                1,
                F.floor(F.length("text") * 2 / F.lit(5)).cast("int"),
            ).alias("text"),
        )
        corpus = d.unionByName(ex)
        return containment_pairs(
            corpus, threshold=0.8, n=3, max_doc_freq=50
        ).orderBy("a", "b")

    from .functions.dedup import containment_pairs_sql

    q["dedup_containment_pairs"] = (
        q_containment,
        containment_pairs_sql(
            """SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       substring(text, 1, CAST(floor(length(text) * 2 / 5) AS INT)) AS text
FROM documents WHERE doc_id % 10 = 7""",
            threshold=0.8,
            n=3,
            max_doc_freq=50,
        )
        + "\nORDER BY a, b",
    )

    # ---- content-defined-chunking dedup (rsync/LBFS law) -------------------------
    def q_cdc(spark, sf):
        from .functions.dedup import cdc_shared_chunks

        d = spark.read.parquet(f"{sf}/documents.parquet")
        return cdc_shared_chunks(d, "doc_id", "text", divisor=32).orderBy(
            "chunk_fp"
        )

    from .functions.dedup import cdc_shared_chunks_sql

    q["dedup_cdc_chunks"] = (
        q_cdc,
        cdc_shared_chunks_sql(
            "SELECT doc_id, text FROM documents", divisor=32
        )
        + "\nORDER BY chunk_fp",
    )

    # ---- edit-distance fuzzy title join -----------------------------------------
    # synthetic titles (source x doc_id%37) carry genuine 1-edit drift
    # (digit bumps, src11 vs src1 elisions); distinct-title table keyed
    # by min doc_id (exact dedup owns distance-0).
    def q_editdist(spark, sf):
        from .functions.dedup import editdist_pairs

        d = spark.read.parquet(f"{sf}/documents.parquet")
        titles = (
            d.select(
                "doc_id",
                F.concat(
                    F.col("source"),
                    F.lit(" "),
                    (F.col("doc_id") % 37).cast("string"),
                ).alias("s"),
            )
            .groupBy("s")
            .agg(F.min("doc_id").alias("id"))
        )
        return editdist_pairs(titles, 1, "id", "s").orderBy("id_a", "id_b")

    from .functions.dedup import editdist_pairs_sql

    q["dedup_title_editdist"] = (
        q_editdist,
        editdist_pairs_sql(
            "SELECT min(doc_id) AS id, s FROM ("
            "SELECT doc_id, source || ' ' || CAST(doc_id % 37 AS VARCHAR) AS s "
            "FROM documents) GROUP BY s",
            1,
            "id",
            "s",
        )
        + "\nORDER BY id_a, id_b",
    )

    # ---- Count-Min sketch: token-frequency estimates ---------------------------
    def q_cms(spark, sf):
        from .functions.sketch import cms_estimates

        toks = spark.read.parquet(f"{sf}/documents.parquet").select(
            F.explode(T.tokens("text")).alias("tok")
        )
        return cms_estimates(toks, "tok", depth=4, width=512).orderBy("tok")

    from .functions.sketch import cms_estimates_sql
    from .functions.text import tokens_sql as _tokens_sql

    q["corpus_cms_token_counts"] = (
        q_cms,
        cms_estimates_sql(
            f"SELECT unnest({_tokens_sql('text')}) AS tok FROM documents",
            "tok",
            depth=4,
            width=512,
        )
        + "\nORDER BY tok",
    )

    # ---- collocation mining: PMI-ranked adjacent word pairs -------------------
    def q_pmi(spark, sf):
        from .functions.corpus import collocations_pmi

        d = spark.read.parquet(f"{sf}/documents.parquet")
        return collocations_pmi(d, "text", min_count=5).orderBy("w1", "w2")

    from .functions.corpus import collocations_pmi_sql

    q["text_collocations_pmi"] = (
        q_pmi,
        collocations_pmi_sql("SELECT text FROM documents", "text", min_count=5)
        + "\nORDER BY w1, w2",
    )

    # ---- BPE merge-round pair counts (vocabulary induction) -------------------
    # word-frequency dictionary first, char fan-out over |vocab| only —
    # the classic BPE trainer shape; the argmax row is the merge winner.
    def q_bpe(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return T.bpe_pair_counts(d, "text").orderBy("pair")

    q["text_bpe_pair_counts"] = (
        q_bpe,
        T.bpe_pair_counts_sql("SELECT text FROM documents")
        + "\nORDER BY pair",
    )

    # ---- BPE merge LEARNING (tokenizer-training kernel) -----------------------
    # the full iterative loop, not just one round's statistic: k rounds of
    # corpus-weighted pair argmax + greedy left-to-right non-overlapping
    # rewrite over the word vocabulary. Deterministic total order on the
    # merge choice; DuckDB twin unrolls the rounds as MATERIALIZED CTEs
    # with the identical position-run-parity greedy algebra.
    def q_bpe_learn(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return T.bpe_learn_merges(d, n_merges=4).orderBy("merge_rank")

    q["text_bpe_learn_merges"] = (
        q_bpe_learn,
        T.bpe_learn_merges_sql("SELECT text FROM documents", n_merges=4),
    )

    # the APPLY side: post-merge segmentation histogram (the compression
    # curve a tokenizer-training run watches) over the same learned state
    def q_bpe_encode(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return T.bpe_encode_stats(d, n_merges=4).orderBy("n_symbols")

    q["text_bpe_encode_stats"] = (
        q_bpe_encode,
        T.bpe_encode_stats_sql("SELECT text FROM documents", n_merges=4),
    )

    # per-doc fertility (symbols/word) under the learned merges — the
    # context-cost number a tokenizer run optimizes
    def q_bpe_fertility(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return T.bpe_fertility(d, n_merges=4).orderBy("doc_id")

    q["text_bpe_fertility"] = (
        q_bpe_fertility,
        T.bpe_fertility_sql("SELECT doc_id, text FROM documents", n_merges=4)
        + "\nORDER BY doc_id",
    )

    # ---- corpus stats: exact rank-based quantiles per language ---------------
    # approx_percentile has no cross-engine twin; exact quantiles via
    # row_number picking are bit-identical (pure integer arithmetic) and
    # still one window + one aggregate at scale.
    def q_corpus_stats(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        t = d.select("lang", "doc_id", T.token_count("text").alias("n_tokens"))
        w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
        cnt = Window.partitionBy("lang")
        r = t.withColumn("rk", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(cnt)
        )
        med = F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long")
        p90 = F.floor((F.col("n") * 9 + 9) / F.lit(10.0)).cast("long")
        return (
            r.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("n_tokens").alias("min_tokens"),
                F.max("n_tokens").alias("max_tokens"),
                F.max(F.when(F.col("rk") == med, F.col("n_tokens"))).alias(
                    "median_tokens"
                ),
                F.max(F.when(F.col("rk") == p90, F.col("n_tokens"))).alias(
                    "p90_tokens"
                ),
            )
            .orderBy("lang")
        )

    _ntok = T.token_count_sql("text")
    q["corpus_stats_quantiles"] = (
        q_corpus_stats,
        f"""WITH t AS (SELECT lang, doc_id, {_ntok} AS n_tokens FROM documents),
r AS (
  SELECT lang, n_tokens,
         row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM t
)
SELECT lang, count(*) AS n_docs, min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens,
       max(CASE WHEN rk = CAST(floor((n + 1) / 2.0) AS BIGINT)
                THEN n_tokens END) AS median_tokens,
       max(CASE WHEN rk = CAST(floor((n * 9 + 9) / 10.0) AS BIGINT)
                THEN n_tokens END) AS p90_tokens
FROM r GROUP BY lang ORDER BY lang""",
    )

    # ---- polygon metrics: integer-micro shoelace area + centroid sums --------
    def q_polygon_stats(spark, sf):
        from .functions.geo import polygon_stats

        r = _rects(spark, sf)
        st = polygon_stats("lats", "lons")
        return r.select(
            "polygon_id",
            st["n_vertices"].alias("n_vertices"),
            st["area2x_micro"].alias("area2x_micro"),
            st["cx_num_micro"].alias("cx_num_micro"),
            st["cy_num_micro"].alias("cy_num_micro"),
        ).orderBy("polygon_id")

    from .functions.geo import polygon_stats_sql

    _pst = polygon_stats_sql("lats", "lons")
    q["geo_polygon_stats"] = (
        q_polygon_stats,
        f"""WITH rects AS ({_RECTS_SQL}),
rings AS (
  SELECT polygon_id,
         [cy - h, cy - h, cy + h, cy + h, cy - h] AS lats,
         [cx - w, cx + w, cx + w, cx - w, cx - w] AS lons
  FROM rects
)
SELECT polygon_id, {_pst['n_vertices']} AS n_vertices,
       {_pst['area2x_micro']} AS area2x_micro,
       {_pst['cx_num_micro']} AS cx_num_micro,
       {_pst['cy_num_micro']} AS cy_num_micro
FROM rings ORDER BY polygon_id""",
    )

    # ---- repetition signals (Gopher-style quality filters) -------------------
    def q_repetition(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        return T.repetition_stats(d).orderBy("doc_id")

    _toks = T.tokens_sql("text")
    _bg2 = T.ngrams_sql("text", 2)
    q["text_repetition"] = (
        q_repetition,
        f"""WITH tok AS (SELECT doc_id, unnest({_toks}) AS tok FROM documents),
pt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              count(*) AS n_distinct_tokens, max(c) AS top_token_count
       FROM pt GROUP BY 1),
bgt AS (SELECT doc_id, unnest({_bg2}) AS bg FROM documents),
pb AS (SELECT doc_id, bg, count(*) AS c FROM bgt GROUP BY 1, 2),
bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
              max(c) AS top_bigram_count
       FROM pb GROUP BY 1)
SELECT d.doc_id,
       coalesce(ts.n_tokens, 0) AS n_tokens,
       coalesce(ts.n_distinct_tokens, 0) AS n_distinct_tokens,
       CASE WHEN coalesce(ts.n_tokens, 0) > 0
            THEN CAST(ts.n_tokens - ts.n_distinct_tokens AS DOUBLE) / ts.n_tokens
            ELSE 0.0 END AS dup_token_ratio,
       coalesce(ts.top_token_count, 0) AS top_token_count,
       CASE WHEN coalesce(ts.n_tokens, 0) > 0
            THEN CAST(ts.top_token_count AS DOUBLE) / ts.n_tokens
            ELSE 0.0 END AS top_token_ratio,
       coalesce(bs.top_bigram_count, 0) AS top_bigram_count,
       CASE WHEN coalesce(bs.n_bigrams, 0) > 0
            THEN CAST(bs.top_bigram_count AS DOUBLE) / bs.n_bigrams
            ELSE 0.0 END AS top_bigram_ratio
FROM documents d LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)
ORDER BY d.doc_id""",
    )

    # ---- corpus-frequency boilerplate strip (CCNet-style) --------------------
    # engine path: explode + anti-join against the (tiny, broadcast) high-DF
    # term list + ordered reassembly; oracle re-derives the same high-DF set
    # and filters each token list directly. 0.78 is cast to DOUBLE on the
    # SQL side so the threshold comparison is the identical IEEE operation
    # (the synthetic corpus vocabulary clusters at df 0.75-0.80, so 0.78
    # strips roughly half the vocabulary — a discriminating fixture point).
    def q_boilerplate(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        return T.strip_high_df_tokens(d, max_df_frac=0.78).orderBy("doc_id")

    q["text_boilerplate_strip"] = (
        q_boilerplate,
        f"""WITH docs_t AS (SELECT doc_id, {_toks} AS toks FROM documents),
n AS (SELECT count(*) AS n_docs FROM documents),
dfc AS (SELECT tok, count(*) AS df
        FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM docs_t)
        GROUP BY 1),
hd AS (SELECT coalesce(list(tok), CAST([] AS VARCHAR[])) AS high
       FROM dfc, n WHERE df > CAST(0.78 AS DOUBLE) * n_docs)
SELECT d.doc_id,
       coalesce(array_to_string(
           list_filter(d.toks, t -> NOT list_contains(hd.high, t)), ' '),
         '') AS clean_text
FROM docs_t d CROSS JOIN hd ORDER BY d.doc_id""",
    )

    # ---- per-source corpus stats (Common-Crawl host-level aggregation) -------
    def q_source_stats(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        w = Window.partitionBy("source").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
        top = (
            d.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "source",
                F.col("doc_id").alias("top_doc_id"),
                F.col("n_chars").alias("top_doc_chars"),
            )
        )
        agg = d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        return agg.join(top, "source").orderBy("source")

    q["corpus_source_stats"] = (
        q_source_stats,
        """WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
),
s AS (SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY 1)
SELECT s.source, s.n_docs, s.n_langs, s.total_chars,
       r.doc_id AS top_doc_id, r.n_chars AS top_doc_chars
FROM s JOIN r ON s.source = r.source AND r.rn = 1
ORDER BY s.source""",
    )

    # ---- conversion funnel (view -> click -> purchase) -----------------------
    def q_funnel(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.funnel import window_funnel

        ev = spark.read.parquet(f"{sf}/events.parquet")
        out = window_funnel(ev, ["view", "click", "purchase"])
        return out.select(
            "user_id",
            "funnel_depth",
            ntz_epoch_ms(F.col("t0")).alias("t0_ms"),
            ntz_epoch_ms(F.col("t1")).alias("t1_ms"),
            ntz_epoch_ms(F.col("t2")).alias("t2_ms"),
        ).orderBy("user_id")

    q["events_window_funnel"] = (
        q_funnel,
        """WITH u AS (SELECT DISTINCT user_id FROM events),
v AS (SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1)
SELECT u.user_id,
       CAST(CASE WHEN p.t2 IS NOT NULL THEN 3
                 WHEN c.t1 IS NOT NULL THEN 2
                 WHEN v.t0 IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS funnel_depth,
       epoch_ms(v.t0) AS t0_ms, epoch_ms(c.t1) AS t1_ms, epoch_ms(p.t2) AS t2_ms
FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)
ORDER BY u.user_id""",
    )

    # ---- DAU / WAU stickiness -----------------------------------------------------
    # per-day active users and trailing-7-day actives WITHOUT a windowed
    # count-distinct: each distinct (user, day) row scatters to the 7
    # window days it serves (constant fan-out), one more distinct
    # collapses multi-day users, then count(*) per day IS the distinct
    # count. Stickiness = dau/wau, one exact division.
    def q_dau_wau(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        ud = (
            ev.select(
                "user_id",
                (ntz_epoch_ms(F.col("ts")) / F.lit(86_400_000))
                .cast("long")
                .alias("day"),
            )
            .distinct()
        )
        dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
        scattered = (
            ud.select(
                "user_id",
                F.explode(
                    F.sequence(F.col("day"), F.col("day") + F.lit(6))
                ).alias("day"),
            )
            .distinct()
        )
        wau = scattered.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
        return (
            dau.join(wau, "day")
            .select(
                "day",
                "dau",
                "wau",
                (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                    "stickiness"
                ),
            )
            .orderBy("day")
        )

    q["events_dau_wau"] = (
        q_dau_wau,
        """WITH ud AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
),
dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
scat AS (
  SELECT DISTINCT user_id, day + i AS day
  FROM ud, (SELECT unnest(range(0, 7)) AS i)
),
wau AS (SELECT day, count(*) AS wau FROM scat GROUP BY day)
SELECT d.day, d.dau, w.wau,
       CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
FROM dau d JOIN wau w USING (day)
ORDER BY d.day""",
    )

    # ---- peak concurrency: sweep-line over gap sessions ------------------------
    # how many users are in-session at once, and when the peak first
    # happens — the capacity-planning question. Sessions via the
    # sessionize gap law (30 min); the sweep line is +1/-1 deltas
    # pre-aggregated per distinct timestamp (bounding the ordered scan
    # by distinct boundary times, not events) + one running sum.
    def q_peak_conc(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", ntz_epoch_ms(F.col("ts")).alias("ms")
        )
        wu = Window.partitionBy("user_id").orderBy("ms")
        gap = 30 * 60_000
        new_s = F.when(
            (F.col("ms") - F.lag("ms").over(wu)) > gap, 1
        ).otherwise(0)
        sess = (
            ev.withColumn("ns", new_s)
            .withColumn(
                "sid",
                F.sum("ns").over(
                    wu.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .groupBy("user_id", "sid")
            .agg(F.min("ms").alias("s"), F.max("ms").alias("e"))
        )
        deltas = (
            sess.select(F.col("s").alias("t"), F.lit(1).alias("d"))
            .unionByName(
                sess.select((F.col("e") + 1).alias("t"), F.lit(-1).alias("d"))
            )
            .groupBy("t")
            .agg(F.sum("d").alias("dd"))
        )
        wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        curve = deltas.select("t", F.sum("dd").over(wt).alias("conc"))
        peak = curve.agg(F.max("conc").alias("max_concurrent"))
        return (
            curve.crossJoin(F.broadcast(peak))
            .where(F.col("conc") == F.col("max_concurrent"))
            .agg(
                F.max("conc").alias("max_concurrent"),
                F.min("t").alias("first_at_ms"),
            )
        )

    q["events_peak_concurrency"] = (
        q_peak_conc,
        """WITH pe AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
ps AS (
  SELECT user_id, ms,
         CASE WHEN ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
  FROM pe WINDOW w AS (PARTITION BY user_id ORDER BY ms)
),
pss AS (
  SELECT user_id, ms,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ms
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM ps
),
sess AS (
  SELECT user_id, sid, min(ms) AS s, max(ms) AS e
  FROM pss GROUP BY user_id, sid
),
deltas AS (
  SELECT t, sum(d) AS dd FROM (
    SELECT s AS t, 1 AS d FROM sess
    UNION ALL SELECT e + 1, -1 FROM sess
  ) GROUP BY t
),
curve AS (
  SELECT t, CAST(sum(dd) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS conc
  FROM deltas
)
SELECT max(conc) AS max_concurrent, min(t) AS first_at_ms
FROM curve WHERE conc = (SELECT max(conc) FROM curve)""",
    )

    # ---- conversion-latency quantiles per funnel stage ------------------------
    # composition: funnel timestamps -> integer stage latencies -> the
    # exact rank-quantile law (no approx_percentile twin gap).
    def q_conv_latency(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.funnel import window_funnel

        ev = spark.read.parquet(f"{sf}/events.parquet")
        fun = window_funnel(ev, ["view", "click", "purchase"]).select(
            "user_id",
            "funnel_depth",
            ntz_epoch_ms(F.col("t0")).alias("t0_ms"),
            ntz_epoch_ms(F.col("t1")).alias("t1_ms"),
            ntz_epoch_ms(F.col("t2")).alias("t2_ms"),
        )
        l1 = fun.where(F.col("funnel_depth") >= 2).select(
            F.lit("view_to_click").alias("stage"),
            (F.col("t1_ms") - F.col("t0_ms")).alias("l"),
            F.col("user_id").alias("uid"),
        )
        l2 = fun.where(F.col("funnel_depth") >= 3).select(
            F.lit("click_to_purchase").alias("stage"),
            (F.col("t2_ms") - F.col("t1_ms")).alias("l"),
            F.col("user_id").alias("uid"),
        )
        lat = l1.unionByName(l2)
        w = Window.partitionBy("stage").orderBy("l", "uid")
        cnt = Window.partitionBy("stage")
        r = lat.withColumn("rk", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(cnt)
        )
        med = F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long")
        p90 = F.floor((F.col("n") * 9 + 9) / F.lit(10.0)).cast("long")
        return (
            r.groupBy("stage")
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.min("l").alias("min_ms"),
                F.max(F.when(F.col("rk") == med, F.col("l"))).alias("median_ms"),
                F.max(F.when(F.col("rk") == p90, F.col("l"))).alias("p90_ms"),
                F.max("l").alias("max_ms"),
            )
            .orderBy("stage")
        )

    q["events_conversion_latency"] = (
        q_conv_latency,
        """WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1),
lat AS (
  SELECT 'view_to_click' AS stage,
         epoch_ms(c.t1) - epoch_ms(v.t0) AS l, c.user_id AS uid
  FROM c JOIN v USING (user_id)
  UNION ALL
  SELECT 'click_to_purchase',
         epoch_ms(p.t2) - epoch_ms(c.t1), p.user_id
  FROM p JOIN c USING (user_id)
),
r AS (
  SELECT stage, l,
         row_number() OVER (PARTITION BY stage ORDER BY l, uid) AS rk,
         count(*) OVER (PARTITION BY stage) AS n
  FROM lat
)
SELECT stage, count(*) AS n_users, min(l) AS min_ms,
       max(CASE WHEN rk = CAST(floor((n + 1) / 2.0) AS BIGINT) THEN l END)
         AS median_ms,
       max(CASE WHEN rk = CAST(floor((n * 9 + 9) / 10.0) AS BIGINT) THEN l END)
         AS p90_ms,
       max(l) AS max_ms
FROM r GROUP BY stage
ORDER BY stage""",
    )

    # ---- distance-band (radius) join ----------------------------------------
    def q_radius(spark, sf):
        from .operators.knn import radius_join

        pts = _pts(spark, sf)
        qs = pts.filter(F.col("id") % 97 == 0).select(
            F.col("id").alias("query_id"), "lat", "lon"
        )
        ts = pts.select(F.col("id").alias("target_id"), "lat", "lon")
        out = radius_join(qs, ts, radius_m=150_000.0, res=6)
        # ids only: haversine doubles stay out of the hash (libm ulp), the
        # membership of every pair is the contract being verified
        return out.select("query_id", "target_id").orderBy("query_id", "target_id")

    q["geo_radius_join"] = (
        q_radius,
        f"""WITH pts AS ({_PTS_SQL}),
qs AS (SELECT id, lat, lon FROM pts WHERE id % 97 = 0)
SELECT q.id AS query_id, t.id AS target_id
FROM qs q JOIN pts t ON t.id != q.id
WHERE {hav} <= 150000.0
ORDER BY query_id, target_id""",
    )

    # ---- Ripley's K point-pattern statistic at three distance bands -----------
    # K̂(r) = A · 2·pairs(≤r) / (n·(n−1)) on the sphere (A = 4πR²): the
    # clustered-vs-CSR diagnostic, composed over the EXACT distance-band
    # join at three radii — each radius re-certifies the grid fan-out
    # join against the brute pair oracle. Integer pair counts, one
    # identical terminal expression.
    def q_ripley(spark, sf):
        from .operators.knn import radius_join

        sub = _pts(spark, sf).filter(F.col("id") % 23 == 0)
        n_pts = sub.count()
        area = 4.0 * 3.141592653589793 * 6_371_000.0 * 6_371_000.0
        out = None
        for r in (100_000.0, 300_000.0, 1_000_000.0):
            pairs = radius_join(
                sub.select(F.col("id").alias("query_id"), "lat", "lon"),
                sub.select(F.col("id").alias("target_id"), "lat", "lon"),
                radius_m=r,
                res=6,
            ).where(F.col("query_id") < F.col("target_id"))
            row = pairs.agg(
                F.lit(int(r)).alias("radius_m"),
                F.count(F.lit(1)).alias("n_pairs"),
            )
            out = row if out is None else out.unionByName(row)
        return out.select(
            "radius_m",
            F.lit(n_pts).alias("n_points"),
            "n_pairs",
            # k_hat is ~1e11–1e14 m²: round(x, 9) is NOT cross-engine safe
            # at that magnitude (DuckDB's x*1e9 exceeds 2^53 and loses
            # bits where Spark's BigDecimal does not) — so emit the
            # integer-m² law instead: floor(x + 0.5) of a bit-identical
            # double is exact on both engines.
            F.floor(
                F.lit(area)
                * F.lit(2.0)
                * F.col("n_pairs").cast("double")
                / (F.lit(float(n_pts)) * F.lit(float(n_pts - 1)))
                + F.lit(0.5)
            ).cast("long").alias("k_hat_m2"),
        ).orderBy("radius_m")

    _RIPLEY_HAV = hav.replace("q.", "a.").replace("t.", "b.")
    q["geo_ripley_k"] = (
        q_ripley,
        f"""WITH pts AS ({_PTS_SQL}),
sub AS (SELECT id, lat, lon FROM pts WHERE id % 23 = 0),
n AS (SELECT count(*) AS n FROM sub),
bands AS (
  SELECT unnest([100000, 300000, 1000000]) AS radius_m
),
pc AS (
  SELECT bd.radius_m, count(p.ia) AS n_pairs
  FROM bands bd
  LEFT JOIN (
    SELECT a.id AS ia, b.id AS ib, {_RIPLEY_HAV} AS d
    FROM sub a JOIN sub b ON a.id < b.id
  ) p ON p.d <= bd.radius_m
  GROUP BY bd.radius_m
)
SELECT pc.radius_m, n.n AS n_points, pc.n_pairs,
       CAST(floor((CAST(4.0 AS DOUBLE) * CAST(3.141592653589793 AS DOUBLE)
        * CAST(6371000.0 AS DOUBLE) * CAST(6371000.0 AS DOUBLE))
         * CAST(2.0 AS DOUBLE)
         * CAST(pc.n_pairs AS DOUBLE)
         / (CAST(n.n AS DOUBLE) * CAST(n.n - 1 AS DOUBLE))
         + CAST(0.5 AS DOUBLE)) AS BIGINT) AS k_hat_m2
FROM pc, n
ORDER BY pc.radius_m""",
    )

    # ---- Clark–Evans nearest-neighbor index -----------------------------------
    # R = mean NN distance / CSR expectation 0.5/√density on the sphere:
    # < 1 clustered, ≈ 1 random, > 1 dispersed. NN distances snap to
    # integer mm (order-free min), the mean is an exact ratio of
    # integers, and the final R is one identical double expression.
    def q_clark_evans(spark, sf):
        # NN-other via the certified-exact adaptive kNN (VERDICT r4 #3):
        # k=2 top-k at ring-join cost covers the true nearest OTHER point
        # even with the self-pair (d=0) present; rounding to integer mm is
        # monotone, so min(round(d)) == round(min(d)) and the result is
        # bit-equal to the DuckDB brute all-pairs twin below. The old
        # ia != ib BroadcastNestedLoop all-pairs join (O(n²) candidate
        # pairs — the r4 scale-killer) is gone; the brute plan survives
        # only inside the oracle SQL.
        from .operators.knn import knn_join_adaptive

        sub = _pts(spark, sf).filter(F.col("id") % 23 == 0)
        top2 = knn_join_adaptive(
            sub.select(F.col("id").alias("query_id"), "lat", "lon"),
            sub.select(F.col("id").alias("target_id"), "lat", "lon"),
            k=2,
            res=6,
        )
        nn = (
            top2.where(F.col("target_id") != F.col("query_id"))
            .select(
                F.col("query_id").alias("ia"),
                F.round(F.col("dist_m") * F.lit(1000.0)).cast("long").alias("d"),
            )
            .groupBy("ia")
            .agg(F.min("d").alias("nn_mm"))
        )
        area = 4.0 * 3.141592653589793 * 6_371_000.0 * 6_371_000.0
        agg = nn.agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("nn_mm").alias("sum_nn_mm"),
        )
        mean_m = (
            F.col("sum_nn_mm").cast("double")
            / F.col("n_points").cast("double")
            / F.lit(1000.0)
        )
        expected = F.lit(0.5) / F.sqrt(
            F.col("n_points").cast("double") / F.lit(area)
        )
        return agg.select(
            "n_points",
            "sum_nn_mm",
            F.round(mean_m / expected, 9).alias("clark_evans_r"),
        )

    from .functions.geo import haversine_m as _hav_m

    q["geo_clark_evans"] = (
        q_clark_evans,
        f"""WITH ce2_s AS (
  SELECT id, lat, lon FROM ({_PTS_SQL}) WHERE id % 23 = 0
),
ce2_nn AS (
  SELECT a.id,
         min(CAST(round(({hav.replace('q.', 'a.').replace('t.', 'b.')})
                        * 1000.0) AS BIGINT)) AS nn_mm
  FROM ce2_s a JOIN ce2_s b ON b.id != a.id
  GROUP BY a.id
),
ce2_a AS (
  SELECT count(*) AS n_points,
         CAST(sum(nn_mm) AS BIGINT) AS sum_nn_mm
  FROM ce2_nn
)
SELECT n_points, sum_nn_mm,
       round((CAST(sum_nn_mm AS DOUBLE) / CAST(n_points AS DOUBLE)
        / CAST(1000.0 AS DOUBLE))
       / (CAST(0.5 AS DOUBLE) / sqrt(CAST(n_points AS DOUBLE)
          / (CAST(4.0 AS DOUBLE) * CAST(3.141592653589793 AS DOUBLE)
             * CAST(6371000.0 AS DOUBLE) * CAST(6371000.0 AS DOUBLE)))), 9)
         AS clark_evans_r
FROM ce2_a""",
    )

    # ---- eps-connectivity spatial clustering (friends-of-friends) -----------
    def q_grid_cluster(spark, sf):
        from .operators.cluster import grid_cluster

        return grid_cluster(_pts(spark, sf), eps_m=150_000.0, res=6).orderBy("id")

    from .operators.cluster import grid_cluster_sql

    q["geo_grid_cluster"] = (
        q_grid_cluster,
        grid_cluster_sql(_PTS_SQL, hav, 150_000.0) + "\nORDER BY id",
    )

    # ---- benchmark decontamination (eval-set n-gram overlap) -----------------
    def q_decontam(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        ev = d.filter(F.col("doc_id") % 97 == 0)
        tr = d.filter(F.col("doc_id") % 97 != 0)
        return T.ngram_contamination(tr, ev, n=4, min_overlap=1).orderBy("doc_id")

    q["text_decontaminate"] = (
        q_decontam,
        T.ngram_contamination_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0",
            "SELECT text FROM documents WHERE doc_id % 97 = 0",
            n=4,
            min_overlap=1,
        )
        + "\nORDER BY doc_id",
    )

    def q_decontam_bloom(spark, sf):
        # Bloom-bitmap candidate pass + verify join: exactly the exact
        # path's output (Bloom has no false negatives; verify scrubs the
        # false positives), so it shares the exact path's DuckDB twin.
        d = spark.read.parquet(f"{sf}/documents.parquet")
        ev = d.filter(F.col("doc_id") % 97 == 0)
        tr = d.filter(F.col("doc_id") % 97 != 0)
        return T.ngram_contamination_bloom(
            tr, ev, n=4, min_overlap=1, verify=True
        ).orderBy("doc_id")

    q["text_decontaminate_bloom"] = (
        q_decontam_bloom,
        T.ngram_contamination_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0",
            "SELECT text FROM documents WHERE doc_id % 97 = 0",
            n=4,
            min_overlap=1,
        )
        + "\nORDER BY doc_id",
    )

    # ---- PII detection + redaction -------------------------------------------
    _pii_enrich_spark = lambda d: d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 50 == 0,
                F.concat(
                    F.lit(" mail bob.smith+"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail-host.org now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 41 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )

    def q_pii(spark, sf):
        # the synthetic corpus carries no PII; plant deterministic emails +
        # phone numbers (same expression on both engines) so the detection
        # and redaction logic is what the hash verifies
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return T.pii_scrub(_pii_enrich_spark(d)).orderBy("doc_id")

    q["text_pii_scrub"] = (
        q_pii,
        f"""WITH enr AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 50 = 0
              THEN ' mail bob.smith+' || CAST(doc_id AS VARCHAR) || '@mail-host.org now'
              ELSE '' END ||
         CASE WHEN doc_id % 41 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS text
  FROM documents
)
{T.pii_scrub_sql()} FROM enr ORDER BY doc_id""",
    )

    def q_pack(spark, sf):
        from .functions.packing import pack_sequences

        d = spark.read.parquet(f"{sf}/documents.parquet")
        return pack_sequences(d, seq_len=128, n_buckets=8).orderBy(
            "seq_id", "doc_id", "doc_offset"
        )

    q["corpus_pack_sequences"] = (
        q_pack,
        _packing_oracle(seq_len=128, n_buckets=8)
        + " ORDER BY seq_id, doc_id, doc_offset",
    )

    # ---- BFS hop distance (multi-source shortest path, iterative) -------------
    # graph: the deterministic functional graph u -> (u*P1) % M % n over
    # customer keys, symmetrized inside the operator; seeds = keys < 10.
    def q_bfs_hops(spark, sf):
        from .operators.graph import bfs_hops

        cu = spark.read.parquet(f"{sf}/customer.parquet").select(
            F.col("c_custkey").cast("long").alias("u")
        )
        n = cu.count()
        edges = cu.select(
            "u", ((F.col("u") * F.lit(_P1)) % F.lit(_M) % F.lit(n)).alias("v")
        )
        seeds = cu.where(F.col("u") < 10).select(F.col("u").alias("id"))
        return bfs_hops(edges, seeds, max_hops=8).orderBy("id")

    from .operators.graph import bfs_hops_sql

    q["graph_bfs_hops"] = (
        q_bfs_hops,
        bfs_hops_sql(
            f"""SELECT CAST(c_custkey AS BIGINT) AS u,
       ((CAST(c_custkey AS BIGINT) * {_P1}) % {_M})
         % (SELECT count(*) FROM customer) AS v
FROM customer""",
            "SELECT CAST(c_custkey AS BIGINT) AS id FROM customer "
            "WHERE c_custkey < 10",
            max_hops=8,
        )
        + "\nORDER BY id",
    )

    # ---- hop-distance histogram + mean reach (BFS composition) -----------------
    # the closeness summary on top of graph_bfs_hops: how many nodes sit
    # at each hop, cumulative reach share, and the mean hop distance of
    # REACHED nodes (exact ints, terminal divisions)
    def q_hop_hist(spark, sf):
        from .operators.graph import bfs_hops

        cu = spark.read.parquet(f"{sf}/customer.parquet").select(
            F.col("c_custkey").cast("long").alias("u")
        )
        n = cu.count()
        edges = cu.select(
            "u", ((F.col("u") * F.lit(_P1)) % F.lit(_M) % F.lit(n)).alias("v")
        )
        seeds = cu.where(F.col("u") < 10).select(F.col("u").alias("id"))
        hops = bfs_hops(edges, seeds, max_hops=8)
        hist = hops.groupBy("hops").agg(F.count(F.lit(1)).alias("n_nodes"))
        tot = hops.agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("hops").alias("hop_sum"),
        )
        return (
            hist.crossJoin(F.broadcast(tot))
            .select(
                "hops",
                "n_nodes",
                (
                    F.col("n_nodes").cast("double")
                    / F.col("n_reached").cast("double")
                ).alias("reach_share"),
                (
                    F.col("hop_sum").cast("double")
                    / F.col("n_reached").cast("double")
                ).alias("mean_hops"),
            )
            .orderBy("hops")
        )

    _BFS_EDGES_SQL = f"""SELECT CAST(c_custkey AS BIGINT) AS u,
       ((CAST(c_custkey AS BIGINT) * {_P1}) % {_M})
         % (SELECT count(*) FROM customer) AS v
FROM customer"""
    q["graph_hop_histogram"] = (
        q_hop_hist,
        f"""WITH hh AS (
{bfs_hops_sql(_BFS_EDGES_SQL,
              "SELECT CAST(c_custkey AS BIGINT) AS id FROM customer "
              "WHERE c_custkey < 10", max_hops=8)}
),
hh_h AS (SELECT hops, count(*) AS n_nodes FROM hh GROUP BY hops),
hh_t AS (SELECT count(*) AS n_reached, sum(hops) AS hop_sum FROM hh)
SELECT h.hops, h.n_nodes,
       CAST(h.n_nodes AS DOUBLE) / CAST(t.n_reached AS DOUBLE)
         AS reach_share,
       CAST(t.hop_sum AS DOUBLE) / CAST(t.n_reached AS DOUBLE) AS mean_hops
FROM hh_h h, hh_t t
ORDER BY h.hops""",
    )

    # ---- weighted SSSP (frontier Bellman-Ford, iterative) ----------------------
    # TWO hash-edge families per node (degree ~4 after symmetrize) so the
    # weighted diameter stays bounded — the single functional edge of
    # graph_bfs_hops makes near-pure chains whose COST-shortest paths run
    # 30+ hops (probed); two families converge by round 14 at sf0.01.
    # Weights are deterministic integers 1..7 / 1..5.
    def q_sssp(spark, sf):
        from .operators.graph import sssp

        cu = spark.read.parquet(f"{sf}/customer.parquet").select(
            F.col("c_custkey").cast("long").alias("u")
        )
        n = cu.count()
        edges = cu.select(
            "u",
            ((F.col("u") * F.lit(_P1)) % F.lit(_M) % F.lit(n)).alias("v"),
            (F.lit(1) + F.col("u") % F.lit(7)).alias("w"),
        ).unionByName(
            cu.select(
                "u",
                ((F.col("u") * F.lit(_P2)) % F.lit(_M) % F.lit(n)).alias(
                    "v"
                ),
                (F.lit(1) + F.col("u") % F.lit(5)).alias("w"),
            )
        )
        seeds = cu.where(F.col("u") < 10).select(F.col("u").alias("id"))
        return sssp(edges, seeds, max_rounds=18).orderBy("id")

    from .operators.graph import sssp_sql

    q["graph_sssp_cost"] = (
        q_sssp,
        sssp_sql(
            f"""SELECT CAST(c_custkey AS BIGINT) AS u,
       ((CAST(c_custkey AS BIGINT) * {_P1}) % {_M})
         % (SELECT count(*) FROM customer) AS v,
       1 + CAST(c_custkey AS BIGINT) % 7 AS w
FROM customer
UNION ALL
SELECT CAST(c_custkey AS BIGINT) AS u,
       ((CAST(c_custkey AS BIGINT) * {_P2}) % {_M})
         % (SELECT count(*) FROM customer) AS v,
       1 + CAST(c_custkey AS BIGINT) % 5 AS w
FROM customer""",
            "SELECT CAST(c_custkey AS BIGINT) AS id FROM customer "
            "WHERE c_custkey < 10",
            max_rounds=18,
        )
        + "\nORDER BY id",
    )

    # ---- last-touch attribution (asof composed into marketing channels) -------
    # every purchase is attributed to the user's latest click/view within a
    # 7-day lookback; right-side (user, ts) ties collapse to min(channel)
    # BEFORE the sweep so the nearest-touch pick is deterministic.
    def q_last_touch(spark, sf):
        from .operators.asof import asof_join

        ev = spark.read.parquet(f"{sf}/events.parquet")
        conv = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        touch = (
            ev.where(F.col("event_type").isin("click", "view"))
            .groupBy("user_id", "ts")
            .agg(F.min("event_type").alias("channel"))
        )
        j = asof_join(
            conv,
            touch,
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            direction="backward",
            tolerance_ms=7 * 86_400_000,
            payload_cols=["channel"],
        )
        return (
            j.groupBy(
                F.coalesce(F.col("asof_channel"), F.lit("none")).alias("channel")
            )
            .agg(F.count(F.lit(1)).alias("n_conversions"))
            .orderBy("channel")
        )

    q["events_last_touch"] = (
        q_last_touch,
        """WITH lt_conv AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
lt_touch AS (
  SELECT user_id, ts, min(event_type) AS channel
  FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id, ts
),
lt_att AS (
  SELECT c.event_id,
         (SELECT t.channel FROM lt_touch t
          WHERE t.user_id = c.user_id AND t.ts <= c.ts
            AND epoch_ms(c.ts) - epoch_ms(t.ts) <= 604800000
          ORDER BY t.ts DESC LIMIT 1) AS channel
  FROM lt_conv c
)
SELECT coalesce(channel, 'none') AS channel,
       count(*) AS n_conversions
FROM lt_att GROUP BY 1
ORDER BY channel""",
    )

    # ---- linear (multi-touch) attribution --------------------------------------
    # every click/view inside the 7-day lookback shares the conversion
    # equally (credit 1/n). Credits are identical IEEE divisions on both
    # engines and the per-channel sum folds in (conversion, touch-ts)
    # order — pinned, so totals compare at round(9) without drift.
    def q_linear_touch(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        conv = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("conv_id"),
            "user_id",
            ntz_epoch_ms(F.col("ts")).alias("cms"),
        )
        touch = (
            ev.where(F.col("event_type").isin("click", "view"))
            .groupBy("user_id", ntz_epoch_ms(F.col("ts")).alias("tms"))
            .agg(F.min("event_type").alias("channel"))
        )
        j = conv.join(touch, "user_id").where(
            (F.col("tms") <= F.col("cms"))
            & (F.col("cms") - F.col("tms") <= 7 * 86_400_000)
        )
        n_per = j.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
        credits = (
            j.join(n_per, "conv_id")
            .select(
                "channel",
                "conv_id",
                "tms",
                (F.lit(1.0) / F.col("n").cast("double")).alias("credit"),
            )
        )
        attributed = (
            credits.groupBy("channel")
            .agg(
                F.count(F.lit(1)).alias("n_touches"),
                F.round(
                    F.aggregate(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("conv_id", "tms", "credit")
                                )
                            ),
                            lambda s: s["credit"],
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    9,
                ).alias("credit"),
            )
        )
        none_row = (
            conv.join(j.select("conv_id").distinct(), "conv_id", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_touches"))
            .select(
                F.lit("none").alias("channel"),
                "n_touches",
                F.col("n_touches").cast("double").alias("credit"),
            )
            .where(F.col("n_touches") > 0)
        )
        return attributed.unionByName(none_row).orderBy("channel")

    q["events_linear_touch"] = (
        q_linear_touch,
        """WITH mt_conv AS (
  SELECT event_id AS conv_id, user_id, epoch_ms(ts) AS cms
  FROM events WHERE event_type = 'purchase'
),
mt_touch AS (
  SELECT user_id, epoch_ms(ts) AS tms, min(event_type) AS channel
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY user_id, epoch_ms(ts)
),
mt_j AS (
  SELECT c.conv_id, t.tms, t.channel
  FROM mt_conv c JOIN mt_touch t ON t.user_id = c.user_id
  WHERE t.tms <= c.cms AND c.cms - t.tms <= 604800000
),
mt_n AS (SELECT conv_id, count(*) AS n FROM mt_j GROUP BY conv_id),
mt_c AS (
  SELECT j.channel, j.conv_id, j.tms,
         CAST(1.0 AS DOUBLE) / CAST(n.n AS DOUBLE) AS credit
  FROM mt_j j JOIN mt_n n ON n.conv_id = j.conv_id
),
mt_a AS (
  SELECT channel, count(*) AS n_touches,
         round(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(credit ORDER BY conv_id, tms)),
           (acc, x) -> acc + x
         ), 9) AS credit
  FROM mt_c GROUP BY channel
),
mt_none AS (
  SELECT 'none' AS channel, count(*) AS n_touches,
         CAST(count(*) AS DOUBLE) AS credit
  FROM mt_conv c
  WHERE NOT EXISTS (SELECT 1 FROM mt_j j WHERE j.conv_id = c.conv_id)
  HAVING count(*) > 0
)
SELECT * FROM mt_a
UNION ALL SELECT * FROM mt_none
ORDER BY channel""",
    )

    # ---- positional inverted index + phrase search ----------------------------
    def q_postings(spark, sf):
        from .functions.indexing import inverted_postings

        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .where(F.col("doc_id") < 300)
            .select("doc_id", "text")
        )
        p = inverted_postings(d, max_df=0.9, min_tf=5)
        return p.select(
            "term",
            "doc_id",
            "tf",
            F.array_join(
                F.transform("positions", lambda x: x.cast("string")), ","
            ).alias("positions_csv"),
        ).orderBy("term", "doc_id")

    from .functions.indexing import inverted_postings_sql, phrase_match_sql

    q["text_inverted_postings"] = (
        q_postings,
        "SELECT term, doc_id, tf, "
        "array_to_string(list_transform(positions, x -> CAST(x AS VARCHAR)), ',')"
        " AS positions_csv FROM (\n"
        + inverted_postings_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id < 300",
            max_df=0.9,
            min_tf=5,
        )
        + "\n) ORDER BY term, doc_id",
    )

    def q_phrase(spark, sf):
        from .functions.indexing import inverted_postings, phrase_match

        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .where(F.col("doc_id") < 500)
            .select("doc_id", "text")
        )
        p = inverted_postings(d)
        return phrase_match(p, "hash", "value").orderBy("doc_id")

    q["text_phrase_search"] = (
        q_phrase,
        phrase_match_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id < 500",
            "hash",
            "value",
        )
        + "\nORDER BY doc_id",
    )

    # ---- BM25 ranked retrieval (raw-idf variant, tfidf determinism law) --------
    def q_bm25(spark, sf):
        from .functions.indexing import bm25_topk

        d = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .where(F.col("doc_id") < 800)
            .select("doc_id", "text")
        )
        return bm25_topk(
            d, ["hash", "value", "stream"], k=25
        ).orderBy("rank")

    from .functions.indexing import bm25_topk_sql

    q["text_bm25_top25"] = (
        q_bm25,
        bm25_topk_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id < 800",
            ["hash", "value", "stream"],
            k=25,
        )
        + "\nORDER BY rank",
    )

    # ---- segment-segment intersection join ------------------------------------
    # ~unit-length segments concentrated in a 20x20-degree box (derived from
    # event ids with the registry's integer-hash law) so crossings actually
    # occur; the engine takes the cell-cover candidate path, the oracle
    # brute-forces all pairs with the IDENTICAL strict orientation law.
    def q_seg_intersect(spark, sf):
        from .operators.segments import segment_intersection_join

        ev = spark.read.parquet(f"{sf}/events.parquet").where(
            F.col("event_id") < 2000
        )
        k = F.col("event_id").cast("long")
        cy = ((k * F.lit(_P1)) % F.lit(_M) % F.lit(200_000)) / F.lit(10_000.0) - F.lit(10.0)
        cx = ((k * F.lit(_P2) + F.lit(_O2)) % F.lit(_M) % F.lit(200_000)) / F.lit(10_000.0) - F.lit(10.0)
        dy = ((k * F.lit(7919)) % F.lit(1001)).cast("double") / F.lit(500.0) - F.lit(1.0)
        dx = ((k * F.lit(104_729)) % F.lit(1001)).cast("double") / F.lit(500.0) - F.lit(1.0)
        segs = ev.select(
            k.alias("id"),
            cy.alias("lat1"),
            cx.alias("lon1"),
            (cy + dy).alias("lat2"),
            (cx + dx).alias("lon2"),
        )
        out = segment_intersection_join(segs, segs, res=8, max_cells=64)
        return out.where(F.col("a_id") < F.col("b_id")).orderBy("a_id", "b_id")

    from .operators.segments import segment_intersection_sql

    _SEGS_SQL = f"""SELECT CAST(event_id AS BIGINT) AS id,
       (((CAST(event_id AS BIGINT) * {_P1}) % {_M}) % 200000) / 10000.0 - 10.0 AS lat1,
       (((CAST(event_id AS BIGINT) * {_P2} + {_O2}) % {_M}) % 200000) / 10000.0 - 10.0 AS lon1,
       ((((CAST(event_id AS BIGINT) * {_P1}) % {_M}) % 200000) / 10000.0 - 10.0)
         + (CAST((CAST(event_id AS BIGINT) * 7919) % 1001 AS DOUBLE) / 500.0 - 1.0) AS lat2,
       ((((CAST(event_id AS BIGINT) * {_P2} + {_O2}) % {_M}) % 200000) / 10000.0 - 10.0)
         + (CAST((CAST(event_id AS BIGINT) * 104729) % 1001 AS DOUBLE) / 500.0 - 1.0) AS lon2
FROM events WHERE event_id < 2000"""

    q["geo_segment_intersections"] = (
        q_seg_intersect,
        segment_intersection_sql(_SEGS_SQL, _SEGS_SQL)
        + "\n  AND a.id < b.id\nORDER BY a_id, b_id",
    )

    # ---- k-core decomposition (iterative peel, unique fixpoint) ---------------
    # graph: co-purchase-style pairs derived from orders — customers who
    # ordered in the same "cohort" (o_custkey linked to a hashed partner);
    # the 3-core keeps only the dense interaction region.
    def q_kcore(spark, sf):
        from .operators.graph import kcore

        o = spark.read.parquet(f"{sf}/orders.parquet")
        k1 = F.col("o_orderkey").cast("long")
        edges = o.select(
            (F.col("o_custkey").cast("long") % F.lit(300)).alias("u"),
            ((k1 * F.lit(_P1)) % F.lit(_M) % F.lit(300)).alias("v"),
        )
        return kcore(edges, k=3, max_rounds=20).orderBy("id")

    from .operators.graph import kcore_sql

    q["graph_kcore_3"] = (
        q_kcore,
        kcore_sql(
            f"""SELECT CAST(o_custkey AS BIGINT) % 300 AS u,
       ((CAST(o_orderkey AS BIGINT) * {_P1}) % {_M}) % 300 AS v
FROM orders""",
            k=3,
            rounds=12,
        )
        + "\nORDER BY id",
    )

    # ---- SQ8 scalar quantization: asymmetric top-k recall ---------------------
    # the int8 compression family next to PQ: per-query recall@5 of the
    # quantized ADC-dot top-k against the exact full-precision dot top-k.
    def q_sq8(spark, sf):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.where(F.col("vec_id") % 13 == 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        ts = e.select(
            F.col("vec_id").alias("target_id"), F.col("embedding").alias("tv")
        )
        enc = ts.select(
            "target_id",
            S.sq8_codes(F.col("tv"), S.sq8_scale(F.col("tv"))).alias("codes"),
            S.sq8_scale(F.col("tv")).alias("scale"),
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("target_id").asc()
        )
        exact = (
            qs.crossJoin(ts)
            .select("query_id", "target_id", S.dot(F.col("qv"), F.col("tv")).alias("score"))
            .withColumn("__rn", F.row_number().over(wq))
            .where(F.col("__rn") <= 5)
            .select("query_id", "target_id")
        )
        quant = (
            qs.crossJoin(enc)
            .select(
                "query_id",
                "target_id",
                S.sq8_adc_dot(
                    F.col("qv"), F.col("codes"), F.col("scale")
                ).alias("score"),
            )
            .withColumn("__rn", F.row_number().over(wq))
            .where(F.col("__rn") <= 5)
            .select("query_id", "target_id")
        )
        common = exact.join(quant, ["query_id", "target_id"], "left_semi")
        return (
            common.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .select(
                "query_id",
                "n_common",
                (F.col("n_common").cast("double") / F.lit(5.0)).alias(
                    "recall_at_5"
                ),
            )
            .orderBy("query_id")
        )

    _SQ8_RANK = """row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, target_id ASC)"""
    q["ann_sq8_recall"] = (
        q_sq8,
        f"""WITH sq AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id % 13 = 2
),
st AS (
  SELECT vec_id AS target_id, embedding AS tv,
         {S.sq8_scale_sql("embedding")} AS scale
  FROM embeddings
),
senc AS (
  SELECT target_id, scale, {S.sq8_codes_sql("tv", "scale")} AS codes FROM st
),
ex_r AS (
  SELECT query_id, target_id, {_SQ8_RANK} AS rank FROM (
    SELECT q.query_id, t.target_id,
           list_reduce(list_transform(list_zip(q.qv, t.tv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
             (acc, v) -> acc + v) AS score
    FROM sq q, st t)
),
qt_r AS (
  SELECT query_id, target_id, {_SQ8_RANK} AS rank FROM (
    SELECT q.query_id, e.target_id,
           {S.sq8_adc_dot_sql("q.qv", "e.codes", "e.scale")} AS score
    FROM sq q, senc e)
),
common AS (
  SELECT f.query_id, count(*) AS n_common
  FROM (SELECT query_id, target_id FROM ex_r WHERE rank <= 5) f
  JOIN (SELECT query_id, target_id FROM qt_r WHERE rank <= 5) t
    USING (query_id, target_id)
  GROUP BY f.query_id
)
SELECT query_id, n_common,
       CAST(n_common AS DOUBLE) / 5.0 AS recall_at_5
FROM common
ORDER BY query_id""",
    )

    # ---- fixed-epoch linear track resampling -----------------------------------
    def q_resample(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.trajectory import resample_track

        ev = spark.read.parquet(f"{sf}/events.parquet").where(
            F.col("user_id") < 40
        )
        pts = (
            _pts(spark, sf)
            .join(
                ev.select(
                    F.col("event_id").alias("id"),
                    F.col("user_id"),
                    ntz_epoch_ms(F.col("ts")).alias("ms"),
                ),
                "id",
            )
            # collapse duplicate (user, ms) fixes deterministically: the
            # resampler's half-open grid requires strictly increasing ts
            .groupBy("user_id", "ms")
            .agg(F.min("lat").alias("lat"), F.min("lon").alias("lon"))
            .select(F.col("user_id").alias("key"), "ms", "lat", "lon")
        )
        out = resample_track(pts, step_ms=3_600_000)
        return out.orderBy("key", "grid_ms")

    from .operators.trajectory import resample_track_sql

    q["traj_resample_hourly"] = (
        q_resample,
        resample_track_sql(
            f"""SELECT user_id AS key, ms, min(lat) AS lat, min(lon) AS lon
FROM (
  SELECT e.user_id, epoch_ms(e.ts) AS ms, p.lat, p.lon
  FROM events e JOIN ({_PTS_SQL.strip()}) p ON p.id = e.event_id
  WHERE e.user_id < 40
) GROUP BY user_id, ms""",
            step_ms=3_600_000,
        )
        + "\nORDER BY key, grid_ms",
    )

    # ---- adaptive quadtree tiling (equal-mass mixed-res cover) ----------------
    # hot cells split until <= 30 points or res 8: the skew-absorbing
    # layout the fixed-res tilings can't give. Points scanned once;
    # split decisions run on the distinct-cell table.
    def q_adaptive(spark, sf):
        from .operators.tiling import adaptive_tiles

        return adaptive_tiles(_pts(spark, sf), 3, 8, 30).orderBy("cell")

    from .operators.tiling import adaptive_tiles_sql

    q["tiles_adaptive_quadtree"] = (
        q_adaptive,
        adaptive_tiles_sql(_PTS_SQL.strip(), 3, 8, 30) + "\nORDER BY cell",
    )

    # ---- 2D Pareto skyline (southwest frontier of the point cloud) -----------
    # distributed bucket-prefix plan vs the brute NOT-EXISTS dominance
    # spec on the oracle side — equality proves the decomposition.
    def q_skyline(spark, sf):
        from .operators.skyline import skyline_2d

        return skyline_2d(_pts(spark, sf), "lat", "lon", 5.0).orderBy("id")

    from .operators.skyline import skyline_2d_sql

    q["geo_skyline_sw"] = (
        q_skyline,
        skyline_2d_sql(_PTS_SQL.strip(), "lat", "lon") + "\nORDER BY id",
    )

    # ---- SCD2 dimension build (change stream -> effective-dated runs) --------
    # per-user event_type history collapsed to [from, to) validity runs
    # with a current flag — the dimension table the as-of join probes.
    def q_scd2(spark, sf):
        from .operators.scd import scd2_build

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "ts", "event_type", "event_id"
        )
        return scd2_build(
            ev, "user_id", "ts", "event_type", "event_id"
        ).orderBy("key", "from_ms", "val")

    from .operators.scd import scd2_build_sql

    q["events_scd2_types"] = (
        q_scd2,
        scd2_build_sql(
            "SELECT user_id, ts, event_type, event_id FROM events",
            key_expr="user_id",
            ts_expr="ts",
            val_expr="event_type",
            tiebreak_expr="event_id",
        )
        + "\nORDER BY key, from_ms, val",
    )

    # ---- Z-order (Morton) range scan: prune-then-refine bbox ------------------
    # the Delta/Iceberg Z-ORDER story made logical: the bbox compiles to 58
    # merged morton ranges at res 8 (plan-time literals, no data touched),
    # points join the broadcast ranges map-only, boundary cells refined by
    # the exact predicate. The oracle is the PLAIN bbox filter — equality
    # proves the prune is lossless.
    def q_zorder(spark, sf):
        from .operators.tiling import zorder_range_scan

        out = zorder_range_scan(_pts(spark, sf), 10.0, 35.0, 40.0, 80.0, 8)
        return out.agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("id").alias("sum_id"),
        )

    q["geo_zorder_scan"] = (
        q_zorder,
        f"""SELECT CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(id) AS BIGINT) AS sum_id
FROM ({_PTS_SQL.strip()})
WHERE lat >= 10.0 AND lat <= 35.0 AND lon >= 40.0 AND lon <= 80.0""",
    )

    # ---- co-visitation top-k (item-item collaborative counts) ----------------
    # "users who visited this cell also visited": per-user fan-out capped
    # BEFORE the pair self-join (the quadratic-blowup discipline), then
    # count + windowed top-3, ties by rel cell ascending.
    def q_covisit(spark, sf):
        from .functions.indexing import cooccurrence_topk

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "event_id"
        )
        pts = _pts(spark, sf)
        uc = ev.join(pts, ev.event_id == pts.id).select(
            "user_id", cell_expr("lat", "lon", 4).alias("cell")
        )
        return cooccurrence_topk(uc, "user_id", "cell", cap=32, top=3).orderBy(
            "item", "rnk"
        )

    from .functions.indexing import cooccurrence_topk_sql

    q["geo_covisitation_top3"] = (
        q_covisit,
        cooccurrence_topk_sql(
            f"""SELECT e.user_id AS g, {cell_sql('p.lat', 'p.lon', 4)} AS it
FROM events e JOIN ({_PTS_SQL.strip()}) p ON p.id = e.event_id""",
            cap=32,
            top=3,
        )
        + "\nORDER BY item, rnk",
    )

    # ---- snapshot diff / CDC (the changelog read of the Iceberg seam) --------
    # two deterministic versions of orders: v_old drops %11 keys (-> inserts
    # in the diff), v_new drops %13 keys (-> deletes) and bumps %7 prices
    # by one dollar (-> updates); everything else must be SILENT (dropped).
    def q_snapshot_diff(spark, sf):
        from .plans.checkpoint import snapshot_diff

        o = spark.read.parquet(f"{sf}/orders.parquet").select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        v_old = o.where(F.col("o_orderkey") % 11 != 0)
        v_new = o.where(F.col("o_orderkey") % 13 != 0).withColumn(
            "cents",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("cents") + F.lit(100)
            ).otherwise(F.col("cents")),
        )
        return snapshot_diff(
            v_old, v_new, ["o_orderkey"], ["o_custkey", "cents"]
        ).orderBy("o_orderkey")

    from .plans.checkpoint import snapshot_diff_sql

    _SD_BASE = (
        "SELECT o_orderkey, o_custkey, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"
    )
    q["table_snapshot_diff"] = (
        q_snapshot_diff,
        snapshot_diff_sql(
            f"SELECT * FROM ({_SD_BASE}) WHERE o_orderkey % 11 <> 0",
            f"""SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 7 = 0 THEN cents + 100 ELSE cents END AS cents
FROM ({_SD_BASE}) WHERE o_orderkey % 13 <> 0""",
            ["o_orderkey"],
            ["o_custkey", "cents"],
        )
        + "\nORDER BY o_orderkey",
    )

    return q


# ---------------------------------------------------------------------------
# pages-world queries with ground-truth DuckDB oracles.
#
# The fixture generator writes flat "truth" parquet snapshots (the entities
# it encoded, before any Spark code touches them) — the analog of the
# reference's Osmonaut-verified golden counts (/root/reference/
# gosmonaut_test.go:43-75). The oracle SQL re-derives way assembly
# (skip-missing ref->node join), relation membership (drop missing /
# sub-relation), text identity, and the PIP join (bbox prefilter + the
# exact same PNPOLY arithmetic as operators/pip.py) from those snapshots,
# fully independent of the engine's decode + join path.
#
# The oracle SQL embeds absolute paths for the t2 profile because the
# driver's CORRECTNESS gate always verifies at sf0.01 (-> t2).
# ---------------------------------------------------------------------------


def _pages_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures.pages import PROFILES, ensure_pages_parquet
    from .sources.pages import read_pages

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    profile = {"0.001": "t1", "0.01": "t2", "0.1": "bench"}.get(sf, "t1")
    return read_pages(spark, ensure_pages_parquet(profile))


def _tags_sorted_col(col: str = "tags"):
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(col)),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        ";",
    )


def build_pages_oracle_queries() -> dict:
    """name -> (spark_fn, duckdb_sql) for the pages-world operators.
    Generates the t2 truth snapshots on first call (cached on disk)."""
    from .fixtures.pages import ensure_pages_parquet, ensure_truth_parquet

    tp = ensure_truth_parquet("t2")
    pages_path = ensure_pages_parquet("t2")
    q = {}

    def q_assemble(spark, sf):
        from .operators.assembly import SKIP_MISSING
        from .plans.pipeline import run_pipeline

        res = run_pipeline(
            _pages_for(spark, sf),
            {"node", "way", "relation"},
            None,
            mode=SKIP_MISSING,
        )
        return res.ways.select(
            "id",
            F.size("nodes").alias("n_nodes"),
            _tags_sorted_col("tags").alias("tags_sorted"),
        ).orderBy("id")

    q["pages_way_assembly"] = (
        q_assemble,
        f"""WITH resolved AS (
  SELECT r.way_id
  FROM read_parquet('{tp["way_refs"]}') r
  JOIN read_parquet('{tp["nodes"]}') n ON r.ref = n.id
)
SELECT w.way_id AS id,
       CAST(coalesce(c.n, 0) AS INT) AS n_nodes,
       w.tags_sorted
FROM read_parquet('{tp["ways"]}') w
LEFT JOIN (SELECT way_id, count(*) AS n FROM resolved GROUP BY way_id) c
       USING (way_id)
ORDER BY id""",
    )

    def q_rel(spark, sf):
        from .operators.assembly import SKIP_MISSING
        from .plans.pipeline import run_pipeline

        res = run_pipeline(_pages_for(spark, sf), {"relation"}, None, mode=SKIP_MISSING)
        return res.relations.select(
            "id", F.size("members").alias("n_members")
        ).orderBy("id")

    # ---- tag-key histogram over the fully decoded entity world ----------------
    # exercises the decode path end to end through a different lens: every
    # entity's tag KEYS, split by entity type — the OSM-style schema census
    # ("how often is addr:street tagged, and on what") — against the truth
    # snapshots' key=value;... strings, fully independent of the decoder.
    def q_tag_hist(spark, sf):
        from .operators.assembly import SKIP_MISSING
        from .plans.pipeline import run_pipeline

        res = run_pipeline(
            _pages_for(spark, sf),
            {"node", "way", "relation"},
            None,
            mode=SKIP_MISSING,
        )
        parts = []
        for etype, df in (
            ("node", res.nodes),
            ("relation", res.relations),
            ("way", res.ways),
        ):
            parts.append(
                df.select(
                    F.lit(etype).alias("etype"),
                    F.explode(F.map_keys("tags")).alias("tag_key"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return (
            out.groupBy("etype", "tag_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("etype", "tag_key")
        )

    q["pages_tag_histogram"] = (
        q_tag_hist,
        f"""WITH kv AS (
  SELECT 'node' AS etype, tags_sorted FROM read_parquet('{tp["nodes"]}')
  UNION ALL
  SELECT 'way', tags_sorted FROM read_parquet('{tp["ways"]}')
  UNION ALL
  SELECT 'relation', tags_sorted FROM read_parquet('{tp["rels"]}')
),
keys AS (
  SELECT etype, split_part(unnest(string_split(tags_sorted, ';')), '=', 1)
           AS tag_key
  FROM kv WHERE tags_sorted != ''
)
SELECT etype, tag_key, count(*) AS n
FROM keys GROUP BY etype, tag_key
ORDER BY etype, tag_key""",
    )

    # ---- blob-size census over the crawl table --------------------------------
    # bytes on the wire per lang: blob count, total/mean html bytes and
    # the text-to-blob expansion ratio — the storage-planning row
    def q_blob_sizes(spark, sf):
        p = _pages_for(spark, sf).select("lang", "html", "text")
        return (
            p.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_pages"),
                F.sum(F.length("html")).alias("blob_bytes"),
                F.sum(F.length("text")).alias("text_chars"),
            )
            .select(
                "lang",
                "n_pages",
                "blob_bytes",
                "text_chars",
                (
                    F.col("text_chars").cast("double")
                    / F.col("blob_bytes").cast("double")
                ).alias("text_ratio"),
            )
            .orderBy("lang")
        )

    q["pages_blob_sizes"] = (
        q_blob_sizes,
        f"""SELECT lang, count(*) AS n_pages,
       CAST(sum(octet_length(html)) AS BIGINT) AS blob_bytes,
       CAST(sum(length(text)) AS BIGINT) AS text_chars,
       CAST(sum(length(text)) AS DOUBLE)
         / CAST(sum(octet_length(html)) AS DOUBLE) AS text_ratio
FROM read_parquet('{pages_path}')
GROUP BY lang
ORDER BY lang""",
    )

    # ---- URL path-depth census over the crawl table ---------------------------
    # pure string law both engines: strip scheme+host with one regexp, depth
    # = '/' count in the remaining path; split by lang — the crawl-shape
    # audit (deep paths = calendars/faceted traps) a real pipeline runs
    # before spending decode budget.
    def q_url_depth(spark, sf):
        p = _pages_for(spark, sf).select("url", "lang", "text")
        path = F.regexp_replace("url", "^[a-z]+://[^/]*", "")
        depth = (
            F.length(path) - F.length(F.regexp_replace(path, "/", ""))
        ).alias("depth")
        return (
            p.select("lang", depth, F.length("text").alias("tl"))
            .groupBy("lang", "depth")
            .agg(
                F.count(F.lit(1)).alias("n_pages"),
                F.sum("tl").alias("total_text_chars"),
            )
            .orderBy("lang", "depth")
        )

    q["pages_url_depth"] = (
        q_url_depth,
        f"""WITH ud AS (
  SELECT lang,
         length(regexp_replace(url, '^[a-z]+://[^/]*', ''))
           - length(regexp_replace(
               regexp_replace(url, '^[a-z]+://[^/]*', ''), '/', '', 'g'))
           AS depth,
         length(text) AS tl
  FROM read_parquet('{pages_path}')
)
SELECT lang, depth, count(*) AS n_pages,
       CAST(sum(tl) AS BIGINT) AS total_text_chars
FROM ud GROUP BY lang, depth
ORDER BY lang, depth""",
    )

    q["pages_relation_assembly"] = (
        q_rel,
        f"""SELECT r.rel_id AS id, CAST(coalesce(c.n, 0) AS INT) AS n_members
FROM read_parquet('{tp["rels"]}') r
LEFT JOIN (
  SELECT m.rel_id, count(*) AS n
  FROM read_parquet('{tp["rel_members"]}') m
  WHERE (m.mtype = 'node'
         AND EXISTS (SELECT 1 FROM read_parquet('{tp["nodes"]}') n
                     WHERE n.id = m.ref))
     OR (m.mtype = 'way'
         AND EXISTS (SELECT 1 FROM read_parquet('{tp["ways"]}') w
                     WHERE w.way_id = m.ref))
  GROUP BY m.rel_id
) c ON c.rel_id = r.rel_id
ORDER BY id""",
    )

    def q_text_identity(spark, sf):
        from .sources.pages import extract_texts

        pages = _pages_for(spark, sf)
        t = extract_texts(pages)
        j = t.join(pages.select("url", "text"), "url")
        return j.select(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.when(F.col("text_extracted") == F.col("text"), 1).otherwise(0)).alias(
                "n_byte_identical"
            ),
        )

    q["pages_text_byte_identity"] = (
        q_text_identity,
        f"""SELECT CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(*) AS BIGINT) AS n_byte_identical
FROM read_parquet('{pages_path}')""",
    )

    # ---- decode → text-family composition: quality over DECODED text ----------
    # the engine scores its OWN blob-decoded text (byte-identity invariant
    # makes this meaningful); the oracle scores the fixture's truth text
    # column with the same ANSI expressions — any decode drift anywhere
    # breaks the integer counts, not just the identity query
    def q_decoded_quality(spark, sf):
        from .functions.text import lang_id, token_count
        from .sources.pages import extract_texts

        pages = _pages_for(spark, sf)
        t = extract_texts(pages).select(
            F.col("text_extracted").alias("text")
        )
        return (
            t.select(
                lang_id("text").alias("lid"),
                token_count("text").alias("tc"),
            )
            .groupBy("lid")
            .agg(
                F.count(F.lit(1)).alias("n_pages"),
                F.sum("tc").alias("total_tokens"),
            )
            .orderBy("lid")
        )

    from .functions.text import lang_id_sql as _lid_sql
    from .functions.text import token_count_sql as _tc2_sql

    q["pages_decoded_quality"] = (
        q_decoded_quality,
        f"""SELECT {_lid_sql('text')} AS lid, count(*) AS n_pages,
       CAST(sum({_tc2_sql('text')}) AS BIGINT) AS total_tokens
FROM read_parquet('{pages_path}')
GROUP BY 1
ORDER BY lid""",
    )

    def q_pip_syn(spark, sf):
        from .operators.assembly import SKIP_MISSING
        from .operators.pip import polygons_from_ways
        from .plans.pipeline import run_pipeline

        res = run_pipeline(_pages_for(spark, sf), {"node", "way"}, None, mode=SKIP_MISSING)
        polys = polygons_from_ways(res.ways)
        out = point_in_polygon_join(res.nodes.select("id", "lat", "lon"), polys, res=11)
        return out.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n_inside")).orderBy(
            "polygon_id"
        )

    # PNPOLY arithmetic below is term-for-term identical (same IEEE op
    # order) to operators/pip.py::ray_cast_inside, so the comparison is
    # bit-exact, not approximate.
    q["pages_pip_tiles"] = (
        q_pip_syn,
        f"""WITH nodes AS (
  SELECT id, lat, lon FROM read_parquet('{tp["nodes"]}')
),
resolved AS (
  SELECT r.way_id, r.pos, n.id, n.lat, n.lon
  FROM read_parquet('{tp["way_refs"]}') r JOIN nodes n ON r.ref = n.id
),
ring_stat AS (
  SELECT way_id
  FROM resolved GROUP BY way_id
  HAVING count(*) >= 4 AND arg_min(id, pos) = arg_max(id, pos)
),
verts AS (
  SELECT s.way_id,
         row_number() OVER (PARTITION BY s.way_id ORDER BY s.pos) AS i,
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
SELECT way_id AS polygon_id, count(*) AS n_inside
FROM par WHERE k % 2 = 1
GROUP BY way_id ORDER BY polygon_id""",
    )

    # ---- ring winding order (polygon orientation validation) ------------------
    # the geometry-sanity gate in front of every area/PIP consumer: per
    # closed assembled ring, the SIGN of the planar shoelace sum (ccw /
    # cw / degenerate). The sum is a left-to-right fold of doubles — the
    # established Spark aggregate == DuckDB list_reduce pairing — so the
    # sign (the only thing emitted) is exact; the OSM convention wants
    # outer rings ccw, so this is the validator a polygon ingest runs.
    def q_winding(spark, sf):
        from .operators.assembly import SKIP_MISSING
        from .operators.pip import polygons_from_ways
        from .plans.pipeline import run_pipeline

        res = run_pipeline(
            _pages_for(spark, sf), {"node", "way"}, None, mode=SKIP_MISSING
        )
        from .functions.geo import ring_orientation

        polys = polygons_from_ways(res.ways)
        return polys.select(
            F.col("polygon_id").alias("id"),
            F.size("lats").cast("long").alias("n_points"),
            ring_orientation("lats", "lons").alias("orientation"),
        ).orderBy("id")

    _WD_SH = (
        "list_reduce(list_transform(range(1, len(lats)), "
        "i -> lons[i] * lats[i + 1] - lons[i + 1] * lats[i]), "
        "(acc, v) -> acc + v)"
    )
    q["pages_ring_winding"] = (
        q_winding,
        f"""WITH nodes AS (
  SELECT id, lat, lon FROM read_parquet('{tp["nodes"]}')
),
resolved AS (
  SELECT r.way_id, r.pos, n.id, n.lat, n.lon
  FROM read_parquet('{tp["way_refs"]}') r JOIN nodes n ON r.ref = n.id
),
ring_stat AS (
  SELECT way_id
  FROM resolved GROUP BY way_id
  HAVING count(*) >= 4 AND arg_min(id, pos) = arg_max(id, pos)
),
verts AS (
  SELECT s.way_id, list(s.lat ORDER BY s.pos) AS lats,
         list(s.lon ORDER BY s.pos) AS lons
  FROM resolved s JOIN ring_stat USING (way_id)
  GROUP BY s.way_id
)
SELECT way_id AS id, CAST(len(lats) AS BIGINT) AS n_points,
       CASE WHEN {_WD_SH} > 0 THEN 'ccw'
            WHEN {_WD_SH} < 0 THEN 'cw'
            ELSE 'degenerate' END AS orientation
FROM verts
ORDER BY id""",
    )

    # ---- rectangle clip + clipped area (Sutherland–Hodgman) -------------------
    # the viewport/tile-boundary primitive: every assembled ring clipped
    # to a fixed window, clipped area in integer micro-units. Four
    # half-plane passes of pure per-edge array algebra (flatten∘transform,
    # no fold) — interpolated crossing points are bit-identical
    # cross-engine, the area then rides the established micro-shoelace
    # integer law. Fully-outside rings clip to empty and drop; boundary
    # slivers survive with area 0.
    _CLIP = (-10.0, 25.0, -40.0, 60.0)

    def q_clip_area(spark, sf):
        from .functions.geo import clip_rings_rect, polygon_stats
        from .operators.assembly import SKIP_MISSING
        from .operators.pip import polygons_from_ways
        from .plans.pipeline import run_pipeline

        res = run_pipeline(
            _pages_for(spark, sf), {"node", "way"}, None, mode=SKIP_MISSING
        )
        polys = polygons_from_ways(res.ways).select("polygon_id", "lats", "lons")
        clipped = clip_rings_rect(polys, *_CLIP).where(F.size("lats") > 0)
        st = polygon_stats("lats", "lons")
        return clipped.select(
            F.col("polygon_id").alias("id"),
            F.size("lats").cast("long").alias("n_clip_points"),
            st["area2x_micro"].alias("area2x_micro"),
        ).orderBy("id")

    from .functions.geo import clip_rings_rect_sql as _crs
    from .functions.geo import polygon_stats_sql as _psql

    _CA_VERTS = f"""SELECT s.way_id AS polygon_id,
       list(s.lat ORDER BY s.pos) AS lats,
       list(s.lon ORDER BY s.pos) AS lons
FROM (
  SELECT r.way_id, r.pos, n.id, n.lat, n.lon
  FROM read_parquet('{tp["way_refs"]}') r
  JOIN read_parquet('{tp["nodes"]}') n ON r.ref = n.id
) s
JOIN (
  SELECT way_id FROM (
    SELECT r.way_id, r.pos, n.id
    FROM read_parquet('{tp["way_refs"]}') r
    JOIN read_parquet('{tp["nodes"]}') n ON r.ref = n.id
  ) GROUP BY way_id
  HAVING count(*) >= 4 AND arg_min(id, pos) = arg_max(id, pos)
) rs USING (way_id)
GROUP BY s.way_id"""
    _ca_pst = _psql("lats", "lons")
    q["pages_clip_area"] = (
        q_clip_area,
        f"""SELECT polygon_id AS id,
       CAST(len(lats) AS BIGINT) AS n_clip_points,
       {_ca_pst['area2x_micro']} AS area2x_micro
FROM (
{_crs(_CA_VERTS, *_CLIP, extra_cols="polygon_id,")}
)
WHERE len(lats) > 0
ORDER BY id""",
    )

    # ---- polygon centroids over the assembled world ---------------------------
    # the label-placement / cluster-anchor metric: per closed ring, the
    # exact integer-micro shoelace area and centroid NUMERATORS (centroid
    # = num / (3·area2x) for consumers wanting the float — kept integer
    # here so the oracle is exact, same law as geo_polygon_stats but over
    # the decode→assembly pipeline output instead of synthetic rects).
    def q_pages_centroids(spark, sf):
        from .functions.geo import polygon_stats
        from .operators.assembly import SKIP_MISSING
        from .operators.pip import polygons_from_ways
        from .plans.pipeline import run_pipeline

        res_p = run_pipeline(
            _pages_for(spark, sf), {"node", "way"}, None, mode=SKIP_MISSING
        )
        polys = polygons_from_ways(res_p.ways)
        st = polygon_stats("lats", "lons")
        return polys.select(
            F.col("polygon_id").alias("id"),
            st["area2x_micro"].alias("area2x_micro"),
            st["cx_num_micro"].alias("cx_num_micro"),
            st["cy_num_micro"].alias("cy_num_micro"),
        ).orderBy("id")

    q["pages_polygon_centroids"] = (
        q_pages_centroids,
        f"""SELECT polygon_id AS id,
       {_ca_pst['area2x_micro']} AS area2x_micro,
       {_ca_pst['cx_num_micro']} AS cx_num_micro,
       {_ca_pst['cy_num_micro']} AS cy_num_micro
FROM (
{_CA_VERTS}
)
ORDER BY id""",
    )

    # ---- AREA-WEIGHTED raster↔vector rollup -----------------------------------
    # B9 deepened: not point-in-cell counts but the true per-cell AREA of
    # every polygon — each assembled ring is clipped (Sutherland–Hodgman,
    # per-row cell bbox bounds) to every covering grid cell and the
    # integer-micro shoelace of each piece is summed per cell. Exact
    # conservation by construction: the clip pieces partition the ring.
    _AR_RES = 4

    def q_area_rollup(spark, sf):
        from .functions.cells import cell_from_xy, cell_x, cell_y
        from .functions.geo import clip_rings_rect, polygon_stats
        from .operators.assembly import SKIP_MISSING
        from .operators.pip import polygons_from_ways
        from .plans.pipeline import run_pipeline

        n = 1 << _AR_RES
        res_p = run_pipeline(
            _pages_for(spark, sf), {"node", "way"}, None, mode=SKIP_MISSING
        )
        polys = polygons_from_ways(res_p.ways).select(
            "polygon_id", "lats", "lons"
        )
        b = polys.select(
            "polygon_id",
            "lats",
            "lons",
            F.array_min("lats").alias("mnla"),
            F.array_max("lats").alias("mxla"),
            F.array_min("lons").alias("mnlo"),
            F.array_max("lons").alias("mxlo"),
        )
        pairs = (
            b.withColumn(
                "cx",
                F.explode(
                    F.sequence(
                        cell_x(F.col("mnlo"), _AR_RES),
                        cell_x(F.col("mxlo"), _AR_RES),
                    )
                ),
            )
            .withColumn(
                "cy",
                F.explode(
                    F.sequence(
                        cell_y(F.col("mxla"), _AR_RES),
                        cell_y(F.col("mnla"), _AR_RES),
                    )
                ),
            )
        )
        nd = F.lit(float(n))
        pairs = (
            pairs.withColumn(
                "cell", cell_from_xy(F.col("cx"), F.col("cy"), _AR_RES)
            )
            .withColumn(
                "la0",
                F.lit(90.0)
                - (F.col("cy").cast("double") + F.lit(1.0))
                / nd
                * F.lit(180.0),
            )
            .withColumn(
                "la1",
                F.lit(90.0) - F.col("cy").cast("double") / nd * F.lit(180.0),
            )
            .withColumn(
                "lo0",
                F.col("cx").cast("double") / nd * F.lit(360.0) - F.lit(180.0),
            )
            .withColumn(
                "lo1",
                (F.col("cx").cast("double") + F.lit(1.0)) / nd * F.lit(360.0)
                - F.lit(180.0),
            )
        )
        clipped = clip_rings_rect(
            pairs,
            F.col("la0"),
            F.col("la1"),
            F.col("lo0"),
            F.col("lo1"),
        )
        st = polygon_stats("lats", "lons")
        per = clipped.select(
            "cell", st["area2x_micro"].alias("a2")
        ).where(F.col("a2") != 0)
        return (
            per.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n_polygons"),
                F.sum("a2").alias("area2x_micro_sum"),
            )
            .orderBy("cell")
        )

    _arn = 1 << _AR_RES
    _ar_cellx = (
        f"CAST(least(greatest(floor((mnlo + 180.0) / 360.0 * {float(_arn)!r}),"
        f" 0), {_arn - 1}) AS BIGINT)"
    )
    _ar_cellx1 = (
        f"CAST(least(greatest(floor((mxlo + 180.0) / 360.0 * {float(_arn)!r}),"
        f" 0), {_arn - 1}) AS BIGINT)"
    )
    _ar_celly = (
        f"CAST(least(greatest(floor((90.0 - mxla) / 180.0 * {float(_arn)!r}),"
        f" 0), {_arn - 1}) AS BIGINT)"
    )
    _ar_celly1 = (
        f"CAST(least(greatest(floor((90.0 - mnla) / 180.0 * {float(_arn)!r}),"
        f" 0), {_arn - 1}) AS BIGINT)"
    )
    _AR_PAIRS = f"""SELECT polygon_id, lats, lons,
       ({1 << (2 * _AR_RES)} + cx * {_arn} + cy) AS cell,
       90.0 - (CAST(cy AS DOUBLE) + 1.0) / {float(_arn)!r} * 180.0 AS la0,
       90.0 - CAST(cy AS DOUBLE) / {float(_arn)!r} * 180.0 AS la1,
       CAST(cx AS DOUBLE) / {float(_arn)!r} * 360.0 - 180.0 AS lo0,
       (CAST(cx AS DOUBLE) + 1.0) / {float(_arn)!r} * 360.0 - 180.0 AS lo1
FROM (
  SELECT polygon_id, lats, lons, mnlo, mxlo, mnla, mxla, ix.cx, iy.cy
  FROM (
    SELECT polygon_id, lats, lons,
           list_aggregate(lats, 'min') AS mnla,
           list_aggregate(lats, 'max') AS mxla,
           list_aggregate(lons, 'min') AS mnlo,
           list_aggregate(lons, 'max') AS mxlo
    FROM (
{_CA_VERTS}
    )
  ),
  LATERAL (SELECT unnest(range({_ar_cellx}, {_ar_cellx1} + 1)) AS cx) ix,
  LATERAL (SELECT unnest(range({_ar_celly}, {_ar_celly1} + 1)) AS cy) iy
)"""
    q["tiles_area_rollup"] = (
        q_area_rollup,
        f"""SELECT cell, count(*) AS n_polygons,
       CAST(sum(a2) AS BIGINT) AS area2x_micro_sum
FROM (
  SELECT cell, {_ca_pst['area2x_micro']} AS a2
  FROM (
{_crs(_AR_PAIRS, "la0", "la1", "lo0", "lo1", extra_cols="polygon_id, cell, la0, la1, lo0, lo1,")}
  )
) WHERE a2 != 0
GROUP BY cell
ORDER BY cell""",
    )

    # ---- polygon polyfill (rasterize assembled areas to res-15 cells) --------
    # the H3-polyfill primitive: enumerate the bbox span per ring, keep the
    # cells whose CENTER passes the same bit-exact PNPOLY as the pip joins.
    def q_polyfill(spark, sf):
        from .operators.assembly import SKIP_MISSING
        from .operators.pip import polygons_from_ways
        from .operators.tiling import polyfill
        from .plans.pipeline import run_pipeline

        res = run_pipeline(
            _pages_for(spark, sf), {"node", "way"}, None, mode=SKIP_MISSING
        )
        polys = polygons_from_ways(res.ways)
        return polyfill(polys, 15, max_cells=256).orderBy("polygon_id", "cell")

    from .operators.tiling import polyfill_sql

    _PF_VERTS = f"""SELECT s.way_id AS polygon_id,
       row_number() OVER (PARTITION BY s.way_id ORDER BY s.pos) AS i,
       s.lat, s.lon
FROM (
  SELECT r.way_id, r.pos, n.id, n.lat, n.lon
  FROM read_parquet('{tp["way_refs"]}') r
  JOIN read_parquet('{tp["nodes"]}') n ON r.ref = n.id
) s
JOIN (
  SELECT way_id
  FROM (
    SELECT r.way_id, r.pos, n.id
    FROM read_parquet('{tp["way_refs"]}') r
    JOIN read_parquet('{tp["nodes"]}') n ON r.ref = n.id
  )
  GROUP BY way_id
  HAVING count(*) >= 4 AND arg_min(id, pos) = arg_max(id, pos)
) ring USING (way_id)"""

    q["tiles_polyfill"] = (
        q_polyfill,
        polyfill_sql(_PF_VERTS, 15) + "\nORDER BY polygon_id, cell",
    )

    def q_url_dedup(spark, sf):
        # the synthetic crawl's urls are already canonical; plant the
        # deterministic refetch noise a real crawl carries (same
        # expression on both engines, like the PII query): groups of 5
        # consecutive pages refetch one path as {plain, tracking-params+
        # fragment, SHOUTING host with explicit :443, real params in
        # shuffled order, real params + gclid} — canonicalization must
        # collapse {0,1,2} and {3,4} while keeping the two apart.
        from .functions.web import canonical_url_dedup

        p = _pages_for(spark, sf).select("url", "warc_ts")
        n = F.regexp_extract("url", "([0-9]{6})$", 1).cast("long")
        k = F.lpad((n / 5).cast("long").cast("string"), 6, "0")
        base = F.concat(F.lit("https://synth.example/dup/"), k)
        enriched = (
            F.when(n % 5 == 1, F.concat(base, F.lit("?utm_source=feed&utm_campaign=x#frag")))
            .when(n % 5 == 2, F.concat(F.lit("HTTPS://SYNTH.EXAMPLE:443/dup/"), k))
            .when(n % 5 == 3, F.concat(base, F.lit("?b=2&a=1")))
            .when(n % 5 == 4, F.concat(base, F.lit("?a=1&b=2&gclid=abc123")))
            .otherwise(base)
        )
        return canonical_url_dedup(
            p.select(enriched.alias("url"), "warc_ts")
        ).orderBy("canonical_url")

    from .functions.web import url_canonicalize_sql

    q["pages_url_canonical_dedup"] = (
        q_url_dedup,
        f"""WITH enr AS (
  SELECT CASE CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) % 5
           WHEN 1 THEN 'https://synth.example/dup/' ||
                lpad(CAST(CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) // 5 AS VARCHAR), 6, '0')
                || '?utm_source=feed&utm_campaign=x#frag'
           WHEN 2 THEN 'HTTPS://SYNTH.EXAMPLE:443/dup/' ||
                lpad(CAST(CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) // 5 AS VARCHAR), 6, '0')
           WHEN 3 THEN 'https://synth.example/dup/' ||
                lpad(CAST(CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) // 5 AS VARCHAR), 6, '0')
                || '?b=2&a=1'
           WHEN 4 THEN 'https://synth.example/dup/' ||
                lpad(CAST(CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) // 5 AS VARCHAR), 6, '0')
                || '?a=1&b=2&gclid=abc123'
           ELSE 'https://synth.example/dup/' ||
                lpad(CAST(CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) // 5 AS VARCHAR), 6, '0')
         END AS url, warc_ts
  FROM read_parquet('{pages_path}')
)
SELECT {url_canonicalize_sql("url")} AS canonical_url,
       count(*) AS n_dup,
       min(warc_ts) AS first_ts,
       arg_min(url, warc_ts) AS kept_url
FROM enr
GROUP BY canonical_url
ORDER BY canonical_url""",
    )

    # ---- polyline (way) length: haversine fold over vertex arrays ------------
    # deterministic synthetic ways from the point table: way = 5 consecutive
    # ids (way_id = id DIV 5), vertex order by id — same law both engines.
    # lengths compared at round(len, 3) (mm): the fold order is identical
    # left-to-right on both engines, only libm trig ulps differ.
    def q_way_length(spark, sf):
        from .functions.geo import polyline_length_m

        pts = _pts(spark, sf)
        verts = F.array_sort(F.collect_list(F.struct("id", "lat", "lon")))
        ways = pts.groupBy(F.expr("id DIV 5").alias("way_id")).agg(
            F.transform(verts, lambda s: s["lat"]).alias("lats"),
            F.transform(verts, lambda s: s["lon"]).alias("lons"),
        )
        return ways.select(
            "way_id",
            F.size("lats").alias("n_vertices"),
            F.round(polyline_length_m("lats", "lons"), 3).alias("length_m"),
        ).orderBy("way_id")

    from .functions.geo import polyline_length_sql

    q["geo_way_length"] = (
        q_way_length,
        f"""WITH pts AS ({_PTS_SQL}),
ways AS (
  SELECT id // 5 AS way_id,
         list(lat ORDER BY id) AS lats,
         list(lon ORDER BY id) AS lons
  FROM pts GROUP BY id // 5
)
SELECT way_id, len(lats) AS n_vertices,
       round({polyline_length_sql('lats', 'lons')}, 3) AS length_m
FROM ways ORDER BY way_id""",
    )

    # ---- fixed-iteration spherical k-means (IVF centroid training) -----------
    # output exploded to one scalar row per (centroid, dim): mean sums
    # reassociate between engines, so means compare at round(m, 9); counts
    # and ids are exact.
    def q_kmeans(spark, sf):
        from .functions.similarity import kmeans_train

        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        out = kmeans_train(e, iters=2, stride=16, dim=64)
        return out.select(
            "centroid_id",
            "n_assigned",
            F.posexplode("centroid").alias("d", "m0"),
        ).select(
            "centroid_id",
            "n_assigned",
            "d",
            F.round("m0", 9).alias("m"),
        ).orderBy("centroid_id", "d")

    from .functions.similarity import kmeans_train_sql

    q["embeddings_kmeans"] = (
        q_kmeans,
        f"""SELECT centroid_id, n_assigned,
       generate_subscripts(centroid, 1) - 1 AS d,
       round(unnest(centroid), 9) AS m
FROM (
{kmeans_train_sql("SELECT vec_id AS pid, embedding AS pv FROM embeddings", iters=2, stride=16)}
)
ORDER BY centroid_id, d""",
    )

    # ---- cluster quality: simplified silhouette over the trained centroids ----
    def q_silhouette(spark, sf):
        from .functions.similarity import kmeans_train, silhouette_simplified

        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        cents = kmeans_train(e, iters=2, stride=16, dim=64).select(
            "centroid_id",
            F.transform(F.col("centroid"), lambda x: F.round(x, 9)).alias(
                "centroid"
            ),
        )
        return silhouette_simplified(e, cents, dim=64)

    from .functions.similarity import silhouette_simplified_sql

    q["embeddings_silhouette"] = (
        q_silhouette,
        silhouette_simplified_sql(
            "SELECT vec_id AS pid, embedding AS pv FROM embeddings",
            f"""SELECT centroid_id,
       list_transform(centroid, x -> round(x, 9)) AS centroid
FROM (
{kmeans_train_sql("SELECT vec_id AS pid, embedding AS pv FROM embeddings", iters=2, stride=16)}
)""",
        ),
    )

    # ---- raster focal (neighborhood) sum at res 6 -----------------------------
    def q_focal(spark, sf):
        from .operators.tiling import focal_sum, points_to_tiles

        t = points_to_tiles(_pts(spark, sf), 6).select("cell", "n_points")
        return focal_sum(t, res=6, k=1).orderBy("cell")

    from .functions.cells import cell_sql as _cell_sql
    from .operators.tiling import focal_sum_sql

    _focal_tiles_sql = f"""SELECT cell, count(*) AS n_points FROM (
  SELECT {_cell_sql('lat', 'lon', 6)} AS cell FROM ({_PTS_SQL.strip()})
) GROUP BY cell"""
    q["tiles_focal_sum"] = (
        q_focal,
        focal_sum_sql(_focal_tiles_sql, res=6, k=1) + "\nORDER BY cell",
    )

    # ---- spatio-temporal tile heatmap (cell × day rollup over events) --------
    # the tile×time aggregation a web-scale geo dashboard serves: one hash
    # agg on (cell, day) — both pure integer/codegen keys (cell law is
    # bit-exact cross-engine, day = NTZ epoch-ms integer-divided), so the
    # rollup is an ordinary map-side-combinable groupBy that AQE coalesces;
    # at 10^12 rows the key space is bounded by cells × days, not rows.
    def q_st_heatmap(spark, sf):
        from .functions.cells import cell_expr
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
        hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        pts = ev.select(
            F.col("event_id").alias("id"),
            ((hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)).alias("lat"),
            ((hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)).alias("lon"),
            "ts",
        )
        return (
            pts.groupBy(
                cell_expr("lat", "lon", 5).alias("cell"),
                (ntz_epoch_ms(F.col("ts")) / F.lit(86_400_000))
                .cast("long")
                .alias("day"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"), F.min("id").alias("min_id"))
            .orderBy("cell", "day")
        )

    from .functions.cells import cell_sql

    q["tiles_time_heatmap"] = (
        q_st_heatmap,
        f"""WITH pts AS (
SELECT event_id AS id,
       ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
       ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon,
       ts
FROM events
)
SELECT {cell_sql('lat', 'lon', 5)} AS cell,
       CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day,
       count(*) AS n_events, min(id) AS min_id
FROM pts GROUP BY cell, day ORDER BY cell, day""",
    )

    # ---- geohash-pruned bbox query (index-then-refine; exact bbox twin) ------
    _BBOX = (-10.0, 35.0, 100.0, 150.0)  # lat_min, lat_max, lon_min, lon_max

    def q_bbox(spark, sf):
        from .functions.geohash import bbox_filter

        pts = _pts(spark, sf)
        la0, la1, lo0, lo1 = _BBOX
        return (
            bbox_filter(pts, la0, la1, lo0, lo1, precision=3)
            .select("id", "lat", "lon")
            .orderBy("id")
        )

    q["geo_bbox_pruned"] = (
        q_bbox,
        f"""WITH pts AS ({_PTS_SQL})
SELECT id, lat, lon FROM pts
WHERE lat >= {_BBOX[0]!r} AND lat <= {_BBOX[1]!r}
  AND lon >= {_BBOX[2]!r} AND lon <= {_BBOX[3]!r}
ORDER BY id""",
    )

    # ---- top principal component (fixed power iterations) --------------------
    def q_top_pc(spark, sf):
        from .functions.similarity import power_iteration_top_pc

        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        v = power_iteration_top_pc(e, iters=3, dim=64)
        return v.select("d", F.round("v", 7).alias("v")).orderBy("d")

    from .functions.similarity import power_iteration_top_pc_sql

    q["embeddings_top_pc"] = (
        q_top_pc,
        f"""SELECT d, round(v, 7) AS v FROM (
{power_iteration_top_pc_sql("SELECT vec_id AS pid, embedding AS pv FROM embeddings", iters=3, dim=64)}
)
ORDER BY d""",
    )

    # ---- dominant-direction removal (embedding hygiene) -----------------------
    def q_remove_pc(spark, sf):
        from .functions.similarity import remove_top_pc

        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        # subset keeps the oracle row count sane (100 ids × 64 dims)
        out = remove_top_pc(e.filter(F.col("vec_id") % 5 == 0), iters=3, dim=64)
        return out.select("id", "d", F.round("e", 7).alias("e")).orderBy("id", "d")

    from .functions.similarity import remove_top_pc_sql

    q["embeddings_remove_top_pc"] = (
        q_remove_pc,
        f"""SELECT id, d, round(e, 7) AS e FROM (
{remove_top_pc_sql("SELECT vec_id AS pid, embedding AS pv FROM embeddings WHERE vec_id % 5 = 0", iters=3, dim=64)}
)
ORDER BY id, d""",
    )

    # ---- product-quantization codes (vector compression for ANN) -------------
    def q_pq(spark, sf):
        from .functions.similarity import pq_encode

        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        return pq_encode(e, m=8, centroid_stride=32, dim=64).orderBy(
            "vec_id", "subspace"
        )

    from .functions.similarity import pq_encode_sql

    # ---- exact duplicate vectors (array-equality dedup) -----------------------
    # the embedding-side twin of exact text dedup: group by the raw
    # float array (bit equality — both engines read the same parquet
    # bits); planted duplicates via the +1e6 id shift
    def q_vec_dupes(spark, sf):
        e_ = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        dup = e_.where(F.col("vec_id") % 20 == 0).withColumn(
            "vec_id", F.col("vec_id") + F.lit(1_000_000)
        )
        allv = e_.unionByName(dup)
        groups = allv.groupBy("embedding").agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("vec_id").alias("canonical_id"),
        )
        return (
            groups.where(F.col("n_copies") > 1)
            .select("canonical_id", "n_copies")
            .orderBy("canonical_id")
        )

    q["embeddings_exact_dupes"] = (
        q_vec_dupes,
        """WITH vd_all AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
),
vd_g AS (
  SELECT embedding, count(*) AS n_copies, min(vec_id) AS canonical_id
  FROM vd_all GROUP BY embedding
)
SELECT canonical_id, n_copies FROM vd_g WHERE n_copies > 1
ORDER BY canonical_id""",
    )

    # ---- class separation: intra- vs inter-class cosine -----------------------
    # the "is a classifier even plausible" gate: mean pairwise cosine
    # within labels vs across labels on a deterministic stride subset.
    # Each cosine is the bit-identical unrolled fold; means round(9).
    def q_class_sep(spark, sf):
        from .functions.similarity import dot_codegen

        e_ = (
            spark.read.parquet(f"{sf}/embeddings.parquet")
            .where(F.col("vec_id") % 5 == 0)
            .select("vec_id", "label", "embedding")
        )
        a = e_.select(
            F.col("vec_id").alias("ia"),
            F.col("label").alias("la"),
            F.col("embedding").alias("va"),
        )
        b = e_.select(
            F.col("vec_id").alias("ib"),
            F.col("label").alias("lb"),
            F.col("embedding").alias("vb"),
        )
        pairs = a.join(b, F.col("ia") < F.col("ib"))
        cos = dot_codegen(F.col("va"), F.col("vb"), 64) / (
            F.sqrt(dot_codegen(F.col("va"), F.col("va"), 64))
            * F.sqrt(dot_codegen(F.col("vb"), F.col("vb"), 64))
        )
        return (
            pairs.select(
                (F.col("la") == F.col("lb")).cast("int").alias("same_class"),
                cos.alias("c"),
            )
            .groupBy("same_class")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.avg("c"), 9).alias("mean_cosine"),
            )
            .orderBy("same_class")
        )

    _CS_DOT = lambda x, y: (
        f"list_reduce(list_transform(list_zip({x}, {y}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        f"(acc, v) -> acc + v)"
    )
    q["embeddings_class_separation"] = (
        q_class_sep,
        f"""WITH cs_e AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 5 = 0
),
cs_p AS (
  SELECT CAST(a.label = b.label AS INT) AS same_class,
         ({_CS_DOT('a.embedding', 'b.embedding')})
           / (sqrt({_CS_DOT('a.embedding', 'a.embedding')})
              * sqrt({_CS_DOT('b.embedding', 'b.embedding')})) AS c
  FROM cs_e a JOIN cs_e b ON a.vec_id < b.vec_id
)
SELECT same_class, count(*) AS n_pairs,
       round(avg(c), 9) AS mean_cosine
FROM cs_p GROUP BY same_class
ORDER BY same_class""",
    )

    # ---- PQ distortion report (quantization error by subspace) ----------------
    # the codebook-quality gate before trusting ADC distances: per-subspace
    # count / mean / max of the encode residual d2. Each d2 is bit-identical
    # (unrolled fixed-order chain); the mean reassociates -> round(9), the
    # max compares identical scalars -> exact.
    def q_pq_distortion(spark, sf):
        from .functions.similarity import pq_encode

        e_ = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        codes = pq_encode(e_, m=8, centroid_stride=32, dim=64)
        return (
            codes.groupBy("subspace")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.round(F.avg("d2"), 9).alias("mean_d2"),
                F.max("d2").alias("max_d2"),
            )
            .orderBy("subspace")
        )

    q["embeddings_pq_distortion"] = (
        q_pq_distortion,
        f"""SELECT subspace, count(*) AS n_vectors,
       round(avg(d2), 9) AS mean_d2, max(d2) AS max_d2
FROM (
{pq_encode_sql("SELECT vec_id, embedding FROM embeddings", m=8, centroid_stride=32, dim=64)}
)
GROUP BY subspace
ORDER BY subspace""",
    )

    q["embeddings_pq_codes"] = (
        q_pq,
        pq_encode_sql(
            "SELECT vec_id, embedding FROM embeddings",
            m=8,
            centroid_stride=32,
            dim=64,
        )
        + "\nORDER BY vec_id, subspace",
    )

    # ---- PQ asymmetric-distance top-k search ----------------------------------
    def q_adc(spark, sf):
        from .functions.similarity import pq_adc_topk

        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        qs = e.where(F.col("vec_id") % 17 == 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ts = e.select(F.col("vec_id").alias("target_id"), "embedding")
        return pq_adc_topk(qs, ts, k=3, m=8, centroid_stride=32, dim=64).orderBy(
            "query_id", "rank"
        )

    from .functions.similarity import pq_adc_topk_sql

    q["embeddings_pq_adc_topk"] = (
        q_adc,
        pq_adc_topk_sql(
            "SELECT vec_id AS query_id, embedding FROM embeddings "
            "WHERE vec_id % 17 = 3",
            "SELECT vec_id AS target_id, embedding FROM embeddings",
            k=3,
            m=8,
            centroid_stride=32,
            dim=64,
        )
        + "\nORDER BY query_id, rank",
    )

    # ---- geohash cells (Z-order layout key; base32 public index) -------------
    def q_geohash(spark, sf):
        from .functions.geohash import geohash_encode

        pts = _pts(spark, sf)
        return (
            pts.groupBy(geohash_encode("lat", "lon", 6).alias("gh"))
            .agg(F.count(F.lit(1)).alias("n_pts"), F.min("id").alias("min_id"))
            .orderBy("gh")
        )

    from .functions.geohash import geohash_encode_sql

    q["geo_geohash_cells"] = (
        q_geohash,
        f"""WITH pts AS ({_PTS_SQL})
SELECT {geohash_encode_sql('lat', 'lon', 6)} AS gh,
       count(*) AS n_pts, min(id) AS min_id
FROM pts GROUP BY gh ORDER BY gh""",
    )

    # ---- paragraph-level dedup (boilerplate paragraphs across docs) ----------
    # the synthetic docs are single-line word streams, so the query plants
    # the paragraph structure a real crawl has (same expression on both
    # engines, like the url-dedup noise): a break every 25 words, a shared
    # nav-boilerplate paragraph prepended to every 3rd doc, and a shared
    # license paragraph appended to every 4th-plus-1 doc — paragraph dedup
    # must keep each boilerplate exactly once corpus-wide.
    _B1 = "subscribe to our newsletter for weekly updates"
    _B2 = "copyright twenty twenty four all rights reserved"
    _PARA_BRK = r"((\S+ ){24}\S+) "

    def q_para_dedup(spark, sf):
        from .functions.dedup import paragraph_dedup

        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        broken = F.regexp_replace("text", _PARA_BRK, "$1\n\n")
        t = F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit(_B1 + "\n\n"), broken)
        ).otherwise(broken)
        t = F.when(
            F.col("doc_id") % 4 == 1, F.concat(t, F.lit("\n\n" + _B2))
        ).otherwise(t)
        return paragraph_dedup(d.select("doc_id", t.alias("text"))).orderBy(
            "doc_id", "para_idx"
        )

    from .functions.dedup import paragraph_dedup_sql

    _nn = "chr(10) || chr(10)"
    _para_docs_sql = f"""SELECT doc_id,
  CASE WHEN doc_id % 4 = 1 THEN t2 || {_nn} || '{_B2}' ELSE t2 END AS text
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '{_B1}' || {_nn} || t1 ELSE t1 END AS t2
  FROM (
    SELECT doc_id,
           regexp_replace(text, '{_PARA_BRK}', '\\1' || {_nn}, 'g') AS t1
    FROM documents))"""
    q["dedup_paragraphs"] = (
        q_para_dedup,
        paragraph_dedup_sql(_para_docs_sql) + "\nORDER BY doc_id, para_idx",
    )

    # ---- winsorized robust stats per lang (exact rank thresholds) ------------
    # thresholds picked at exact ranks k_lo = max(1, floor(0.05 n)) and
    # k_hi = min(n, ceil(0.95 n)); output is integer-only (clipped SUM +
    # count, not a float mean) so the twin is exact with no rounding.
    def q_winsor(spark, sf):
        from pyspark.sql.window import Window

        d = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        w = Window.partitionBy("lang").orderBy(
            F.col("n_chars").asc(), F.col("doc_id").asc()
        )
        r = d.select(
            "lang",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
        )
        k_lo = F.greatest(F.lit(1), F.floor(F.col("n") * F.lit(0.05)).cast("int"))
        k_hi = F.least(F.col("n"), F.ceil(F.col("n") * F.lit(0.95)).cast("long"))
        th = r.groupBy("lang").agg(
            F.max(F.when(F.col("rn") == k_lo, F.col("n_chars"))).alias("lo"),
            F.max(F.when(F.col("rn") == k_hi, F.col("n_chars"))).alias("hi"),
        )
        clipped = r.join(F.broadcast(th), "lang").select(
            "lang",
            F.least(F.greatest(F.col("n_chars"), F.col("lo")), F.col("hi")).alias(
                "c"
            ),
        )
        return (
            clipped.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("c").alias("sum_clipped"))
            .join(th, "lang")
            .select("lang", "n_docs", "lo", "hi", "sum_clipped")
            .orderBy("lang")
        )

    q["corpus_winsorized_stats"] = (
        q_winsor,
        """WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
th AS (
  SELECT lang,
         max(CASE WHEN rn = greatest(1, CAST(floor(n * 0.05) AS INTEGER))
                  THEN n_chars END) AS lo,
         max(CASE WHEN rn = least(n, CAST(ceil(n * 0.95) AS BIGINT))
                  THEN n_chars END) AS hi
  FROM r GROUP BY lang
)
SELECT r.lang, count(*) AS n_docs, any_value(th.lo) AS lo, any_value(th.hi) AS hi,
       CAST(sum(least(greatest(r.n_chars, th.lo), th.hi)) AS BIGINT)
         AS sum_clipped
FROM r JOIN th ON th.lang = r.lang
GROUP BY r.lang
ORDER BY r.lang""",
    )

    # ---- per-tile event-type diversity (Gini–Simpson, rational exact) --------
    # 1 - Σp² expressed as (t² - Σc²)/t² — integer numerator/denominator,
    # ONE division: bit-exact cross-engine with no transcendentals.
    def q_tile_diversity(spark, sf):
        from .functions.cells import cell_expr

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
        hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        pts = ev.select(
            "event_type",
            ((hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)).alias("lat"),
            ((hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)).alias("lon"),
        )
        per_type = (
            pts.groupBy(cell_expr("lat", "lon", 4).alias("cell"), "event_type")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            per_type.groupBy("cell")
            .agg(F.sum("c").alias("t"), F.sum(F.col("c") * F.col("c")).alias("ss"))
            .select(
                "cell",
                "t",
                (
                    (F.col("t") * F.col("t") - F.col("ss"))
                    / (F.col("t") * F.col("t")).cast("double")
                ).alias("simpson"),
            )
            .orderBy("cell")
        )

    q["tiles_type_diversity"] = (
        q_tile_diversity,
        f"""WITH pts AS (
SELECT event_type,
       ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
       ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon
FROM events
),
per_type AS (
  SELECT {{cell4}} AS cell, event_type, count(*) AS c
  FROM pts GROUP BY 1, 2
)
SELECT cell, CAST(sum(c) AS BIGINT) AS t,
       (sum(c) * sum(c) - sum(c * c)) / CAST(sum(c) * sum(c) AS DOUBLE)
         AS simpson
FROM per_type GROUP BY cell ORDER BY cell""".replace(
            "{cell4}", _cell_sql("lat", "lon", 4)
        ),
    )

    # ---- time-series gap fill + locf (hypertable continuous view) ------------
    # integer metric (event_id % 997) so the bucket SUM and the forward
    # fill are order-free integer ops — bit-exact cross-engine.
    def q_gap_fill(spark, sf):
        from .operators.rolling import gap_fill

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("user_id"),
            "ts",
            (F.col("event_id") % F.lit(997)).alias("v"),
        )
        return gap_fill(ev, "user_id", "ts", "v", 6 * 3600 * 1000).orderBy(
            "user_id", "bucket_ms"
        )

    from .operators.rolling import gap_fill_sql

    q["events_gap_fill"] = (
        q_gap_fill,
        gap_fill_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, event_id % 997 AS v FROM events",
            "user_id",
            "ms",
            "v",
            6 * 3600 * 1000,
        )
        + "\nORDER BY user_id, bucket_ms",
    )

    # ---- trajectory (GPS-track) length per moving key -------------------------
    # row-per-point lag-window twin of geo_way_length's array fold; each
    # segment rounds to integer mm BEFORE the per-key sum, so the
    # aggregate is an order-free integer sum (exact cross-engine).
    def q_trajectory(spark, sf):
        from .functions.geo import trajectory_length
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
        hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        pts = ev.select(
            "user_id",
            ntz_epoch_ms(F.col("ts")).alias("ms"),
            "event_id",
            ((hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)).alias("lat"),
            ((hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)).alias("lon"),
        )
        return trajectory_length(pts, "user_id", "ms", "event_id").orderBy(
            "user_id"
        )

    from .functions.geo import trajectory_length_sql

    q["geo_trajectory_length"] = (
        q_trajectory,
        trajectory_length_sql(
            f"""SELECT user_id, epoch_ms(ts) AS ms, event_id,
       ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
       ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon
FROM events""",
            "user_id",
            "ms",
            "event_id",
        )
        + "\nORDER BY user_id",
    )

    # ---- trajectory analytics: OD matrix, stay points, heading sectors --------
    # movement synthesis: per (user, 3-day block) the user sits at one
    # hashed position — pure integer laws until the final /10000.0, so
    # both engines see bit-identical doubles; blocks create genuine
    # dwell runs for stay-point detection and block-to-block trips for
    # the OD matrix.
    _BLK = 3 * 86_400_000

    def _dwell_pts(spark, sf):
        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        ms = ntz_epoch_ms(F.col("ts"))
        blk = (ms / F.lit(_BLK)).cast("long")
        h1 = ((F.col("user_id") * F.lit(7_919) + blk) * F.lit(_P1)) % F.lit(_M)
        h2 = (
            (F.col("user_id") * F.lit(104_729) + blk) * F.lit(_P2) + F.lit(_O2)
        ) % F.lit(_M)
        return ev.select(
            "user_id",
            ms.alias("ms"),
            "event_id",
            ((h1 % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)).alias("lat"),
            ((h2 % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)).alias("lon"),
        )

    _DWELL_PTS_SQL = f"""SELECT user_id, epoch_ms(ts) AS ms, event_id,
       (((((user_id * 7919 + (epoch_ms(ts) // {_BLK})) * {_P1}) % {_M}) % 1700000)
          / 10000.0) - 85.0 AS lat,
       (((((user_id * 104729 + (epoch_ms(ts) // {_BLK})) * {_P2} + {_O2}) % {_M}) % 3600000)
          / 10000.0) - 180.0 AS lon
FROM events"""

    def q_od(spark, sf):
        from .operators.trajectory import od_matrix

        return od_matrix(
            _dwell_pts(spark, sf), 4, "user_id", "ms", "event_id"
        ).orderBy("o_cell", "d_cell")

    from .operators.trajectory import od_matrix_sql

    q["geo_od_matrix"] = (
        q_od,
        od_matrix_sql(_DWELL_PTS_SQL, 4, "user_id", "ms", "event_id")
        + "\nORDER BY o_cell, d_cell",
    )

    # ---- OD-flow directional asymmetry ----------------------------------------
    # per unordered cell pair with flow both ways or one way:
    # asymmetry = |f_ab − f_ba| / (f_ab + f_ba) — commute-imbalance dial
    # over the same od_matrix law; integers + one division
    def q_od_asym(spark, sf):
        from .operators.trajectory import od_matrix

        od = od_matrix(_dwell_pts(spark, sf), 4, "user_id", "ms", "event_id")
        a = od.where(F.col("o_cell") < F.col("d_cell")).select(
            F.col("o_cell").alias("c1"),
            F.col("d_cell").alias("c2"),
            F.col("n_trips").alias("f_ab"),
        )
        b = od.where(F.col("o_cell") > F.col("d_cell")).select(
            F.col("d_cell").alias("c1"),
            F.col("o_cell").alias("c2"),
            F.col("n_trips").alias("f_ba"),
        )
        j = a.join(b, ["c1", "c2"], "full")
        fab = F.coalesce(F.col("f_ab"), F.lit(0))
        fba = F.coalesce(F.col("f_ba"), F.lit(0))
        return j.select(
            "c1",
            "c2",
            fab.alias("f_ab"),
            fba.alias("f_ba"),
            (
                F.abs(fab - fba).cast("double")
                / (fab + fba).cast("double")
            ).alias("asymmetry"),
        ).orderBy("c1", "c2")

    q["geo_od_asymmetry"] = (
        q_od_asym,
        f"""WITH oda AS (
{od_matrix_sql(_DWELL_PTS_SQL, 4, "user_id", "ms", "event_id")}
),
od_f AS (
  SELECT o_cell AS c1, d_cell AS c2, n_trips AS f_ab
  FROM oda WHERE o_cell < d_cell
),
od_b AS (
  SELECT d_cell AS c1, o_cell AS c2, n_trips AS f_ba
  FROM oda WHERE o_cell > d_cell
)
SELECT coalesce(f.c1, b.c1) AS c1, coalesce(f.c2, b.c2) AS c2,
       CAST(coalesce(f.f_ab, 0) AS BIGINT) AS f_ab,
       CAST(coalesce(b.f_ba, 0) AS BIGINT) AS f_ba,
       CAST(abs(coalesce(f.f_ab, 0) - coalesce(b.f_ba, 0)) AS DOUBLE)
         / CAST(coalesce(f.f_ab, 0) + coalesce(b.f_ba, 0) AS DOUBLE)
         AS asymmetry
FROM od_f f FULL JOIN od_b b ON b.c1 = f.c1 AND b.c2 = f.c2
ORDER BY c1, c2""",
    )

    def q_stay(spark, sf):
        from .operators.trajectory import stay_points

        return stay_points(
            _dwell_pts(spark, sf), 6, 12 * 3_600_000, "user_id", "ms", "event_id"
        ).orderBy("user_id", "enter_ms")

    from .operators.trajectory import stay_points_sql

    q["geo_stay_points"] = (
        q_stay,
        stay_points_sql(
            _DWELL_PTS_SQL, 6, 12 * 3_600_000, "user_id", "ms", "event_id"
        )
        + "\nORDER BY user_id, enter_ms",
    )

    # heading sectors use the per-event continuous hash law (positions
    # vary every ping) so azimuths cover the compass.
    def q_bearing(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.trajectory import bearing_sectors

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
        hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        pts = ev.select(
            "user_id",
            ntz_epoch_ms(F.col("ts")).alias("ms"),
            "event_id",
            ((hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)).alias("lat"),
            ((hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)).alias("lon"),
        )
        return bearing_sectors(
            pts, "user_id", "ms", "event_id", n_sectors=8
        ).orderBy("user_id", "sector")

    from .operators.trajectory import bearing_sectors_sql

    q["geo_bearing_sectors"] = (
        q_bearing,
        bearing_sectors_sql(
            f"""SELECT user_id, epoch_ms(ts) AS ms, event_id,
       ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
       ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon
FROM events""",
            "user_id",
            "ms",
            "event_id",
            n_sectors=8,
        )
        + "\nORDER BY user_id, sector",
    )

    # ---- polygon x polygon bbox overlap join ----------------------------------
    # grid-bucketed index-then-refine on the Spark side (operators/overlap);
    # the DuckDB twin is the brute self-join with the SAME closed-interval
    # predicate on identically-derived double bounds — semantics, not plan.
    def q_dbscan(spark, sf):
        from .operators.cluster import grid_dbscan

        return grid_dbscan(
            _dwell_pts(spark, sf), res=6, min_pts=3, id_col="event_id"
        ).orderBy("id")

    from .operators.cluster import grid_dbscan_sql

    q["geo_grid_dbscan"] = (
        q_dbscan,
        grid_dbscan_sql(_DWELL_PTS_SQL, res=6, min_pts=3, id_expr="event_id")
        + "\nORDER BY id",
    )

    def q_sinuosity(spark, sf):
        from .functions.geo import trajectory_sinuosity

        return trajectory_sinuosity(
            _dwell_pts(spark, sf), "user_id", "ms", "event_id"
        ).orderBy("user_id")

    from .functions.geo import trajectory_sinuosity_sql

    q["geo_sinuosity"] = (
        q_sinuosity,
        trajectory_sinuosity_sql(_DWELL_PTS_SQL, "user_id", "ms", "event_id")
        + "\nORDER BY user_id",
    )

    # ---- convex hull per user (two independent exact-geometry algorithms) -----
    # engine: Andrew monotone chain (Arrow per-key); oracle: brute
    # extreme-point elimination + canonical-cycle shoelace. Input pinned
    # to each user's 25 lexicographically-smallest distinct micro-degree
    # points (bounds the oracle's O(n^4) elimination; documented law).
    def q_hull(spark, sf):
        from pyspark.sql import Window as _W

        from .operators.trajectory import convex_hull_stats

        pts = _dwell_pts(spark, sf).where(F.col("user_id") % 7 == 3)
        ints = pts.select(
            "user_id",
            F.round(F.col("lon") * 10_000).cast("long").alias("x"),
            F.round(F.col("lat") * 10_000).cast("long").alias("y"),
        ).distinct()
        capped = ints.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("user_id").orderBy("x", "y")
            ),
        ).where(F.col("rn") <= 25)
        back = capped.select(
            "user_id",
            (F.col("y").cast("double") / 10_000.0).alias("lat"),
            (F.col("x").cast("double") / 10_000.0).alias("lon"),
        )
        return convex_hull_stats(back, "user_id").orderBy("key")

    q["geo_convex_hull"] = (
        q_hull,
        f"""WITH ch_raw AS (
  SELECT DISTINCT user_id,
         CAST(round(lon * 10000) AS BIGINT) AS x,
         CAST(round(lat * 10000) AS BIGINT) AS y
  FROM ({_DWELL_PTS_SQL}) WHERE user_id % 7 = 3
),
ch_p AS MATERIALIZED (
  SELECT user_id, x, y FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY x, y) AS rn
    FROM ch_raw
  ) WHERE rn <= 25
),
ch_hull AS MATERIALIZED (
  SELECT p.user_id, p.x, p.y
  FROM ch_p p
  WHERE NOT EXISTS (
    SELECT 1
    FROM ch_p a, ch_p b, ch_p c
    WHERE a.user_id = p.user_id AND b.user_id = p.user_id
      AND c.user_id = p.user_id
      AND (a.x, a.y) < (b.x, b.y) AND (b.x, b.y) < (c.x, c.y)
      AND (a.x, a.y) != (p.x, p.y) AND (b.x, b.y) != (p.x, p.y)
      AND (c.x, c.y) != (p.x, p.y)
      AND NOT (
        ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) > 0
         OR (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) > 0
         OR (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) > 0)
        AND
        ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) < 0
         OR (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) < 0
         OR (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) < 0)
      )
      AND p.x BETWEEN least(a.x, b.x, c.x) AND greatest(a.x, b.x, c.x)
      AND p.y BETWEEN least(a.y, b.y, c.y) AND greatest(a.y, b.y, c.y)
  )
),
ch_lr AS (
  SELECT user_id,
         max(CASE WHEN rna = 1 THEN x END) AS lx,
         max(CASE WHEN rna = 1 THEN y END) AS ly,
         max(CASE WHEN rnd = 1 THEN x END) AS rx,
         max(CASE WHEN rnd = 1 THEN y END) AS ry
  FROM (
    SELECT *,
           row_number() OVER (PARTITION BY user_id ORDER BY x, y) AS rna,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY x DESC, y DESC) AS rnd
    FROM ch_hull
  ) GROUP BY user_id
),
ch_cyc AS (
  SELECT h.user_id, h.x, h.y,
         row_number() OVER (
           PARTITION BY h.user_id
           ORDER BY
             CASE WHEN (l.rx - l.lx) * (h.y - l.ly)
                       - (l.ry - l.ly) * (h.x - l.lx) <= 0
                  THEN 0 ELSE 1 END,
             CASE WHEN (l.rx - l.lx) * (h.y - l.ly)
                       - (l.ry - l.ly) * (h.x - l.lx) <= 0
                  THEN h.x ELSE -h.x END,
             CASE WHEN (l.rx - l.lx) * (h.y - l.ly)
                       - (l.ry - l.ly) * (h.x - l.lx) <= 0
                  THEN h.y ELSE -h.y END
         ) AS seq,
         count(*) OVER (PARTITION BY h.user_id) AS nh
  FROM ch_hull h JOIN ch_lr l ON l.user_id = h.user_id
),
ch_edges AS (
  SELECT a.user_id,
         a.x * b.y - b.x * a.y AS term
  FROM ch_cyc a
  JOIN ch_cyc b
    ON b.user_id = a.user_id
   AND b.seq = CASE WHEN a.seq = a.nh THEN 1 ELSE a.seq + 1 END
  WHERE a.nh >= 3
),
ch_area AS (
  SELECT user_id, abs(sum(term)) AS area2 FROM ch_edges GROUP BY user_id
),
ch_np AS (SELECT user_id, count(*) AS n_points FROM ch_p GROUP BY user_id),
ch_nh AS (SELECT user_id, count(*) AS n_hull FROM ch_hull GROUP BY user_id)
SELECT CAST(np.user_id AS VARCHAR) AS key, np.n_points, nh.n_hull,
       CAST(coalesce(ar.area2, 0) AS BIGINT) AS hull_area2
FROM ch_np np
JOIN ch_nh nh ON nh.user_id = np.user_id
LEFT JOIN ch_area ar ON ar.user_id = np.user_id
ORDER BY key""",
    )

    # ---- territory size (distinct res-7 cells per user) -----------------------
    def q_territory(spark, sf):
        cells = (
            _dwell_pts(spark, sf)
            .select(
                "user_id", cell_expr("lat", "lon", 7).alias("cell")
            )
            .distinct()
        )
        tot = cells.select("cell").distinct().count()
        return (
            cells.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_cells"))
            .select(
                "user_id",
                "n_cells",
                F.lit(tot).alias("corpus_cells"),
                (
                    F.col("n_cells").cast("double") / F.lit(float(tot))
                ).alias("territory_share"),
            )
            .orderBy("user_id")
        )

    q["geo_territory_cells"] = (
        q_territory,
        f"""WITH tc2_c AS (
  SELECT DISTINCT user_id, {cell_sql('lat', 'lon', 7)} AS cell
  FROM ({_DWELL_PTS_SQL})
),
tc2_t AS (SELECT count(DISTINCT cell) AS t FROM tc2_c)
SELECT user_id, count(*) AS n_cells,
       (SELECT t FROM tc2_t) AS corpus_cells,
       CAST(count(*) AS DOUBLE) / CAST((SELECT t FROM tc2_t) AS DOUBLE)
         AS territory_share
FROM tc2_c GROUP BY user_id
ORDER BY user_id""",
    )

    def q_speed_hist(spark, sf):
        from .operators.trajectory import speed_histogram

        return speed_histogram(_dwell_pts(spark, sf))

    from .operators.trajectory import speed_histogram_sql

    q["geo_speed_histogram"] = (
        q_speed_hist,
        speed_histogram_sql(_DWELL_PTS_SQL),
    )

    def q_hausdorff(spark, sf):
        from .operators.trajectory import hausdorff_pairs

        pts = _dwell_pts(spark, sf).where(F.col("user_id") % 7 == 3)
        keys = pts.select(F.col("user_id").alias("k")).distinct()
        pairs = (
            keys.select(F.col("k").alias("k1"))
            .join(keys.select(F.col("k").alias("k2")))
            .where(F.col("k1") < F.col("k2"))
        )
        return hausdorff_pairs(pts, pairs, "user_id").orderBy("k1", "k2")

    from .operators.trajectory import hausdorff_pairs_sql

    _HD_PTS_SQL = f"SELECT * FROM ({_DWELL_PTS_SQL}) WHERE user_id % 7 = 3"
    q["geo_hausdorff_pairs"] = (
        q_hausdorff,
        hausdorff_pairs_sql(
            _HD_PTS_SQL,
            f"""SELECT a.k AS k1, b.k AS k2
  FROM (SELECT DISTINCT user_id AS k FROM ({_HD_PTS_SQL})) a,
       (SELECT DISTINCT user_id AS k FROM ({_HD_PTS_SQL})) b
  WHERE a.k < b.k""",
            "user_id",
        )
        + "\nORDER BY k1, k2",
    )

    def q_bbox_overlap(spark, sf):
        from .operators.overlap import bbox_overlap_join

        su = spark.read.parquet(f"{sf}/supplier.parquet")
        k = F.col("s_suppkey").cast("long")
        hlat = (k * F.lit(_P1)) % F.lit(_M)
        hlon = (k * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        cy = (hlat % F.lit(200_000)) / F.lit(10_000.0) - F.lit(10.0)
        cx = (hlon % F.lit(400_000)) / F.lit(10_000.0) - F.lit(20.0)
        h = (k % F.lit(5)).cast("double") / F.lit(2.0) + F.lit(1.0)
        w = (k % F.lit(7)).cast("double") / F.lit(2.0) + F.lit(1.5)
        rects = su.select(
            k.alias("polygon_id"),
            (cy - h).alias("s"),
            (cy + h).alias("n"),
            (cx - w).alias("west"),
            (cx + w).alias("east"),
        )
        return bbox_overlap_join(rects, grid_deg=8.0).orderBy("id_a", "id_b")

    _SUPP_RECTS_SQL = f"""
SELECT CAST(s_suppkey AS BIGINT) AS polygon_id,
       ((((CAST(s_suppkey AS BIGINT) * {_P1}) % {_M}) % 200000) / 10000.0) - 10.0
         - ((CAST(CAST(s_suppkey AS BIGINT) % 5 AS DOUBLE) / 2.0) + 1.0) AS s,
       ((((CAST(s_suppkey AS BIGINT) * {_P1}) % {_M}) % 200000) / 10000.0) - 10.0
         + ((CAST(CAST(s_suppkey AS BIGINT) % 5 AS DOUBLE) / 2.0) + 1.0) AS n,
       ((((CAST(s_suppkey AS BIGINT) * {_P2} + {_O2}) % {_M}) % 400000) / 10000.0) - 20.0
         - ((CAST(CAST(s_suppkey AS BIGINT) % 7 AS DOUBLE) / 2.0) + 1.5) AS west,
       ((((CAST(s_suppkey AS BIGINT) * {_P2} + {_O2}) % {_M}) % 400000) / 10000.0) - 20.0
         + ((CAST(CAST(s_suppkey AS BIGINT) % 7 AS DOUBLE) / 2.0) + 1.5) AS east
FROM supplier
"""

    q["geo_bbox_overlap_pairs"] = (
        q_bbox_overlap,
        f"""WITH b AS ({_SUPP_RECTS_SQL})
SELECT a.polygon_id AS id_a, c.polygon_id AS id_b
FROM b a JOIN b c ON a.polygon_id < c.polygon_id
 AND a.s <= c.n AND c.s <= a.n AND a.west <= c.east AND c.west <= a.east
ORDER BY id_a, id_b""",
    )

    # ---- OLAP rollup (lang × source hierarchy with subtotals) ----------------
    # Spark `rollup` == SQL ROLLUP grouping sets; NULL marks the subtotal
    # levels identically in both engines. Integer aggregates only.
    def q_rollup(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        return (
            d.rollup("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("chars"),
                F.min("doc_id").alias("min_id"),
            )
            .orderBy(
                F.col("lang").asc_nulls_first(), F.col("source").asc_nulls_first()
            )
        )

    q["corpus_rollup_stats"] = (
        q_rollup,
        """SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       min(doc_id) AS min_id
FROM documents GROUP BY ROLLUP (lang, source)
ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""",
    )

    # ---- per-lang rank analytics (ntile quartiles + percent_rank) ------------
    # percent_rank = (rank-1)/(n-1): a single division of exact integers —
    # bit-identical cross-engine (no reassociation anywhere). ntile's
    # bucket law (floor division with remainder spread) matches between
    # Spark and DuckDB; ties broken by doc_id for a total order.
    def q_quality_ranks(spark, sf):
        from pyspark.sql.window import Window

        d = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        w = Window.partitionBy("lang").orderBy(
            F.col("n_chars").asc(), F.col("doc_id").asc()
        )
        return d.select(
            "doc_id",
            "lang",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
        ).orderBy("doc_id")

    q["corpus_quality_ranks"] = (
        q_quality_ranks,
        """SELECT doc_id, lang,
       ntile(4) OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)
         AS quartile,
       percent_rank() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)
         AS pr
FROM documents
ORDER BY doc_id""",
    )

    # ---- HLL distinct sketch (per-source distinct tokens, bit-exact twin) ----
    def q_hll(spark, sf):
        from .functions.sketch import hll_distinct
        from .functions.text import tokens

        d = spark.read.parquet(f"{sf}/documents.parquet")
        rows = d.select("source", F.explode(tokens("text")).alias("tok"))
        return hll_distinct(rows, "tok", "source", p=6).orderBy("source")

    from .functions.sketch import hll_distinct_sql
    from .functions.text import tokens_sql

    q["corpus_hll_distinct_tokens"] = (
        q_hll,
        hll_distinct_sql(
            f"SELECT source, unnest({tokens_sql('text')}) AS tok FROM documents",
            key_expr="tok",
            group_expr="source",
            p=6,
        )
        + "\nORDER BY source",
    )

    # ---- KMV bottom-k sketch (cross-language shingle-set overlap) ------------
    # HLL can't answer set INTERSECTION without inclusion-exclusion error
    # stacking; the KMV merged-sketch Jaccard does it in one law. Keys are
    # 3-gram shingles (3k-9k distinct per lang at sf0.01, true en-fr
    # Jaccard ~0.11), so k=128 sketches genuinely saturate and the h_k
    # estimation path is exercised — not just the exact small-set path.
    def q_kmv(spark, sf):
        from .functions.sketch import kmv_jaccard_pairs
        from .functions.text import shingles

        d = spark.read.parquet(f"{sf}/documents.parquet")
        rows = d.select("lang", F.explode(shingles("text", 3)).alias("sh"))
        return kmv_jaccard_pairs(rows, "sh", "lang", k=128).orderBy(
            "g_a", "g_b"
        )

    from .functions.sketch import kmv_jaccard_pairs_sql
    from .functions.text import shingles_sql

    q["corpus_kmv_lang_jaccard"] = (
        q_kmv,
        kmv_jaccard_pairs_sql(
            f"SELECT lang, unnest({shingles_sql('text', 3)}) AS sh "
            "FROM documents",
            key_expr="sh",
            group_expr="lang",
            k=128,
        )
        + "\nORDER BY 1, 2",
    )

    # ---- sliding-window document chunking (RAG / embedding prep) -------------
    def q_chunk_docs(spark, sf):
        from .functions.packing import chunk_documents

        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        return chunk_documents(d, chunk_tokens=40, overlap=8).orderBy(
            "doc_id", "chunk_idx"
        )

    from .functions.packing import chunk_documents_sql

    q["corpus_chunk_docs"] = (
        q_chunk_docs,
        chunk_documents_sql("SELECT doc_id, text FROM documents", 40, 8)
        + "\nORDER BY doc_id, chunk_idx",
    )

    # ---- per-host quota sampling (domain cap before training mix) ------------
    def q_quota(spark, sf):
        from .functions.sampling import quota_sample

        d = spark.read.parquet(f"{sf}/documents.parquet").select("source", "doc_id")
        return quota_sample(d, "source", "doc_id", k=7).orderBy("source", "doc_id")

    from .functions.sampling import quota_sample_sql

    q["sample_host_quota"] = (
        q_quota,
        f"""SELECT source, doc_id FROM documents
QUALIFY {quota_sample_sql('source', 'doc_id', 7)}
ORDER BY source, doc_id""",
    )

    # ---- host-graph PageRank (fixed 5 iterations, unrolled-CTE twin) ---------
    # deterministic host link graph derived from the documents table: host
    # h(doc) = trailing integer of `source`; each doc emits 3 out-links to
    # (h + j*((doc_id % 13)+1)) % n_hosts — a multigraph with skewed
    # in-degrees and (for small host counts) self-loops, same law on both
    # engines. Ranks compared at round(pr, 9): float sums reassociate
    # between engines, everything else is op-for-op identical IEEE.
    def q_pagerank(spark, sf):
        from .operators.graph import pagerank

        d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "source")
        nh = d.select(F.countDistinct("source").alias("nh"))
        e = (
            d.withColumn(
                "h", F.regexp_extract("source", "([0-9]+)$", 1).cast("long")
            )
            .crossJoin(F.broadcast(nh))
            .select(
                "h",
                "nh",
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
                "doc_id",
            )
            .select(
                F.col("h").alias("src"),
                (
                    (F.col("h") + F.col("j") * ((F.col("doc_id") % 13) + 1))
                    % F.col("nh")
                ).alias("dst"),
            )
        )
        pr = pagerank(e, iters=5, damping=0.85)
        return pr.select(
            F.col("id").alias("host"), F.round("pr", 9).alias("pr")
        ).orderBy("host")

    from .operators.graph import pagerank_sql

    _pr_edges_sql = """SELECT h AS src,
       (h + j * ((doc_id % 13) + 1))
         % (SELECT count(DISTINCT source) FROM documents) AS dst
FROM (SELECT doc_id,
             CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) AS h
      FROM documents),
     (SELECT unnest([1, 2, 3]) AS j)"""
    q["hosts_pagerank"] = (
        q_pagerank,
        f"SELECT id AS host, round(pr, 9) AS pr FROM (\n"
        f"{pagerank_sql(_pr_edges_sql, iters=5, damping=0.85)}\n"
        f") ORDER BY host",
    )

    def _host_edges(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "source"
        )
        nh = d.select(F.countDistinct("source").alias("nh"))
        return (
            d.withColumn(
                "h", F.regexp_extract("source", "([0-9]+)$", 1).cast("long")
            )
            .crossJoin(F.broadcast(nh))
            .select(
                "h",
                "nh",
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
                "doc_id",
            )
            .select(
                F.col("h").alias("src"),
                (
                    (F.col("h") + F.col("j") * ((F.col("doc_id") % 13) + 1))
                    % F.col("nh")
                ).alias("dst"),
            )
        )

    # ---- HITS hubs/authorities over the same host graph -----------------------
    def q_hits(spark, sf):
        from .operators.graph import hits

        out = hits(_host_edges(spark, sf), iters=5)
        return out.select(
            F.col("id").alias("host"),
            F.round("hub", 9).alias("hub"),
            F.round("authority", 9).alias("authority"),
        ).orderBy("host")

    from .operators.graph import hits_sql

    q["hosts_hits"] = (
        q_hits,
        f"SELECT id AS host, round(hub, 9) AS hub, "
        f"round(authority, 9) AS authority FROM (\n"
        f"{hits_sql(_pr_edges_sql, iters=5)}\n"
        f") ORDER BY host",
    )

    # ---- reciprocity of the host graph ----------------------------------------
    def q_reciprocity(spark, sf):
        from .operators.graph import reciprocity

        return reciprocity(_host_edges(spark, sf))

    from .operators.graph import reciprocity_sql

    q["hosts_reciprocity"] = (
        q_reciprocity,
        reciprocity_sql(_pr_edges_sql),
    )

    # ---- personalized PageRank (topic-sensitive trust from seed hosts) -------
    # same host graph as hosts_pagerank, restart mass pinned to hosts
    # {0..3}: rank decays with link distance from the trusted seeds.
    def q_ppr(spark, sf):
        from .operators.graph import personalized_pagerank

        d = spark.read.parquet(f"{sf}/documents.parquet")
        nh = d.select(F.countDistinct("source").alias("nh"))
        e = (
            d.select(
                F.regexp_extract("source", "([0-9]+)$", 1)
                .cast("long")
                .alias("h"),
                "doc_id",
            )
            .crossJoin(F.broadcast(nh))
            .select(
                "h",
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
                "doc_id",
                "nh",
            )
            .select(
                F.col("h").alias("src"),
                (
                    (F.col("h") + F.col("j") * ((F.col("doc_id") % 13) + 1))
                    % F.col("nh")
                ).alias("dst"),
            )
        )
        seeds = spark.createDataFrame([(i,) for i in range(4)], "id long")
        pr = personalized_pagerank(e, seeds, iters=5, damping=0.85)
        return pr.select(
            F.col("id").alias("host"), F.round("pr", 9).alias("pr")
        ).orderBy("host")

    from .operators.graph import personalized_pagerank_sql

    q["hosts_ppr_seeds"] = (
        q_ppr,
        "SELECT id AS host, round(pr, 9) AS pr FROM (\n"
        + personalized_pagerank_sql(
            _pr_edges_sql,
            "SELECT unnest([0, 1, 2, 3]) AS id",
            iters=5,
            damping=0.85,
        )
        + "\n) ORDER BY host",
    )

    # ---- OD-flow centrality: WEIGHTED PageRank over the trip graph -----------
    # composition: od_matrix (dwell world, res 4) emits tile->tile trip
    # counts; weighted PageRank splits rank along flow volume — which
    # tiles are central in the MOVEMENT network, not just dense.
    def q_od_pagerank(spark, sf):
        from .operators.graph import pagerank
        from .operators.trajectory import od_matrix

        flows = od_matrix(
            _dwell_pts(spark, sf), 4, "user_id", "ms", "event_id"
        ).select(
            F.col("o_cell").alias("src"),
            F.col("d_cell").alias("dst"),
            F.col("n_trips").alias("w"),
        )
        pr = pagerank(flows, iters=5, damping=0.85, weight="w")
        return pr.select(
            F.col("id").alias("cell"), F.round("pr", 9).alias("pr")
        ).orderBy("cell")

    from .operators.trajectory import od_matrix_sql as _od_sql

    q["geo_od_pagerank"] = (
        q_od_pagerank,
        "SELECT id AS cell, round(pr, 9) AS pr FROM (\n"
        + pagerank_sql(
            "SELECT o_cell AS src, d_cell AS dst, n_trips AS w FROM ("
            + _od_sql(_DWELL_PTS_SQL, 4, "user_id", "ms", "event_id")
            + ")",
            iters=5,
            damping=0.85,
            weighted=True,
        )
        + "\n) ORDER BY cell",
    )

    # ---- rolling event-time window stats (trailing 1h per user) --------------
    # sums reassociate between Spark's sliding-frame executor and DuckDB's
    # window engine, so sum compares at round(x, 9); counts/min/max exact.
    def q_rolling(spark, sf):
        from .operators.rolling import rolling_stats

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "ts", "value"
        )
        out = rolling_stats(ev, "user_id", "ts", "value", window_ms=3_600_000)
        return out.select(
            "user_id",
            "ts_ms",
            "n_window",
            F.round("sum_window", 9).alias("sum_w"),
            "min_window",
            "max_window",
        ).orderBy("user_id", "ts_ms", "n_window")

    from .operators.rolling import rolling_stats_sql

    q["events_rolling_stats"] = (
        q_rolling,
        f"""SELECT user_id, ts_ms, n_window, round(sum_window, 9) AS sum_w,
       min_window, max_window
FROM (
{rolling_stats_sql("SELECT user_id, epoch_ms(ts) AS ms, value FROM events",
                   "user_id", "ms", "value", 3_600_000)}
)
ORDER BY user_id, ts_ms, n_window""",
    )

    # ---- Markov stationary distribution of the event-type chain ---------------
    # = weighted PageRank at damping 1.0 over the transition-count edges:
    # x' = Σ_u x_u·w/Σw + dangling/N is exactly the chain's power step with
    # uniform dangling redistribution; 8 fixed rounds, compared at round 9
    def q_stationary(spark, sf):
        from .operators.graph import pagerank
        from .operators.rolling import transition_counts

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "ts", "event_type", "event_id"
        )
        tc = transition_counts(ev, "user_id", "ts", "event_type", "event_id")
        e = tc.select(
            F.col("from_type").alias("src"),
            F.col("to_type").alias("dst"),
            F.col("n").alias("w"),
        )
        pr = pagerank(e, weight="w", damping=1.0, iters=8)
        return pr.select(
            F.col("id").alias("event_type"), F.round("pr", 9).alias("p")
        ).orderBy("event_type")

    from .operators.rolling import transition_counts_sql

    q["events_markov_stationary"] = (
        q_stationary,
        "SELECT id AS event_type, round(pr, 9) AS p FROM (\n"
        + pagerank_sql(
            "SELECT from_type AS src, to_type AS dst, n AS w FROM (\n"
            + transition_counts_sql(
                "SELECT user_id, epoch_ms(ts) AS ms, event_type, event_id "
                "FROM events",
                "user_id",
                "ms",
                "event_type",
                "event_id",
            )
            + "\n)",
            iters=8,
            damping=1.0,
            weighted=True,
        )
        + "\n) ORDER BY event_type",
    )

    # ---- entropy rate of the event-type chain ---------------------------------
    # H = -Σ_i π_i Σ_j p_ij ln p_ij over the transition matrix, with π the
    # registered stationary law (round 9). The double sum folds LEFT-TO-RIGHT
    # over the (from, to)-sorted term list on BOTH engines (array_sort +
    # aggregate vs list(ORDER BY) + list_reduce) — bit-identical, no
    # reassociation anywhere.
    def q_chain_entropy(spark, sf):
        from .operators.graph import pagerank
        from .operators.rolling import transition_counts

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "ts", "event_type", "event_id"
        )
        tc = transition_counts(ev, "user_id", "ts", "event_type", "event_id")
        pr = pagerank(
            tc.select(
                F.col("from_type").alias("src"),
                F.col("to_type").alias("dst"),
                F.col("n").alias("w"),
            ),
            weight="w",
            damping=1.0,
            iters=8,
        ).select(F.col("id").alias("from_type"), F.round("pr", 9).alias("pi"))
        rowsum = tc.groupBy("from_type").agg(F.sum("n").alias("rs"))
        terms = (
            tc.join(rowsum, "from_type")
            .join(pr, "from_type")
            .select(
                "from_type",
                "to_type",
                (
                    F.col("pi")
                    * (F.col("n").cast("double") / F.col("rs").cast("double"))
                    * F.log(
                        F.col("n").cast("double") / F.col("rs").cast("double")
                    )
                ).alias("term"),
            )
        )
        return terms.agg(
            F.countDistinct("from_type").alias("n_states"),
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(
                -F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("from_type", "to_type", "term")
                            )
                        ),
                        lambda s: s["term"],
                    ),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ),
                9,
            ).alias("entropy_nats"),
        )

    q["events_chain_entropy"] = (
        q_chain_entropy,
        f"""WITH ce_tc AS (
{transition_counts_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, event_type, event_id FROM events",
            "user_id", "ms", "event_type", "event_id")}
),
ce_pi AS (
  SELECT id AS from_type, round(pr, 9) AS pi FROM (
{pagerank_sql("SELECT from_type AS src, to_type AS dst, n AS w FROM ce_tc",
              iters=8, damping=1.0, weighted=True)}
  )
),
ce_rs AS (SELECT from_type, sum(n) AS rs FROM ce_tc GROUP BY from_type),
ce_t AS (
  SELECT t.from_type, t.to_type,
         p.pi * (CAST(t.n AS DOUBLE) / CAST(r.rs AS DOUBLE))
              * ln(CAST(t.n AS DOUBLE) / CAST(r.rs AS DOUBLE)) AS term
  FROM ce_tc t JOIN ce_rs r ON r.from_type = t.from_type
  JOIN ce_pi p ON p.from_type = t.from_type
)
SELECT count(DISTINCT from_type) AS n_states,
       count(*) AS n_transitions,
       round(-list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list(term ORDER BY from_type, to_type)),
          (acc, t) -> acc + t
        ), 9) AS entropy_nats
FROM ce_t""",
    )

    # ---- first-order event-transition matrix (Markov counts) -----------------
    def q_transitions(spark, sf):
        from .operators.rolling import transition_counts

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "ts", "event_type", "event_id"
        )
        return transition_counts(
            ev, "user_id", "ts", "event_type", "event_id"
        ).orderBy("from_type", "to_type")

    from .operators.rolling import transition_counts_sql

    q["events_transition_matrix"] = (
        q_transitions,
        transition_counts_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, event_type, event_id FROM events",
            "user_id",
            "ms",
            "event_type",
            "event_id",
        )
        + "\nORDER BY from_type, to_type",
    )

    # ---- host-suffix blocklist (domain-ban filter, label-boundary exact) -----
    # planted hosts: blocked apex (tracker.example), blocked subdomain
    # (sub.ads.tracker.example — caught by the SUFFIX law), a lookalike
    # that string-endswith would wrongly drop (nottracker.example — must
    # SURVIVE), a second blocked apex (spam.net), and a clean host.
    _BLOCK = ["tracker.example", "spam.net"]

    def q_blocklist(spark, sf):
        from .functions.web import host_blocklist_filter

        p = _pages_for(spark, sf).select("url")
        n = F.regexp_extract("url", "([0-9]{6})$", 1).cast("long")
        k = F.lpad(n.cast("string"), 6, "0")
        host = (
            F.when(n % 5 == 0, F.lit("tracker.example"))
            .when(n % 5 == 1, F.lit("sub.ads.tracker.example"))
            .when(n % 5 == 2, F.lit("nottracker.example"))
            .when(n % 5 == 3, F.lit("spam.net"))
            .otherwise(F.lit("good.example"))
        )
        enriched = p.select(
            F.concat(F.lit("https://"), host, F.lit("/p/"), k).alias("url")
        )
        return host_blocklist_filter(enriched, _BLOCK).orderBy("url")

    from .functions.web import host_blocklist_sql

    _bl_enr = f"""SELECT 'https://' ||
  (CASE CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) % 5
     WHEN 0 THEN 'tracker.example'
     WHEN 1 THEN 'sub.ads.tracker.example'
     WHEN 2 THEN 'nottracker.example'
     WHEN 3 THEN 'spam.net'
     ELSE 'good.example' END)
  || '/p/' || lpad(CAST(CAST(regexp_extract(url, '([0-9]{{6}})$', 1) AS BIGINT) AS VARCHAR), 6, '0') AS url
FROM read_parquet('{pages_path}')"""
    q["pages_host_blocklist"] = (
        q_blocklist,
        f"""WITH enr AS ({_bl_enr})
SELECT url FROM enr WHERE {host_blocklist_sql('url', _BLOCK)}
ORDER BY url""",
    )

    # ---- IDW interpolation surface ---------------------------------------------
    # integer metric (id % 997) so the quantized-weight sums are exact
    # BIGINTs; the single final division is bit-exact cross-engine.
    def q_idw(spark, sf):
        from .operators.tiling import idw_surface

        pts = _pts(spark, sf).select(
            (F.col("id") % F.lit(997)).alias("v"), "lat", "lon"
        )
        return idw_surface(pts, res=5, k=1).orderBy("cell")

    from .operators.tiling import idw_surface_sql

    q["tiles_idw_surface"] = (
        q_idw,
        idw_surface_sql(
            f"SELECT id % 997 AS v, lat, lon FROM ({_PTS_SQL})",
            res=5,
            k=1,
        )
        + "\nORDER BY cell",
    )

    # ---- reverse geocoding: nearest nation-derived region box -------------------
    def q_revgeo(spark, sf):
        from .operators.mapmatch import reverse_geocode

        na = spark.read.parquet(f"{sf}/nation.parquet")
        k = F.col("n_nationkey").cast("long")
        cy = ((k * F.lit(_P1) + F.lit(11)) % F.lit(_M) % F.lit(1_500_000)) / F.lit(
            10_000.0
        ) - F.lit(75.0)
        cx = ((k * F.lit(_P2) + F.lit(17)) % F.lit(_M) % F.lit(3_400_000)) / F.lit(
            10_000.0
        ) - F.lit(170.0)
        hy = ((k * F.lit(7_919) + F.lit(3)) % F.lit(100)) / F.lit(10.0) + F.lit(2.0)
        hx = ((k * F.lit(104_729) + F.lit(7)) % F.lit(100)) / F.lit(10.0) + F.lit(
            2.0
        )
        regions = na.select(
            k.alias("region_id"),
            (cy - hy).alias("s"),
            (cy + hy).alias("n"),
            (cx - hx).alias("west"),
            (cx + hx).alias("east"),
        )
        return reverse_geocode(_pts(spark, sf), regions).orderBy("id")

    from .operators.mapmatch import reverse_geocode_sql

    _RG_REGIONS = f"""SELECT k AS region_id,
       cy - hy AS s, cy + hy AS n, cx - hx AS west, cx + hx AS east
FROM (
  SELECT k,
         ((((k * {_P1} + 11) % {_M}) % 1500000) / 10000.0) - 75.0 AS cy,
         ((((k * {_P2} + 17) % {_M}) % 3400000) / 10000.0) - 170.0 AS cx,
         (((k * 7919 + 3) % 100) / 10.0) + 2.0 AS hy,
         (((k * 104729 + 7) % 100) / 10.0) + 2.0 AS hx
  FROM (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
)"""
    q["geo_reverse_geocode"] = (
        q_revgeo,
        reverse_geocode_sql(_PTS_SQL, _RG_REGIONS) + "\nORDER BY id",
    )

    # ---- quadtree compaction of an occupied-cell cover -------------------------
    def q_compact(spark, sf):
        from .operators.tiling import compact_cells

        cells = _pts(spark, sf).select(cell_expr("lat", "lon", 6).alias("cell"))
        return compact_cells(cells, 6, 2).orderBy("cell")

    from .operators.tiling import compact_cells_sql

    q["tiles_compact_cover"] = (
        q_compact,
        compact_cells_sql(
            f"SELECT {cell_sql('lat', 'lon', 6)} AS cell FROM ({_PTS_SQL})", 6, 2
        )
        + "\nORDER BY cell",
    )

    # ---- Getis-Ord Gi* hot/cold spots (exact integer significance) ---------------
    # a planted "metro" block (lat/lon in [0,30)) carries 10x point
    # weight so the field has genuine hot structure, not just uniform
    # noise with cold clipped edges
    def q_hotspots(spark, sf):
        from .operators.tiling import hotspots_gi

        wgt = F.when(
            (F.col("lat") >= 0)
            & (F.col("lat") < 30)
            & (F.col("lon") >= 0)
            & (F.col("lon") < 30),
            F.lit(10),
        ).otherwise(F.lit(1))
        tiles = (
            _pts(spark, sf)
            .groupBy(cell_expr("lat", "lon", 5).alias("cell"))
            .agg(F.sum(wgt).alias("n_points"))
        )
        return hotspots_gi(tiles, 5, k=1, z=2).orderBy("cell")

    from .operators.tiling import hotspots_gi_sql

    _HS_TILES = (
        f"SELECT {cell_sql('lat', 'lon', 5)} AS cell, "
        f"sum(CASE WHEN lat >= 0 AND lat < 30 AND lon >= 0 AND lon < 30 "
        f"THEN 10 ELSE 1 END) AS n_points "
        f"FROM ({_PTS_SQL}) GROUP BY 1"
    )
    q["tiles_hotspots"] = (
        q_hotspots,
        hotspots_gi_sql(_HS_TILES, 5, k=1, z=2) + "\nORDER BY cell",
    )

    # ---- Web-Mercator slippy z/x/y export tiling (interop standard) -----------
    def q_slippy(spark, sf):
        from .functions.cells import slippy_xy

        x, y = slippy_xy("lat", "lon", 8)
        return (
            _pts(spark, sf)
            .select(x.alias("x"), y.alias("y"))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("n_points"))
            .orderBy("x", "y")
        )

    from .functions.cells import slippy_xy_sql

    _sx, _sy = slippy_xy_sql("lat", "lon", 8)
    q["tiles_slippy_z8"] = (
        q_slippy,
        f"""SELECT {_sx} AS x, {_sy} AS y, count(*) AS n_points
FROM ({_PTS_SQL})
GROUP BY 1, 2
ORDER BY x, y""",
    )

    # ---- join-count statistics over the dominant-event-type tile layer ---------
    def q_join_counts(spark, sf):
        from pyspark.sql import Window as _W

        from .operators.tiling import join_counts

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
        hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        lat = (hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)
        lon = (hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)
        per = (
            ev.select(
                cell_expr(lat, lon, 4).alias("cell"),
                F.col("event_type").alias("cls"),
            )
            .groupBy("cell", "cls")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        dom = (
            per.withColumn(
                "rn",
                F.row_number().over(
                    _W.partitionBy("cell").orderBy(
                        F.desc("n"), F.asc("cls")
                    )
                ),
            )
            .where(F.col("rn") == 1)
            .select("cell", "cls")
        )
        return join_counts(dom, res=4)

    from .operators.tiling import join_counts_sql

    _DOM_TILES_SQL = f"""SELECT cell, cls FROM (
  SELECT cell, cls, row_number() OVER (
           PARTITION BY cell ORDER BY n DESC, cls ASC) AS rn
  FROM (
    SELECT {cell_sql('lat', 'lon', 4)} AS cell, event_type AS cls,
           count(*) AS n
    FROM (
      SELECT event_type,
             ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
             ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon
      FROM events
    ) GROUP BY 1, 2
  )
) WHERE rn = 1"""
    q["tiles_join_counts"] = (
        q_join_counts,
        join_counts_sql(_DOM_TILES_SQL, res=4),
    )

    # ---- grid occupancy by resolution (index-sizing table) --------------------
    # occupied cells, occupancy share and max cell load for res 3..8 —
    # the table that picks an index resolution before building tile
    # layers; pure integers + terminal divisions
    def q_occupancy(spark, sf):
        pts = _pts(spark, sf)
        out = None
        for r in range(3, 9):
            cells = pts.select(cell_expr("lat", "lon", r).alias("cell"))
            row = (
                cells.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(
                    F.lit(r).alias("res"),
                    F.count(F.lit(1)).alias("occupied_cells"),
                    F.lit(1 << (2 * r)).alias("total_cells"),
                    F.max("n").alias("max_cell_load"),
                    (
                        F.count(F.lit(1)).cast("double")
                        / F.lit(float(1 << (2 * r)))
                    ).alias("occupancy"),
                )
            )
            out = row if out is None else out.unionByName(row)
        return out.orderBy("res")

    _OCC_ROWS = "\nUNION ALL\n".join(
        f"""SELECT {r} AS res, count(*) AS occupied_cells,
       {1 << (2 * r)} AS total_cells, max(n) AS max_cell_load,
       CAST(count(*) AS DOUBLE) / CAST({float(1 << (2 * r))!r} AS DOUBLE)
         AS occupancy
FROM (SELECT {cell_sql('lat', 'lon', r)} AS cell, count(*) AS n
      FROM ({_PTS_SQL}) GROUP BY 1)"""
        for r in range(3, 9)
    )
    q["tiles_occupancy_by_res"] = (
        q_occupancy,
        f"SELECT * FROM (\n{_OCC_ROWS}\n) ORDER BY res",
    )

    # ---- spatial concentration: Gini over the res-5 tile mass -----------------
    # the skew dial for shuffle planning: how unevenly do points load
    # tiles (the salting decision input) — reuses the pinned-rank Gini law
    def q_tile_gini(spark, sf):
        from .operators.rolling import gini_concentration

        cells = _pts(spark, sf).select(
            cell_expr("lat", "lon", 5).alias("cell")
        )
        return gini_concentration(cells, key_col="cell")

    from .operators.rolling import gini_concentration_sql as _gini_sql

    q["tiles_cell_gini"] = (
        q_tile_gini,
        _gini_sql(
            f"SELECT {cell_sql('lat', 'lon', 5)} AS cell FROM ({_PTS_SQL})",
            "cell",
        ),
    )

    # ---- global spatial autocorrelation over the same weighted layer ------------
    # the metro 10x box makes neighboring cells co-vary → I decisively > 0
    def q_morans(spark, sf):
        from .operators.tiling import morans_i

        wgt = F.when(
            (F.col("lat") >= 0)
            & (F.col("lat") < 30)
            & (F.col("lon") >= 0)
            & (F.col("lon") < 30),
            F.lit(10),
        ).otherwise(F.lit(1))
        tiles = (
            _pts(spark, sf)
            .groupBy(cell_expr("lat", "lon", 5).alias("cell"))
            .agg(F.sum(wgt).alias("n_points"))
        )
        return morans_i(tiles, 5)

    from .operators.tiling import morans_i_sql

    q["tiles_morans_i"] = (q_morans, morans_i_sql(_HS_TILES, 5))

    # ---- space-time Gi* (emerging hotspot over (cell, day) voxels) ---------------
    # a metro block that is only hot during one mid-January week: the
    # voxel field has genuine SPATIOTEMPORAL structure, not just spatial.
    def q_st_hotspots(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.tiling import st_hotspots_gi

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
        hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        lat = (hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)
        lon = (hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)
        day = (ntz_epoch_ms(F.col("ts")) / F.lit(86_400_000)).cast("long")
        metro = (lat >= 0) & (lat < 30) & (lon >= 0) & (lon < 30)
        spike = (day >= 19_732) & (day <= 19_738)
        wgt = F.when(metro & spike, F.lit(10)).otherwise(F.lit(1))
        voxels = (
            ev.select(
                cell_expr(lat, lon, 4).alias("cell"),
                day.alias("tbin"),
                wgt.alias("w"),
            )
            .groupBy("cell", "tbin")
            .agg(F.sum("w").alias("n_points"))
        )
        return st_hotspots_gi(voxels, 4, k=1, t_k=1, z=3).orderBy(
            "cell", "tbin"
        )

    from .operators.tiling import st_hotspots_gi_sql

    _STH_VOX = f"""SELECT {cell_sql('lat', 'lon', 4)} AS cell,
       epoch_ms(ts) // 86400000 AS tbin,
       sum(CASE WHEN lat >= 0 AND lat < 30 AND lon >= 0 AND lon < 30
                 AND epoch_ms(ts) // 86400000 BETWEEN 19732 AND 19738
            THEN 10 ELSE 1 END) AS n_points
FROM (
  SELECT ts,
         ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
         ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon
  FROM events
) GROUP BY 1, 2"""
    q["tiles_st_hotspots"] = (
        q_st_hotspots,
        st_hotspots_gi_sql(_STH_VOX, 4, k=1, t_k=1, z=3)
        + "\nORDER BY cell, tbin",
    )

    # ---- raster region labeling (connected blobs, 4-connectivity) ---------------
    # res 8 keeps occupancy ~15% so the layer splits into many genuine
    # multi-cell blobs plus isolated cells.
    def q_regions(spark, sf):
        from .operators.tiling import label_regions

        cells = _pts(spark, sf).select(cell_expr("lat", "lon", 8).alias("cell"))
        return label_regions(cells, 8).orderBy("cell")

    from .operators.tiling import label_regions_sql

    q["tiles_region_label"] = (
        q_regions,
        label_regions_sql(
            f"SELECT {cell_sql('lat', 'lon', 8)} AS cell FROM ({_PTS_SQL})", 8
        )
        + "\nORDER BY cell",
    )

    # ---- uncompact: mixed-res cover back to uniform res (identity check) --------
    def q_uncompact(spark, sf):
        from .operators.tiling import compact_cells, uncompact_cells

        cells = _pts(spark, sf).select(cell_expr("lat", "lon", 6).alias("cell"))
        return uncompact_cells(compact_cells(cells, 6, 2), 6).orderBy("cell")

    from .operators.tiling import uncompact_cells_sql

    q["tiles_uncompact_cover"] = (
        q_uncompact,
        uncompact_cells_sql(
            compact_cells_sql(
                f"SELECT {cell_sql('lat', 'lon', 6)} AS cell FROM ({_PTS_SQL})",
                6,
                2,
            ),
            6,
        )
        + "\nORDER BY cell",
    )

    # ---- containment against the compacted cover --------------------------------
    # cover built from EVEN-id points, probed with ODD-id points — the
    # cover/query split exercises genuine hits and misses at every level.
    def q_cover_pts(spark, sf):
        from .operators.tiling import compact_cells, cover_contains

        pts = _pts(spark, sf)
        cover = compact_cells(
            pts.where(F.col("id") % 2 == 0).select(
                cell_expr("lat", "lon", 6).alias("cell")
            ),
            6,
            2,
        )
        return cover_contains(
            pts.where(F.col("id") % 2 == 1), cover, 6, 2
        ).orderBy("id")

    from .operators.tiling import cover_contains_sql

    q["tiles_cover_points"] = (
        q_cover_pts,
        cover_contains_sql(
            f"SELECT * FROM ({_PTS_SQL}) WHERE id % 2 = 1",
            compact_cells_sql(
                f"SELECT {cell_sql('lat', 'lon', 6)} AS cell "
                f"FROM ({_PTS_SQL}) WHERE id % 2 = 0",
                6,
                2,
            ),
            6,
            2,
        )
        + "\nORDER BY id",
    )

    # ---- exact-integer z-score anomaly flags ------------------------------------
    def q_anomaly(spark, sf):
        from .operators.rolling import anomaly_flags

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("v_cents"),
        )
        return anomaly_flags(ev, "user_id", "event_id", "v_cents", z=3).orderBy(
            "user_id", "event_id"
        )

    from .operators.rolling import anomaly_flags_sql

    q["events_anomaly_flags"] = (
        q_anomaly,
        anomaly_flags_sql(
            "SELECT user_id, event_id, "
            "CAST(floor(value * 100.0) AS BIGINT) AS v_cents FROM events",
            "user_id",
            "event_id",
            "v_cents",
            z=3,
        )
        + "\nORDER BY user_id, event_id",
    )

    # ---- burst detection: per-user daily activity through the z-score law ------
    # composition: (user, day) counts -> exact-integer anomaly flags;
    # a user's burst days are the days whose event count deviates > 2
    # population stddevs from that user's own daily baseline.
    def q_bursts(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import anomaly_flags

        ev = spark.read.parquet(f"{sf}/events.parquet")
        daily = (
            ev.select(
                "user_id",
                (ntz_epoch_ms(F.col("ts")) / F.lit(86_400_000))
                .cast("long")
                .alias("day"),
            )
            .groupBy("user_id", "day")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        return anomaly_flags(daily, "user_id", "day", "n_events", z=2).orderBy(
            "user_id", "day"
        )

    from .operators.rolling import anomaly_flags_sql as _af_sql

    q["events_burst_days"] = (
        q_bursts,
        _af_sql(
            "SELECT user_id, epoch_ms(ts) // 86400000 AS day, "
            "count(*) AS n_events FROM events GROUP BY 1, 2",
            "user_id",
            "day",
            "n_events",
            z=2,
        )
        + "\nORDER BY user_id, day",
    )

    # ---- map matching: nearest-segment snap ------------------------------------
    # 100 synthetic road segments from supplier (hashed anchor + hashed
    # offset <= 2 deg); points snap within radius 1 deg. Spark runs the
    # cell-bucketed index-then-refine; the DuckDB twin is the brute
    # cross join with the identical projection/clamp/distance text.
    def q_mapmatch(spark, sf):
        from .operators.mapmatch import snap_to_segments

        su = spark.read.parquet(f"{sf}/supplier.parquet")
        k = F.col("s_suppkey").cast("long")
        hx = (k * F.lit(_P1) + F.lit(7)) % F.lit(_M)
        hy = (k * F.lit(_P2) + F.lit(13)) % F.lit(_M)
        hdx = (k * F.lit(48_271) + F.lit(99)) % F.lit(_M)
        hdy = (k * F.lit(69_621) + F.lit(3)) % F.lit(_M)
        ax = (hx % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)
        ay = (hy % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)
        segs = su.select(
            k.alias("seg_id"),
            ax.alias("ax"),
            ay.alias("ay"),
            (ax + ((hdx % F.lit(400)) / F.lit(100.0) - F.lit(2.0))).alias("bx"),
            (ay + ((hdy % F.lit(400)) / F.lit(100.0) - F.lit(2.0))).alias("by"),
        )
        return snap_to_segments(
            _pts(spark, sf), segs, radius=1.0, grid_deg=2.0
        ).orderBy("id")

    from .operators.mapmatch import snap_to_segments_sql

    _MM_SEGS_SQL = f"""SELECT seg_id, ax, ay,
       ax + ((((k * 48271 + 99) % {_M}) % 400) / 100.0 - 2.0) AS bx,
       ay + ((((k * 69621 + 3) % {_M}) % 400) / 100.0 - 2.0) AS by
FROM (
  SELECT CAST(s_suppkey AS BIGINT) AS k,
         CAST(s_suppkey AS BIGINT) AS seg_id,
         ((((CAST(s_suppkey AS BIGINT) * {_P1} + 7) % {_M}) % 3600000) / 10000.0) - 180.0 AS ax,
         ((((CAST(s_suppkey AS BIGINT) * {_P2} + 13) % {_M}) % 1700000) / 10000.0) - 85.0 AS ay
  FROM supplier
)"""

    q["geo_snap_segments"] = (
        q_mapmatch,
        snap_to_segments_sql(_PTS_SQL, _MM_SEGS_SQL, radius=1.0)
        + "\nORDER BY id",
    )

    # ---- one-pass Visvalingam track simplification -----------------------------
    # per-event continuous hash positions (jitter-like jumps) so the
    # area threshold genuinely splits keep/drop; cross product is pure
    # +,-,* on bit-identical doubles — exact threshold both engines.
    def q_simplify(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.trajectory import simplify_track

        ev = spark.read.parquet(f"{sf}/events.parquet")
        hlat = (F.col("event_id") * F.lit(_P1)) % F.lit(_M)
        hlon = (F.col("event_id") * F.lit(_P2) + F.lit(_O2)) % F.lit(_M)
        pts = ev.select(
            "user_id",
            ntz_epoch_ms(F.col("ts")).alias("ms"),
            "event_id",
            ((hlat % F.lit(1_700_000)) / F.lit(10_000.0) - F.lit(85.0)).alias("lat"),
            ((hlon % F.lit(3_600_000)) / F.lit(10_000.0) - F.lit(180.0)).alias("lon"),
        )
        return simplify_track(
            pts, 2500.0, "user_id", "ms", "event_id"
        ).orderBy("user_id", "ms")

    from .operators.trajectory import simplify_track_sql

    q["geo_track_simplify"] = (
        q_simplify,
        simplify_track_sql(
            f"""SELECT user_id, epoch_ms(ts) AS ms, event_id,
       ((((event_id * {_P1}) % {_M}) % 1700000) / 10000.0) - 85.0 AS lat,
       ((((event_id * {_P2} + {_O2}) % {_M}) % 3600000) / 10000.0) - 180.0 AS lon
FROM events""",
            2500.0,
            "user_id",
            "ms",
            "event_id",
        )
        + "\nORDER BY user_id, ms",
    )

    # ---- POI discovery: stay points -> per-cell visitor/dwell rollup -----------
    # the composition statement: dwell detection feeds a place-mining
    # rollup (n_dwells, distinct visitors, total dwell ms per cell),
    # top-10 places by visitors — all integer laws end to end.
    def q_poi(spark, sf):
        from .operators.trajectory import stay_points

        sp = stay_points(
            _dwell_pts(spark, sf), 6, 12 * 3_600_000, "user_id", "ms", "event_id"
        )
        agg = sp.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_dwells"),
            F.countDistinct("user_id").alias("n_visitors"),
            F.sum(F.col("exit_ms") - F.col("enter_ms")).alias("total_dwell_ms"),
        )
        w = Window.orderBy(
            F.col("n_visitors").desc(),
            F.col("total_dwell_ms").desc(),
            F.col("cell").asc(),
        )
        return (
            agg.select("*", F.row_number().over(w).cast("int").alias("rank"))
            .where(F.col("rank") <= 10)
            .orderBy("rank")
        )

    q["geo_poi_discovery"] = (
        q_poi,
        f"""WITH sp AS (
{stay_points_sql(_DWELL_PTS_SQL, 6, 12 * 3_600_000, "user_id", "ms", "event_id")}
),
poi AS (
  SELECT cell, count(*) AS n_dwells,
         count(DISTINCT user_id) AS n_visitors,
         CAST(sum(exit_ms - enter_ms) AS BIGINT) AS total_dwell_ms
  FROM sp GROUP BY cell
)
SELECT cell, n_dwells, n_visitors, total_dwell_ms,
       CAST(row_number() OVER (
         ORDER BY n_visitors DESC, total_dwell_ms DESC, cell ASC) AS INTEGER) AS rank
FROM poi QUALIFY rank <= 10
ORDER BY rank""",
    )

    # ---- trajectory territory similarity (visited-cell Jaccard) ---------------
    def q_traj_jac(spark, sf):
        from .operators.trajectory import traj_jaccard_pairs

        return traj_jaccard_pairs(
            _dwell_pts(spark, sf), 4, 0.25, "user_id", max_cell_df=32
        ).orderBy("k1", "k2")

    from .operators.trajectory import traj_jaccard_pairs_sql

    q["geo_traj_jaccard"] = (
        q_traj_jac,
        traj_jaccard_pairs_sql(
            _DWELL_PTS_SQL, 4, 0.25, "user_id", max_cell_df=32
        )
        + "\nORDER BY k1, k2",
    )

    # ---- co-presence analytics: contact pairs, geofence crossings, cohorts ----
    # the dwell world (one hashed position per (user, 3-day block)) makes
    # co-location genuine (movers sharing a cell for a whole block) and
    # geofence flips genuine (position jumps at block boundaries).
    def q_coloc(spark, sf):
        from .operators.colocation import colocation_pairs

        return colocation_pairs(
            _dwell_pts(spark, sf), 5, _BLK, "user_id", "ms", max_group=64
        ).orderBy("k1", "k2")

    from .operators.colocation import colocation_pairs_sql

    q["geo_colocation_pairs"] = (
        q_coloc,
        colocation_pairs_sql(
            _DWELL_PTS_SQL, 5, _BLK, "user_id", "ms", max_group=64
        )
        + "\nORDER BY k1, k2",
    )

    # three curated rectangular fences covering ~1/4 of the dwell world
    _FENCES = [
        (-85.0, -40.0, -180.0, -30.0),
        (0.0, 30.0, 0.0, 90.0),
        (45.0, 85.0, 100.0, 180.0),
    ]

    def q_geofence(spark, sf):
        from .operators.colocation import geofence_transitions

        return geofence_transitions(
            _dwell_pts(spark, sf), _FENCES, "user_id", "ms", "event_id"
        ).orderBy("user_id", "ms", "event")

    from .operators.colocation import geofence_transitions_sql

    q["geo_geofence_transitions"] = (
        q_geofence,
        geofence_transitions_sql(
            _DWELL_PTS_SQL, _FENCES, "user_id", "ms", "event_id"
        )
        + "\nORDER BY user_id, ms, event",
    )

    # triangle count over the co-location contact graph (res 4 — denser
    # than the res-5 pair query, so the triangle structure is non-trivial)
    def q_triangles(spark, sf):
        from .operators.colocation import colocation_pairs
        from .operators.graph import triangle_count

        edges = colocation_pairs(
            _dwell_pts(spark, sf), 4, _BLK, "user_id", "ms", max_group=64
        ).select(F.col("k1").alias("src"), F.col("k2").alias("dst"))
        return triangle_count(edges)

    from .operators.graph import triangle_count_sql

    q["graph_triangle_count"] = (
        q_triangles,
        triangle_count_sql(
            "SELECT k1 AS src, k2 AS dst FROM ("
            + colocation_pairs_sql(
                _DWELL_PTS_SQL, 4, _BLK, "user_id", "ms", max_group=64
            )
            + ")"
        ),
    )

    _CONTACT_EDGES_SQL = (
        "SELECT k1 AS src, k2 AS dst FROM ("
        + colocation_pairs_sql(_DWELL_PTS_SQL, 4, _BLK, "user_id", "ms", max_group=64)
        + ")"
    )

    def _contact_edges(spark, sf):
        from .operators.colocation import colocation_pairs

        return colocation_pairs(
            _dwell_pts(spark, sf), 4, _BLK, "user_id", "ms", max_group=64
        ).select(F.col("k1").alias("src"), F.col("k2").alias("dst"))

    def q_lcc(spark, sf):
        from .operators.graph import clustering_coefficients

        return clustering_coefficients(_contact_edges(spark, sf))

    from .operators.graph import clustering_coefficients_sql

    q["graph_clustering_coeff"] = (
        q_lcc,
        clustering_coefficients_sql(_CONTACT_EDGES_SQL),
    )

    def q_linkpred(spark, sf):
        from .operators.graph import link_prediction

        return link_prediction(_contact_edges(spark, sf), k=15, max_degree=64)

    from .operators.graph import link_prediction_sql

    q["graph_link_prediction"] = (
        q_linkpred,
        link_prediction_sql(_CONTACT_EDGES_SQL, k=15),
    )

    # ---- global clustering coefficient (transitivity) -------------------------
    # C = 3·triangles / wedges, wedges = Σ d(d−1)/2 — one number joining
    # the triangle and degree machinery; exact integers, one division
    def q_global_clustering(spark, sf):
        from .operators.graph import triangle_count

        edges = _contact_edges(spark, sf)
        e = (
            edges.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .where(F.col("a") < F.col("b"))
            .distinct()
        )
        deg = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        wedges = deg.agg(
            F.sum(
                (F.col("d") * (F.col("d") - 1) / F.lit(2)).cast("long")
            ).alias("n_wedges")
        )
        tri = triangle_count(edges)
        return wedges.crossJoin(F.broadcast(tri)).select(
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("transitivity"),
        )

    from .operators.graph import triangle_count_sql as _tri_sql

    q["graph_global_clustering"] = (
        q_global_clustering,
        f"""WITH gc_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({_CONTACT_EDGES_SQL}) WHERE least(src, dst) < greatest(src, dst)
),
gc_d AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM gc_e UNION ALL SELECT b FROM gc_e
  ) GROUP BY v
),
gc_w AS (
  SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM gc_d
),
gc_t AS (
{_tri_sql(_CONTACT_EDGES_SQL)}
)
SELECT w.n_wedges, t.n_triangles,
       CASE WHEN w.n_wedges > 0 THEN
         CAST(3.0 AS DOUBLE) * CAST(t.n_triangles AS DOUBLE)
         / CAST(w.n_wedges AS DOUBLE)
       END AS transitivity
FROM gc_w w, gc_t t""",
    )

    # ---- degree distribution histogram ----------------------------------------
    def q_degree_dist(spark, sf):
        edges = _contact_edges(spark, sf)
        e = (
            edges.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .where(F.col("a") < F.col("b"))
            .distinct()
        )
        deg = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        tot = deg.agg(F.count(F.lit(1)).alias("n"))
        return (
            deg.groupBy("d")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(F.broadcast(tot))
            .select(
                F.col("d").alias("degree"),
                "n_nodes",
                (
                    F.col("n_nodes").cast("double") / F.col("n").cast("double")
                ).alias("share"),
            )
            .orderBy("degree")
        )

    q["graph_degree_distribution"] = (
        q_degree_dist,
        f"""WITH dd_e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({_CONTACT_EDGES_SQL}) WHERE least(src, dst) < greatest(src, dst)
),
dd_d AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM dd_e UNION ALL SELECT b FROM dd_e
  ) GROUP BY v
),
dd_h AS (SELECT d, count(*) AS n_nodes FROM dd_d GROUP BY d)
SELECT d AS degree, n_nodes,
       CAST(n_nodes AS DOUBLE)
         / CAST((SELECT count(*) FROM dd_d) AS DOUBLE) AS share
FROM dd_h
ORDER BY degree""",
    )

    def q_rich_club(spark, sf):
        from .operators.graph import rich_club

        return rich_club(_contact_edges(spark, sf), ks=(2, 4, 8))

    from .operators.graph import rich_club_sql

    q["graph_rich_club"] = (
        q_rich_club,
        rich_club_sql(_CONTACT_EDGES_SQL, ks=(2, 4, 8)),
    )

    def q_comp_sizes(spark, sf):
        from .operators.graph import connected_components

        edges = _contact_edges(spark, sf)
        cc = connected_components(edges, "src", "dst")
        sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
        tot = sizes.agg(F.sum("size").alias("n_nodes"))
        return (
            sizes.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_components"))
            .crossJoin(F.broadcast(tot))
            .select(
                "size",
                "n_components",
                (
                    (F.col("size") * F.col("n_components")).cast("double")
                    / F.col("n_nodes").cast("double")
                ).alias("node_share"),
            )
            .orderBy("size")
        )

    q["graph_component_sizes"] = (
        q_comp_sizes,
        f"""WITH RECURSIVE cs_e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({_CONTACT_EDGES_SQL}) WHERE src != dst
),
cs_sym AS (SELECT a AS u, b AS v FROM cs_e UNION SELECT b, a FROM cs_e),
cs_reach(id, lbl) AS (
  SELECT u, u FROM cs_sym
  UNION
  SELECT e.v, r.lbl FROM cs_reach r JOIN cs_sym e ON e.u = r.id
),
cs_cc AS (SELECT id, min(lbl) AS component FROM cs_reach GROUP BY id),
cs_sz AS (SELECT component, count(*) AS size FROM cs_cc GROUP BY component),
cs_h AS (SELECT size, count(*) AS n_components FROM cs_sz GROUP BY size)
SELECT size, n_components,
       CAST(size * n_components AS DOUBLE)
         / CAST((SELECT sum(size) FROM cs_sz) AS DOUBLE) AS node_share
FROM cs_h
ORDER BY size""",
    )

    def q_ewma(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import value_ewma

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id",
            ntz_epoch_ms(F.col("ts")).alias("ms"),
            "event_id",
            "value",
        )
        return value_ewma(ev).orderBy("key")

    from .operators.rolling import value_ewma_sql

    q["events_value_ewma"] = (
        q_ewma,
        value_ewma_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, event_id, value FROM events"
        )
        + "\nORDER BY key",
    )

    # ---- inter-arrival gap histogram (power-of-two ms buckets, per type) ------
    # burstiness fingerprint per event type: the threshold-sum bucket law
    # (boundary-exact, no log2 float) over per-user lag gaps
    def q_gap_hist(spark, sf):
        from pyspark.sql import Window as _W

        from .functions.timeops import ntz_epoch_ms

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = _W.partitionBy("user_id").orderBy(
            ntz_epoch_ms(F.col("ts")).asc(), F.col("event_id").asc()
        )
        ms = ntz_epoch_ms(F.col("ts"))
        gap = (ms - F.lag(ms).over(w)).alias("g")
        gaps = ev.select(F.col("event_type"), gap).where(
            F.col("g").isNotNull() & (F.col("g") > 0)
        )
        bucket = sum(
            (F.col("g") >= F.lit(1 << k)).cast("long") for k in range(46)
        )
        return (
            gaps.select("event_type", bucket.alias("bucket"))
            .groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).alias("n_gaps"))
            .orderBy("event_type", "bucket")
        )

    _GAP_TESTS = " + ".join(
        f"CAST(g >= {1 << k} AS BIGINT)" for k in range(46)
    )
    q["events_gap_histogram"] = (
        q_gap_hist,
        f"""WITH gh_g AS (
  SELECT event_type,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts) ASC, event_id ASC
         ) AS g
  FROM events
)
SELECT event_type, ({_GAP_TESTS}) AS bucket, count(*) AS n_gaps
FROM gh_g WHERE g IS NOT NULL AND g > 0
GROUP BY event_type, bucket
ORDER BY event_type, bucket""",
    )

    # ---- per-document character entropy (pinned fold) -------------------------
    # compressibility/gibberish signal: H over the normalized character
    # distribution, terms folded in sorted-character order — round(9)
    # for the ln ulps
    def q_char_entropy(spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        chars = d.select(
            "doc_id",
            F.explode(F.split(F.col("text"), "")).alias("ch"),
        ).where(F.col("ch") != "")
        per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
        tot = per.groupBy("doc_id").agg(F.sum("n").alias("t"))
        terms = per.join(tot, "doc_id").select(
            "doc_id",
            "ch",
            (
                (F.col("n").cast("double") / F.col("t").cast("double"))
                * F.log(F.col("n").cast("double") / F.col("t").cast("double"))
            ).alias("term"),
        )
        return (
            terms.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_distinct_chars"),
                F.round(
                    -F.aggregate(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("ch", "term"))),
                            lambda s: s["term"],
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    9,
                ).alias("entropy_nats"),
            )
            .orderBy("doc_id")
        )

    q["text_char_entropy"] = (
        q_char_entropy,
        """WITH ch_c AS (
  SELECT doc_id, ch, count(*) AS n FROM (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
  ) WHERE ch != '' GROUP BY doc_id, ch
),
ch_t AS (SELECT doc_id, sum(n) AS t FROM ch_c GROUP BY doc_id),
ch_terms AS (
  SELECT c.doc_id, c.ch,
         (CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE))
           * ln(CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE)) AS term
  FROM ch_c c JOIN ch_t t ON t.doc_id = c.doc_id
)
SELECT doc_id, count(*) AS n_distinct_chars,
       round(-list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY ch)),
          (acc, x) -> acc + x
        ), 9) AS entropy_nats
FROM ch_terms GROUP BY doc_id
ORDER BY doc_id""",
    )

    # ---- A/B conversion lift report (two-proportion z) ------------------------
    # variant = user_id parity (the deterministic hash-split stand-in);
    # conversion = any 'purchase'. Counts exact; lift and the pooled
    # two-proportion z-statistic are terminal arithmetic over exact ints
    # (sqrt is correctly rounded) — bit-identical, no rounding needed.
    def q_ab_lift(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        per = ev.groupBy("user_id").agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 100.0)
                ).cast("int")
            ).alias("conv")
        )
        # both variants in ONE scalar aggregate (conditional sums): a
        # single pass + keys=[] HashAggregate instead of two grouped scans
        # glued by a nested-loop cross join — same integers, better plan.
        # The where() reproduces the old inner-join semantics (no row
        # when either variant is absent).
        v = (F.col("user_id") % 2).alias("variant")
        j = (
            per.select(v, "conv")
            .agg(
                F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("na"),
                F.sum(
                    F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)
                ).alias("ca"),
                F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("nb"),
                F.sum(
                    F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)
                ).alias("cb"),
            )
            .where((F.col("na") > 0) & (F.col("nb") > 0))
        )
        pa = F.col("ca").cast("double") / F.col("na").cast("double")
        pb = F.col("cb").cast("double") / F.col("nb").cast("double")
        pp = (F.col("ca") + F.col("cb")).cast("double") / (
            F.col("na") + F.col("nb")
        ).cast("double")
        se = F.sqrt(
            pp
            * (F.lit(1.0) - pp)
            * (
                F.lit(1.0) / F.col("na").cast("double")
                + F.lit(1.0) / F.col("nb").cast("double")
            )
        )
        return j.select(
            "na",
            "ca",
            "nb",
            "cb",
            pa.alias("rate_a"),
            pb.alias("rate_b"),
            (pb - pa).alias("lift"),
            F.when(se > 0, (pb - pa) / se).alias("z"),
        )

    q["events_ab_lift"] = (
        q_ab_lift,
        """WITH ab_u AS (
  SELECT user_id,
         max(CAST(event_type = 'purchase' AND value >= 100.0 AS INT)) AS conv
  FROM events GROUP BY user_id
),
ab_g AS (
  SELECT user_id % 2 AS variant, count(*) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_conv
  FROM ab_u GROUP BY 1
),
ab_j AS (
  SELECT a.n_users AS na, a.n_conv AS ca, b.n_users AS nb, b.n_conv AS cb
  FROM (SELECT * FROM ab_g WHERE variant = 0) a,
       (SELECT * FROM ab_g WHERE variant = 1) b
)
SELECT na, ca, nb, cb,
       CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS rate_a,
       CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS rate_b,
       CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
         - CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS lift,
       CASE WHEN sqrt(
              (CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
            ) > 0 THEN
         (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
          - CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
         / sqrt(
              (CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
              * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
            )
       END AS z
FROM ab_j""",
    )

    # ---- per-user behavioral entropy (pinned per-key fold) --------------------
    # H(user) = -Σ_type p ln p over the user's event-type mix; each term is
    # one identical IEEE expression and the per-user fold runs in sorted
    # type order on both engines — bit-identical, no rounding needed.
    def q_user_entropy(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        per = ev.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        tot = per.groupBy("user_id").agg(F.sum("n").alias("t"))
        terms = per.join(tot, "user_id").select(
            "user_id",
            "event_type",
            (
                (F.col("n").cast("double") / F.col("t").cast("double"))
                * F.log(F.col("n").cast("double") / F.col("t").cast("double"))
            ).alias("term"),
        )
        return (
            terms.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_types"),
                # ln() is not correctly rounded (JVM vs libm differ by
                # 1 ulp on non-integer ratios) -> round(9) per convention
                F.round(
                    -F.aggregate(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("event_type", "term")
                                )
                            ),
                            lambda s: s["term"],
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    9,
                ).alias("entropy_nats"),
            )
            .orderBy("user_id")
        )

    q["events_user_entropy"] = (
        q_user_entropy,
        """WITH ue_p AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
),
ue_t AS (SELECT user_id, sum(n) AS t FROM ue_p GROUP BY user_id),
ue_terms AS (
  SELECT p.user_id, p.event_type,
         (CAST(p.n AS DOUBLE) / CAST(t.t AS DOUBLE))
           * ln(CAST(p.n AS DOUBLE) / CAST(t.t AS DOUBLE)) AS term
  FROM ue_p p JOIN ue_t t ON t.user_id = p.user_id
)
SELECT user_id, count(*) AS n_types,
       round(-list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY event_type)),
          (acc, x) -> acc + x
        ), 9) AS entropy_nats
FROM ue_terms GROUP BY user_id
ORDER BY user_id""",
    )

    def q_cusum(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import cusum_alarms

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id",
            ntz_epoch_ms(F.col("ts")).alias("ms"),
            "event_id",
            "value",
        )
        return cusum_alarms(
            ev, target_cents=5000, slack_cents=500, threshold_cents=20_000
        ).orderBy("key")

    from .operators.rolling import cusum_alarms_sql

    q["events_cusum_alarms"] = (
        q_cusum,
        cusum_alarms_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, event_id, value FROM events",
            target_cents=5000,
            slack_cents=500,
            threshold_cents=20_000,
        )
        + "\nORDER BY key",
    )

    # ---- token-bucket admission over the event stream (batch law) -------------
    # Spark side: the streaming operator's batch twin (Arrow applyInPandas —
    # the per-key replay is irreducibly sequential). Oracle: the SAME
    # millitoken law replayed by a recursive CTE walking each key's
    # row_number chain — fully independent state machinery.
    def q_rate_limit(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .streaming.ratelimit import rate_limit_batch

        # time compressed 1e4:1 so the fixture's multi-hour gaps exercise
        # the refill law (same floor on both sides)
        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            F.col("user_id").cast("string").alias("key"),
            (ntz_epoch_ms(F.col("ts")) / F.lit(10_000)).cast("long").alias("ms"),
            "event_id",
        )
        return rate_limit_batch(ev, capacity=3, rate_tps=1).orderBy(
            "key", "ms", "event_id"
        )

    _RL_CAP_MTOK = 3000
    q["events_rate_limit"] = (
        q_rate_limit,
        f"""WITH RECURSIVE rl_ev AS MATERIALIZED (
  SELECT CAST(user_id AS VARCHAR) AS k, epoch_ms(ts) // 10000 AS ms,
         event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) // 10000, event_id) AS rn
  FROM events
),
rl_step(k, rn, ms, event_id, bucket, admitted) AS (
  SELECT k, rn, ms, event_id,
         {_RL_CAP_MTOK} - CAST({_RL_CAP_MTOK} >= 1000 AS BIGINT) * 1000,
         CAST({_RL_CAP_MTOK} >= 1000 AS INT)
  FROM rl_ev WHERE rn = 1
  UNION ALL
  SELECT e.k, e.rn, e.ms, e.event_id,
         least({_RL_CAP_MTOK}, s.bucket + (e.ms - s.ms) * 1)
           - CAST(least({_RL_CAP_MTOK}, s.bucket + (e.ms - s.ms) * 1)
                  >= 1000 AS BIGINT) * 1000,
         CAST(least({_RL_CAP_MTOK}, s.bucket + (e.ms - s.ms) * 1)
              >= 1000 AS INT)
  FROM rl_step s JOIN rl_ev e ON e.k = s.k AND e.rn = s.rn + 1
)
SELECT k AS key, event_id, ms, admitted
FROM rl_step
ORDER BY key, ms, event_id""",
    )

    def q_metronome(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import metronome_users

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", ntz_epoch_ms(F.col("ts")).alias("ms"), "event_id"
        )
        return metronome_users(ev, cv_threshold_pct=50).orderBy("user_id")

    from .operators.rolling import metronome_users_sql

    q["events_metronome_users"] = (
        q_metronome,
        metronome_users_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events",
            cv_threshold_pct=50,
        )
        + "\nORDER BY user_id",
    )

    def q_gini(spark, sf):
        from .operators.rolling import gini_concentration

        return gini_concentration(
            spark.read.parquet(f"{sf}/events.parquet"), "user_id"
        )

    from .operators.rolling import gini_concentration_sql

    q["events_user_gini"] = (
        q_gini,
        gini_concentration_sql("SELECT user_id FROM events", "user_id"),
    )

    def q_assort(spark, sf):
        from .operators.graph import degree_assortativity

        return degree_assortativity(_contact_edges(spark, sf))

    from .operators.graph import degree_assortativity_sql

    q["graph_assortativity"] = (
        q_assort,
        degree_assortativity_sql(_CONTACT_EDGES_SQL),
    )

    def q_modularity(spark, sf):
        from .operators.graph import connected_components, modularity

        edges = _contact_edges(spark, sf)
        cc = connected_components(edges, "src", "dst").select(
            "id", F.col("component").alias("community")
        )
        return modularity(edges, cc)

    from .operators.graph import modularity_sql

    _CC_ASSIGN_SQL = f"""WITH RECURSIVE mc_e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({_CONTACT_EDGES_SQL}) WHERE src != dst
),
mc_sym AS (SELECT a AS u, b AS v FROM mc_e UNION SELECT b, a FROM mc_e),
mc_reach(id, lbl) AS (
  SELECT u, u FROM mc_sym
  UNION
  SELECT e.v, r.lbl FROM mc_reach r JOIN mc_sym e ON e.u = r.id
)
SELECT id, min(lbl) AS community FROM mc_reach GROUP BY id"""
    q["graph_modularity"] = (
        q_modularity,
        modularity_sql(_CONTACT_EDGES_SQL, _CC_ASSIGN_SQL),
    )

    def q_lpa(spark, sf):
        from .operators.graph import label_propagation

        edges = _contact_edges(spark, sf)
        seeds = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
            .where(F.col("id") % 10 == 0)
            .select("id", (F.col("id") % 3).alias("label"))
        )
        return label_propagation(edges, seeds, rounds=4).orderBy("id")

    from .operators.graph import label_propagation_sql

    q["graph_label_propagation"] = (
        q_lpa,
        label_propagation_sql(
            _CONTACT_EDGES_SQL,
            f"""SELECT id, id % 3 AS label FROM (
  SELECT DISTINCT src AS id FROM ({_CONTACT_EDGES_SQL})
  UNION SELECT DISTINCT dst FROM ({_CONTACT_EDGES_SQL})
) WHERE id % 10 = 0""",
            rounds=4,
        )
        + "\nORDER BY id",
    )

    def q_autocorr(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import daily_autocorr

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            ntz_epoch_ms(F.col("ts")).alias("ms")
        )
        return daily_autocorr(ev, max_lag=7)

    from .operators.rolling import daily_autocorr_sql

    q["events_daily_autocorr"] = (
        q_autocorr,
        daily_autocorr_sql("SELECT epoch_ms(ts) AS ms FROM events", max_lag=7),
    )

    def q_survival(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import survival_curve

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", ntz_epoch_ms(F.col("ts")).alias("ms")
        )
        return survival_curve(ev, max_weeks=30)

    from .operators.rolling import survival_curve_sql

    q["events_survival_curve"] = (
        q_survival,
        survival_curve_sql(
            "SELECT user_id, epoch_ms(ts) AS ms FROM events", max_weeks=30
        ),
    )

    def q_busy(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import busy_time

        ms = ntz_epoch_ms(F.col("ts"))
        iv = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id",
            ms.alias("start_ms"),
            (ms + ((F.col("event_id") % 7) + 1) * F.lit(600_000)).alias(
                "end_ms"
            ),
        )
        return busy_time(iv).orderBy("user_id")

    from .operators.rolling import busy_time_sql

    q["events_busy_time"] = (
        q_busy,
        busy_time_sql(
            "SELECT user_id, epoch_ms(ts) AS start_ms, "
            "epoch_ms(ts) + ((event_id % 7) + 1) * 600000 AS end_ms "
            "FROM events"
        )
        + "\nORDER BY user_id",
    )

    def q_rfm(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import rfm_segments

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", ntz_epoch_ms(F.col("ts")).alias("ms"), "value"
        )
        return rfm_segments(ev, "user_id", "ms", "value").orderBy("user")

    from .operators.rolling import rfm_segments_sql

    q["events_rfm_segments"] = (
        q_rfm,
        rfm_segments_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, value FROM events",
            "user_id",
            "ms",
            "value",
        )
        + "\nORDER BY \"user\"",
    )

    def q_rfm_scale(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.rolling import rfm_segments_scale

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", ntz_epoch_ms(F.col("ts")).alias("ms"), "value"
        )
        return rfm_segments_scale(ev, "user_id", "ms", "value").orderBy("user")

    from .operators.rolling import rfm_segments_scale_sql

    q["events_rfm_segments_scale"] = (
        q_rfm_scale,
        rfm_segments_scale_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, value FROM events",
            "user_id",
            "ms",
            "value",
        )
        + "\nORDER BY \"user\"",
    )

    def q_readability(spark, sf):
        from .functions.text import readability

        return readability(
            spark.read.parquet(f"{sf}/documents.parquet")
        ).orderBy("doc_id")

    from .functions.text import readability_sql

    q["text_readability"] = (
        q_readability,
        readability_sql("SELECT doc_id, text FROM documents")
        + "\nORDER BY doc_id",
    )

    def q_apportion(spark, sf):
        from .functions.sampling import mix_apportion
        from .functions.text import token_count

        per_source = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .groupBy("source")
            .agg(F.sum(token_count("text")).alias("n_tokens"))
        )
        return mix_apportion(per_source, budget=100_003)

    from .functions.sampling import mix_apportion_sql
    from .functions.text import token_count_sql as _tc_sql

    q["corpus_mix_apportion"] = (
        q_apportion,
        mix_apportion_sql(
            f"SELECT source, sum({_tc_sql('text')}) AS n_tokens "
            "FROM documents GROUP BY source",
            budget=100_003,
        ),
    )

    def q_textrank(spark, sf):
        from .functions.corpus import textrank_keywords

        return textrank_keywords(
            spark.read.parquet(f"{sf}/documents.parquet").where(
                F.col("lang") == "en"
            )
        )

    from .functions.corpus import textrank_keywords_sql

    q["text_textrank_keywords"] = (
        q_textrank,
        textrank_keywords_sql("SELECT text FROM documents WHERE lang = 'en'"),
    )

    # ---- Zipf slope of the token rank-frequency curve -------------------------
    # log-log least squares over the top-500 terms (rank pinned by
    # (freq DESC, term ASC)); ALL four moment sums fold in rank order —
    # no reassociation — and the slope/intercept round(9) for ln ulps.
    # healthy natural-language corpora sit near slope ≈ −1.
    def q_zipf(spark, sf):
        from .functions.text import tokens as _tok
        from pyspark.sql import Window as _W

        d = spark.read.parquet(f"{sf}/documents.parquet")
        freq = (
            d.select(F.explode(_tok("text")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        ranked = freq.withColumn(
            "r",
            F.row_number().over(_W.orderBy(F.desc("n"), F.asc("w"))),
        ).where(F.col("r") <= 500)
        pts = ranked.select(
            "r",
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
        folded = pts.agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.array_sort(
                F.collect_list(F.struct("r", "x", "y"))
            ).alias("pts"),
        )

        def fold(expr):
            return F.aggregate(
                F.transform(F.col("pts"), expr),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )

        sx = fold(lambda s: s["x"])
        sy = fold(lambda s: s["y"])
        sxy = fold(lambda s: s["x"] * s["y"])
        sxx = fold(lambda s: s["x"] * s["x"])
        nn = F.col("n_terms").cast("double")
        slope = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
        return folded.select(
            "n_terms",
            F.round(slope, 9).alias("zipf_slope"),
            F.round((sy - slope * sx) / nn, 9).alias("intercept"),
        )

    q["corpus_token_zipf"] = (
        q_zipf,
        f"""WITH zf_f AS (
          SELECT w, count(*) AS n FROM (
            SELECT unnest({T.tokens_sql("text")}) AS w
            FROM documents
          ) GROUP BY w
),
zf_r AS (
  SELECT w, n, row_number() OVER (ORDER BY n DESC, w ASC) AS r
  FROM zf_f QUALIFY r <= 500
),
zf_p AS (
  SELECT r, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM zf_r
),
zf_l AS (
  SELECT count(*) AS n_terms,
         list(x ORDER BY r) AS xs, list(y ORDER BY r) AS ys
  FROM zf_p
),
zf_s AS (
  SELECT n_terms,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs), (a, v) -> a + v) AS sx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys), (a, v) -> a + v) AS sy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_zip(xs, ys), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
           (a, v) -> a + v) AS sxy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(xs, v -> v * v)), (a, v) -> a + v) AS sxx
  FROM zf_l
)
SELECT n_terms,
       round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 9) AS zipf_slope,
       round((sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n_terms AS DOUBLE), 9) AS intercept
FROM zf_s""",
    )

    # ---- language-ID confusion matrix (classifier audit) ----------------------
    # the engine's stopword-vote lang_id scored against the corpus labels:
    # (actual, predicted, n) + per-cell recall share — integer counts,
    # terminal division
    def q_lang_confusion(spark, sf):
        from .functions.text import lang_id

        d = spark.read.parquet(f"{sf}/documents.parquet")
        per = (
            d.select(
                F.col("lang").alias("actual"),
                lang_id("text").alias("predicted"),
            )
            .groupBy("actual", "predicted")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        tot = per.groupBy("actual").agg(F.sum("n").alias("t"))
        return (
            per.join(tot, "actual")
            .select(
                "actual",
                "predicted",
                "n",
                (F.col("n").cast("double") / F.col("t").cast("double")).alias(
                    "share_of_actual"
                ),
            )
            .orderBy("actual", "predicted")
        )

    from .functions.text import lang_id_sql as _lid_sql

    q["text_lang_confusion"] = (
        q_lang_confusion,
        f"""WITH lc_p AS (
  SELECT lang AS actual, {_lid_sql('text')} AS predicted, count(*) AS n
  FROM documents GROUP BY 1, 2
),
lc_t AS (SELECT actual, sum(n) AS t FROM lc_p GROUP BY actual)
SELECT p.actual, p.predicted, p.n,
       CAST(p.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS share_of_actual
FROM lc_p p JOIN lc_t t ON t.actual = p.actual
ORDER BY p.actual, p.predicted""",
    )

    # ---- novelty accretion: share of first-seen bigrams per doc ---------------
    # reading docs in id order, what fraction of each doc's bigrams has
    # never appeared before (first occurrence = min doc_id holding the
    # bigram)? The diminishing-returns curve behind dedup budgeting.
    # Integer counts + one division per row.
    def q_novelty(spark, sf):
        from .functions.text import tokens as _tok

        d = spark.read.parquet(f"{sf}/documents.parquet")
        base = d.select(
            "doc_id", _tok("text").alias("t")
        ).where(F.size("t") >= 2)
        bg = base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat(element_at(t, CAST(i AS INT)), ' ', "
                    "element_at(t, CAST(i AS INT) + 1)))"
                )
            ).alias("b"),
        ).distinct()
        first = bg.groupBy("b").agg(F.min("doc_id").alias("first_doc"))
        per = (
            bg.join(first, "b")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_distinct_bigrams"),
                F.sum(
                    (F.col("doc_id") == F.col("first_doc")).cast("long")
                ).alias("n_novel"),
            )
        )
        return per.select(
            "doc_id",
            "n_distinct_bigrams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_distinct_bigrams").cast("double")
            ).alias("novelty"),
        ).orderBy("doc_id")

    q["corpus_novelty_curve"] = (
        q_novelty,
        f"""WITH nv_b AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS b
  FROM (SELECT doc_id, {T.tokens_sql("text")} AS t FROM documents) s,
       LATERAL (SELECT unnest(range(1, len(t))) AS i) ix
  WHERE len(t) >= 2
),
nv_f AS (SELECT b, min(doc_id) AS first_doc FROM nv_b GROUP BY b)
SELECT x.doc_id, count(*) AS n_distinct_bigrams,
       CAST(sum(CAST(x.doc_id = f.first_doc AS BIGINT)) AS BIGINT)
         AS n_novel,
       CAST(sum(CAST(x.doc_id = f.first_doc AS BIGINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty
FROM nv_b x JOIN nv_f f ON f.b = x.b
GROUP BY x.doc_id
ORDER BY x.doc_id""",
    )

    # ---- per-source scorecard (curation dashboard row) ------------------------
    # integer-exact per-source health: docs, chars, tokens, English share,
    # mean doc length — the one-row-per-source table a corpus owner scans
    def q_scorecard(spark, sf):
        from .functions.text import token_count

        d = spark.read.parquet(f"{sf}/documents.parquet")
        return (
            d.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(token_count("text")).alias("total_tokens"),
                F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
            )
            .select(
                "source",
                "n_docs",
                "total_chars",
                "total_tokens",
                "n_en",
                (
                    F.col("n_en").cast("double") / F.col("n_docs").cast("double")
                ).alias("en_share"),
                (
                    F.col("total_chars").cast("double")
                    / F.col("n_docs").cast("double")
                ).alias("mean_chars"),
            )
            .orderBy("source")
        )

    q["corpus_source_scorecard"] = (
        q_scorecard,
        f"""SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum({_tc_sql('text')}) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS n_en,
       CAST(sum(CAST(lang = 'en' AS BIGINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS en_share,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS mean_chars
FROM documents GROUP BY source
ORDER BY source""",
    )

    # ---- cross-language vocabulary overlap ------------------------------------
    # |V_a ∩ V_b| and Jaccard per language pair — the loanword/shared-
    # script signal that confuses n-gram language ID; integer counts
    def q_vocab_overlap(spark, sf):
        from .functions.text import tokens as _tok

        d = spark.read.parquet(f"{sf}/documents.parquet")
        lv = (
            d.select("lang", F.explode(_tok("text")).alias("w"))
            .distinct()
        )
        sizes = lv.groupBy("lang").agg(F.count(F.lit(1)).alias("v"))
        inter = (
            lv.alias("x")
            .join(lv.alias("y"), "w")
            .where(F.col("x.lang") < F.col("y.lang"))
            .groupBy(
                F.col("x.lang").alias("lang_a"),
                F.col("y.lang").alias("lang_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        return (
            inter.join(
                sizes.select(
                    F.col("lang").alias("lang_a"), F.col("v").alias("va")
                ),
                "lang_a",
            )
            .join(
                sizes.select(
                    F.col("lang").alias("lang_b"), F.col("v").alias("vb")
                ),
                "lang_b",
            )
            .select(
                "lang_a",
                "lang_b",
                "n_shared",
                (
                    F.col("n_shared").cast("double")
                    / (
                        F.col("va") + F.col("vb") - F.col("n_shared")
                    ).cast("double")
                ).alias("jaccard"),
            )
            .orderBy("lang_a", "lang_b")
        )

    q["corpus_lang_vocab_overlap"] = (
        q_vocab_overlap,
        f"""WITH vo_v AS (
  SELECT DISTINCT lang, w FROM (
    SELECT lang, unnest({T.tokens_sql("text")}) AS w FROM documents
  )
),
vo_s AS (SELECT lang, count(*) AS v FROM vo_v GROUP BY lang),
vo_i AS (
  SELECT x.lang AS lang_a, y.lang AS lang_b, count(*) AS n_shared
  FROM vo_v x JOIN vo_v y ON y.w = x.w AND x.lang < y.lang
  GROUP BY 1, 2
)
SELECT i.lang_a, i.lang_b, i.n_shared,
       CAST(i.n_shared AS DOUBLE)
         / CAST(sa.v + sb.v - i.n_shared AS DOUBLE) AS jaccard
FROM vo_i i
JOIN vo_s sa ON sa.lang = i.lang_a
JOIN vo_s sb ON sb.lang = i.lang_b
ORDER BY lang_a, lang_b""",
    )

    # ---- token length histogram (tokenizer shape audit) -----------------------
    def q_wordlen(spark, sf):
        from .functions.text import tokens as _tok

        d = spark.read.parquet(f"{sf}/documents.parquet")
        return (
            d.select(F.explode(_tok("text")).alias("w"))
            .select(F.length("w").alias("len"))
            .groupBy("len")
            .agg(F.count(F.lit(1)).alias("n_tokens"))
            .orderBy("len")
        )

    q["text_word_length_histogram"] = (
        q_wordlen,
        f"""SELECT length(w) AS len, count(*) AS n_tokens
FROM (SELECT unnest({T.tokens_sql("text")}) AS w FROM documents)
GROUP BY len
ORDER BY len""",
    )

    # ---- hapax legomena rate (vocabulary freshness) ---------------------------
    # share of vocabulary seen exactly once, and the token share it holds —
    # the OCR-garbage / productive-morphology dial every corpus audit reads
    def q_hapax(spark, sf):
        from .functions.text import tokens as _tok

        d = spark.read.parquet(f"{sf}/documents.parquet")
        freq = (
            d.select(F.explode(_tok("text")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return freq.agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("n").alias("total_tokens"),
            F.sum((F.col("n") == 1).cast("long")).alias("n_hapax"),
            (
                F.sum((F.col("n") == 1).cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("hapax_vocab_share"),
            (
                F.sum((F.col("n") == 1).cast("long")).cast("double")
                / F.sum("n").cast("double")
            ).alias("hapax_token_share"),
        )

    q["corpus_hapax_rate"] = (
        q_hapax,
        f"""WITH hx_f AS (
  SELECT w, count(*) AS n FROM (
    SELECT unnest({T.tokens_sql("text")}) AS w FROM documents
  ) GROUP BY w
)
SELECT count(*) AS vocab_size,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(n = 1 AS BIGINT)) AS BIGINT) AS n_hapax,
       CAST(sum(CAST(n = 1 AS BIGINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS hapax_vocab_share,
       CAST(sum(CAST(n = 1 AS BIGINT)) AS DOUBLE)
         / CAST(sum(n) AS DOUBLE) AS hapax_token_share
FROM hx_f""",
    )

    # ---- embedding norm distribution (drift / normalization audit) ------------
    # per-label mean & max L2 norm: each norm is sqrt of the bit-identical
    # unrolled dot (exact); the mean reassociates -> round(9), max exact
    def q_norm_stats(spark, sf):
        from .functions.similarity import dot_codegen

        e_ = spark.read.parquet(f"{sf}/embeddings.parquet")
        nrm = F.sqrt(dot_codegen(F.col("embedding"), F.col("embedding"), 64))
        return (
            e_.select("label", nrm.alias("nv"))
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.round(F.avg("nv"), 9).alias("mean_norm"),
                F.max("nv").alias("max_norm"),
            )
            .orderBy("label")
        )

    _NORM_DOT = (
        "list_reduce(list_transform(list_zip(embedding, embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
        "(acc, v) -> acc + v)"
    )
    q["embeddings_norm_stats"] = (
        q_norm_stats,
        f"""SELECT label, count(*) AS n_vectors,
       round(avg(sqrt({_NORM_DOT})), 9) AS mean_norm,
       max(sqrt({_NORM_DOT})) AS max_norm
FROM embeddings
GROUP BY label
ORDER BY label""",
    )

    # ---- vocabulary coverage curve (tokenizer budget planning) ----------------
    # what share of corpus tokens do the top-k terms cover, k in
    # {10, 50, 200}: exact integers (pinned ranks) + terminal divisions
    def q_vocab_coverage(spark, sf):
        from .functions.text import tokens as _tok
        from pyspark.sql import Window as _W

        d = spark.read.parquet(f"{sf}/documents.parquet")
        freq = (
            d.select(F.explode(_tok("text")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        ranked = freq.withColumn(
            "r", F.row_number().over(_W.orderBy(F.desc("n"), F.asc("w")))
        )
        tot = ranked.agg(
            F.sum("n").alias("t"), F.count(F.lit(1)).alias("v")
        )
        out = None
        for k in (10, 50, 200):
            row = (
                ranked.where(F.col("r") <= k)
                .agg(F.sum("n").alias("covered"))
                .crossJoin(F.broadcast(tot))
                .select(
                    F.lit(k).alias("top_k"),
                    F.col("v").alias("vocab_size"),
                    F.coalesce(F.col("covered"), F.lit(0)).alias(
                        "covered_tokens"
                    ),
                    "t",
                    (
                        F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                        / F.col("t").cast("double")
                    ).alias("coverage"),
                )
                .withColumnRenamed("t", "total_tokens")
            )
            out = row if out is None else out.unionByName(row)
        return out.orderBy("top_k")

    q["corpus_vocab_coverage"] = (
        q_vocab_coverage,
        f"""WITH vc_f AS (
  SELECT w, count(*) AS n FROM (
    SELECT unnest({T.tokens_sql("text")}) AS w FROM documents
  ) GROUP BY w
),
vc_r AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, w ASC) AS r FROM vc_f
),
vc_t AS (SELECT sum(n) AS t, count(*) AS v FROM vc_r),
vc_ks AS (SELECT unnest([10, 50, 200]) AS top_k)
SELECT k.top_k, t.v AS vocab_size,
       CAST(coalesce((SELECT sum(n) FROM vc_r WHERE r <= k.top_k), 0)
            AS BIGINT) AS covered_tokens,
       CAST(t.t AS BIGINT) AS total_tokens,
       CAST(coalesce((SELECT sum(n) FROM vc_r WHERE r <= k.top_k), 0)
            AS DOUBLE) / CAST(t.t AS DOUBLE) AS coverage
FROM vc_ks k, vc_t t
ORDER BY top_k""",
    )

    def q_bigram_ppl(spark, sf):
        from .functions.text import bigram_perplexity

        return bigram_perplexity(
            spark.read.parquet(f"{sf}/documents.parquet")
        ).orderBy("doc_id")

    from .functions.text import bigram_perplexity_sql

    q["text_bigram_ppl"] = (
        q_bigram_ppl,
        bigram_perplexity_sql("SELECT doc_id, text FROM documents")
        + "\nORDER BY doc_id",
    )

    def q_lenhist(spark, sf):
        from .functions.corpus import length_histogram

        return length_histogram(
            spark.read.parquet(f"{sf}/documents.parquet")
        )

    from .functions.corpus import length_histogram_sql

    q["corpus_length_histogram"] = (
        q_lenhist,
        length_histogram_sql("SELECT n_chars FROM documents"),
    )

    def q_cohort_ltv(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.colocation import cohort_ltv

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", ntz_epoch_ms(F.col("ts")).alias("ms"), "value"
        )
        return cohort_ltv(ev, "user_id", "ms", "value", max_offset=6)

    from .operators.colocation import cohort_ltv_sql

    q["events_cohort_ltv"] = (
        q_cohort_ltv,
        cohort_ltv_sql(
            "SELECT user_id, epoch_ms(ts) AS ms, value FROM events",
            "user_id",
            "ms",
            "value",
            max_offset=6,
        ),
    )

    def q_retention(spark, sf):
        from .functions.timeops import ntz_epoch_ms
        from .operators.colocation import retention_cohorts

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", ntz_epoch_ms(F.col("ts")).alias("ms")
        )
        return retention_cohorts(ev, "user_id", "ms").orderBy(
            "cohort_week", "week_offset"
        )

    from .operators.colocation import retention_cohorts_sql

    q["events_retention_cohorts"] = (
        q_retention,
        retention_cohorts_sql(
            "SELECT user_id, epoch_ms(ts) AS ms FROM events", "user_id", "ms"
        )
        + "\nORDER BY cohort_week, week_offset",
    )

    return q


def build_rows_only_queries() -> dict:
    """Reserved for genuinely non-SQL-expressible ops; every pages-world
    query now carries a DuckDB ground-truth oracle (see above)."""
    return {}
