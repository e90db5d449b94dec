"""Deduplication operators for training-data pipelines.

Five families, all expressed as relational plans (explode → equi-join →
agg) so they scale like any shuffle workload and stay oracle-checkable:

* exact         — groupBy content fingerprint (md5 of normalized text)
* ngram-jaccard — shared-shingle candidate pairs + exact jaccard
* minhash-LSH   — banded min-hash signatures; only band-collisions are
                  verified (the 100TB path: candidate count ~linear)
* simhash       — 64-bit sign-sum sketch + hamming-ball candidates
* embedding     — cosine near-dup over vector columns (see similarity.py)

Cross-engine determinism: every hash is md5 (identical on Spark/DuckDB);
jaccard arithmetic is integer-count division in double precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import content_fingerprint, norm_text, shingles

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate groups by exact normalized content.
    Returns (fingerprint, n_docs, canonical_id=min id, doc_ids sorted)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), content_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per exact-content group."""
    w = docs.select(
        "*", content_fingerprint(text_col).alias("__fp")
    )
    keep = w.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return w.join(keep, ["__fp", id_col], "left_semi").drop("__fp")


# ---------------------------------------------------------------------------
# n-gram jaccard near-dup
# ---------------------------------------------------------------------------


def _shingle_table(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(text_col, n)).alias("sh"),
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All doc pairs (a < b) with shingle-set jaccard >= threshold.

    Plan: shingle explode → self equi-join on shingle (this *is* the
    candidate pruning: disjoint docs never meet) → per-pair intersection
    count → join each side's shingle count → jaccard.

    A shingle shared by d documents contributes d^2 rows to the
    self-join, so one boilerplate shingle in millions of docs turns it
    quadratic. At corpus scale use :func:`jaccard_prefix_pairs` (the same
    rows from a near-linear candidate space) or :func:`minhash_lsh_pairs`
    (banded candidates verified with exact jaccard).
    """
    sh = _shingle_table(docs, id_col, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a"), "sh")
    b = sh.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`jaccard_pairs` with PPJoin/AllPairs prefix filtering — the
    EXACT same result set, a candidate space that stays near-linear at
    corpus scale.

    Law: order every document's shingles by a global canonical order
    (document frequency ascending, shingle ascending — rarest first) and
    keep only each document's PREFIX of length ``|s| - ceil(t*|s|) + 1``.
    For any pair with jaccard >= t, the overlap o satisfies
    ``o >= ceil(t*|s|)`` on BOTH sides (o >= t(|x|+|y|)/(1+t) and
    |x| >= t*|y|), so each suffix (the ``ceil(t*|s|)-1`` largest
    shingles) is too small to hold every shared shingle — in particular
    the globally SMALLEST shared shingle must sit in both prefixes.
    Joining prefixes on the shingle is therefore complete; exactness
    comes from re-verifying jaccard on the candidates over the FULL
    shingle sets.

    Scale shape (100 TB lens): the self-join fans out on prefix tokens
    only — and because the canonical order is df-ascending, prefixes are
    made of the RAREST shingles, so hot stopword shingles (the d^2 blowup
    of :func:`jaccard_pairs`) land in suffixes and never join.
    Costs one global df agg + one per-doc window sort on top of
    :func:`jaccard_pairs`'s plan; the verify stage touches candidate
    pairs only.
    """
    t = float(threshold)
    from pyspark.sql.window import Window

    sh = _shingle_table(docs, id_col, text_col, n)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("__df").asc(), F.col("sh").asc()
    )
    # ceil(t * n_sh) in PURE INTEGER arithmetic: double ceil can overshoot
    # (0.2*15 == 3.0000000000000004 -> ceil 4), silently SHORTENING the
    # prefix and breaking completeness. Under-approximate t as
    # floor(t*1e6)/1e6 (a longer prefix is always safe — exactness comes
    # from the verify stage) and take the integer ceil-division.
    tnum = int(t * 1_000_000)
    ceil_t_n = F.expr(f"(n_sh * {tnum} + 999999) DIV 1000000")
    pre = (
        sh.join(dfreq, "sh")
        .select("doc_id", "sh", F.row_number().over(w).alias("__rn"))
        .join(sizes, "doc_id")
        .where(F.col("__rn") <= F.col("n_sh") - ceil_t_n + F.lit(1))
        .select("doc_id", "sh")
    )
    cand = (
        pre.select(F.col("doc_id").alias("a"), "sh")
        .join(pre.select(F.col("doc_id").alias("b"), "sh"), "sh")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("a"), "sh"), "a")
        .join(sh.select(F.col("doc_id").alias("b"), "sh"), ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b"
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= t)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    text_col: str, n_hashes: int = 16, n: int = 3, hash_fn: str = "md5"
) -> list[Column]:
    """n_hashes min-hash values per doc: h_i = min(hash_i(shingle)).

    ``hash_fn="md5"`` keeps the DuckDB oracle twin exact (identical hex on
    both engines); ``hash_fn="xxhash64"`` is the throughput path (seeded
    64-bit JVM hash, ~4x cheaper, Spark-only)."""
    sh = shingles(text_col, n)
    if hash_fn == "md5":
        return [
            F.array_min(
                F.transform(sh, lambda s: F.md5(F.concat(s, F.lit(f":{i}"))))
            ).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
    if hash_fn == "xxhash64":
        return [
            F.array_min(
                F.transform(sh, lambda s: F.xxhash64(s, F.lit(i)))
            ).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _min_hash_aggs(n_hashes: int, hash_fn: str) -> list[Column]:
    """The ``n_hashes`` native ``min`` aggregates of a MinHash signature
    over the ``sh`` column of a :func:`_shingle_table`: mh_i = min(hash_i(sh))."""
    s = F.col("sh")
    if hash_fn == "md5":
        return [
            F.min(F.md5(F.concat(s, F.lit(f":{i}")))).alias(f"mh_{i}")
            for i in range(n_hashes)
        ]
    if hash_fn == "xxhash64":
        return [F.min(F.xxhash64(s, F.lit(i))).alias(f"mh_{i}") for i in range(n_hashes)]
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Throughput path for :func:`minhash_signature` — identical values,
    different physical plan: explode the shingle set ONCE, hash each
    shingle with codegen'd md5/xxhash64, then a single hash-aggregate
    with ``n_hashes`` native ``min`` columns (map-side partial agg; the
    shuffle carries one signature row per document). The Column version
    folds the shingle array once per hash in an interpreted ``transform``
    lambda; it is kept as the independent oracle and the two are
    asserted equivalent in tests, mirroring the reference's two-decoder
    discipline (/root/reference/gosmonaut_test.go:27-41).

    Returns (doc_id, mh_0..mh_{n_hashes-1}); docs with zero shingles are
    absent (they cannot collide with anything).
    """
    sh = _shingle_table(docs, id_col, text_col, n)
    return sh.groupBy("doc_id").agg(*_min_hash_aggs(n_hashes, hash_fn))


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    n_hashes: int = 16,
    n_bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact jaccard.

    rows-per-band = n_hashes / n_bands; a pair collides if any band's
    concatenated signature matches. Collision probability 1-(1-j^r)^b —
    with 16/4 the s-curve crosses ~0.55, right for threshold 0.7. Only
    candidates are verified, so the expensive jaccard join runs on a tiny
    fraction of pairs — this is the 10^12-doc path.

    Caches the shingle table for plan reuse; in a long-lived session call
    ``caching.release_cached(result)`` after consuming the result to free
    the blocks.
    """
    if n_hashes % n_bands:
        raise ValueError("n_bands must divide n_hashes")
    r = n_hashes // n_bands
    aggs = _min_hash_aggs(n_hashes, hash_fn)
    # ONE (doc_id, sh) table feeds the signature aggregate and both sides
    # of the verify join; shingle-less docs drop out of its inner explode,
    # matching the Column path's size()>0 filter. The shingles come from
    # one codegen'd regex per document, and the cache keeps each consumer
    # from re-running it. The table is orders of magnitude smaller than
    # the corpus text; at cluster scale this is the standard
    # materialize-shingles step of any LSH pipeline.
    sh = _shingle_table(docs, id_col, text_col, n).persist()
    # materialize the cache eagerly: the banded self-join's and the verify
    # join's AQE stage jobs consume sh concurrently, and with a cold cache
    # they race on (block on / duplicate) the same uncomputed blocks —
    # the same measured pathology as the relation-assembly member table.
    sh.count()
    # n_sh rides the same per-doc aggregate as the signature and is
    # carried as na/nb through the band join, so nothing recounts it
    sig = sh.groupBy("doc_id").agg(*aggs, F.count(F.lit(1)).alias("n_sh"))

    # all band keys in ONE projection + posexplode: one scan per join
    # side and one generator for every band.
    band_keys = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * r + j}") for j in range(r)]
        band_keys.append(
            F.md5(F.concat_ws("|", *cols))
            if hash_fn == "md5"
            else F.xxhash64(*cols).cast("string")
        )
    banded = sig.select(
        "doc_id", "n_sh", F.posexplode(F.array(*band_keys)).alias("band", "bkey")
    )

    a = banded.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"), "band", "bkey")
    b2 = banded.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"), "band", "bkey")
    cand = (
        a.join(b2, ["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "na", "nb")
        .distinct()
    )

    # verify candidates with exact jaccard (semi-joined shingle tables).
    # Throughput path (xxhash64): shingle identity for the verify join is
    # the shingle's 64-bit hash, not the ~30-byte string — the (b, sh)
    # shuffle carries 8-byte longs and the intersection counts are
    # unchanged up to 64-bit collisions (~n²/2⁶⁴, vanishing). The md5
    # path keeps raw strings so the DuckDB oracle twin stays bit-exact.
    vs = sh if hash_fn == "md5" else sh.select("doc_id", F.xxhash64("sh").alias("sh"))
    sa = vs.select(F.col("doc_id").alias("a"), "sh")
    sb = vs.select(F.col("doc_id").alias("b"), "sh")
    out = (
        cand.join(sa, "a")
        .join(sb, ["b", "sh"])
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    from .caching import attach_cached

    return attach_cached(out, [sh])


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash64(text_col: str, n: int = 2) -> Column:
    """64-bit simhash over word n-grams: per bit, sign of the sum of
    (+1/-1) votes from each shingle's md5-derived bits.

    Bit k of shingle hash = bit k of conv(md5 hex, 16) on the first 16 hex
    chars (64 bits). Vote fold is a native aggregate over the shingle
    array — no UDF. Result: bigint (bit k set iff sum of votes > 0).
    """
    sh = shingles(text_col, n)
    h = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    # 60 usable bits from 15 hex chars (conv of 16 chars can overflow long)
    bits = []
    for k in range(60):
        votes = F.aggregate(
            h,
            F.lit(0),
            lambda acc, v: acc
            + F.when(F.shiftright(v, k).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )
        bits.append(F.when(votes > 0, F.lit(1 << k).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash_hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Throughput path for :func:`simhash64` — identical result, different
    physical plan: explode shingles, hash each once (codegen'd md5+conv),
    then ONE hash-aggregate with 60 native ``sum`` vote columns. The
    Column version folds 60 interpreted ``aggregate`` HOFs per row
    (~100x slower); this shape keeps everything in whole-stage codegen
    with a map-side partial agg, so at scale the shuffle carries one
    60-int row per document. The two implementations are asserted
    equivalent in tests (the reference's FastDecoder/GoDecoder
    discipline, /root/reference/gosmonaut_test.go:27-41).
    """
    sh = docs.select(F.col(id_col).alias("doc_id"), shingles(text_col, n).alias("sh"))
    # explode_outer keeps shingle-less docs: their votes sum to 0 -> sh64=0,
    # matching the Column version's empty-array fold
    ex = sh.select("doc_id", F.explode_outer("sh").alias("s")).withColumn(
        "h", F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.col("h").isNull(), F.lit(0)).otherwise(
                F.when(
                    F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            )
        ).alias(f"v{k}")
        for k in range(60)
    ]
    agg = ex.groupBy("doc_id").agg(*votes)
    sh64 = F.lit(0).cast("long")
    for k in range(60):
        sh64 = sh64 + F.when(
            F.col(f"v{k}") > 0, F.lit(1 << k).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", sh64.alias("sh64"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n: int = 2,
    n_blocks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation by the block trick: split the 60-bit sketch into
    ``n_blocks`` 15-bit blocks; any pair within hamming d < n_blocks shares
    at least one exact block (pigeonhole) — so candidates come from
    equi-joins on (block_idx, block_value), never a cross join.
    """
    sig = simhash_signatures(docs, n=n, id_col=id_col, text_col=text_col)
    width = 60 // n_blocks
    blocks = []
    for i in range(n_blocks):
        blocks.append(
            sig.select(
                "doc_id",
                "sh64",
                F.lit(i).alias("blk"),
                F.shiftright(F.col("sh64"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bval"),
            )
        )
    b0 = blocks[0]
    for x in blocks[1:]:
        b0 = b0.unionByName(x)
    a = b0.select(F.col("doc_id").alias("a"), F.col("sh64").alias("ha"), "blk", "bval")
    c = b0.select(F.col("doc_id").alias("b"), F.col("sh64").alias("hb"), "blk", "bval")
    return (
        a.join(c, ["blk", "bval"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", simhash_hamming(F.col("ha"), F.col("hb")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# paragraph-level dedup (sub-document granularity)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Sub-document dedup manifest: one row per (document, paragraph).

    Whole-document dedup misses the dominant duplication mode of web
    corpora: boilerplate PARAGRAPHS (cookie banners, nav footers,
    license blocks) repeated across otherwise-distinct pages. This
    operator splits every document on ``sep`` (a Java/RE2 regex;
    default blank line), fingerprints each paragraph (md5 — the
    repo-wide cross-engine hash), and marks exactly one global first
    occurrence per fingerprint as ``keep`` — the (min doc_id, min
    para_idx) occurrence, a deterministic canonical choice, so a
    rebuild reconstructs each document by concatenating its kept
    paragraphs and every duplicated paragraph survives exactly once
    corpus-wide.

    Returns ``(doc_id, para_idx, fp, keep)``.

    Plan shape (100 TB lens): posexplode rides the scan (no shuffle);
    the only exchange is one hash partition on the paragraph
    fingerprint for the first-occurrence window — fingerprint groups
    are duplicate multiplicities (small by definition; a pathological
    empty-paragraph group is excluded by ``min_chars``), so no skewed
    sort. Compare reference: the reference dedups nothing (its pipeline
    is decode/assembly, /root/reference/gosmonaut.go); this family is
    part of the graft's LLM-pipeline surface.
    """
    from pyspark.sql.window import Window

    p = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("para_idx", "para"),
    ).where(F.length("para") >= int(min_chars))
    w = Window.partitionBy("fp").orderBy("doc_id", "para_idx")
    return p.select(
        "doc_id", "para_idx", F.md5("para").alias("fp")
    ).withColumn("keep", F.row_number().over(w) == 1)


def paragraph_dedup_sql(
    docs_sql: str,
    sep_sql: str = "chr(10) || chr(10)",
    min_chars: int = 1,
) -> str:
    """DuckDB twin of :func:`paragraph_dedup`.

    ``docs_sql`` must yield ``(doc_id, text)``; ``sep_sql`` is a DuckDB
    expression for the LITERAL separator (DuckDB ``string_split`` is
    non-regex; the Spark side treats ``sep`` as a regex, so twins must
    stick to metachar-free separators — the default blank line is).
    ``unnest`` + ``generate_subscripts`` zip positionally, giving the
    same (para_idx, para) numbering as posexplode (0-based after -1).
    """
    return f"""WITH pd_docs AS ({docs_sql}),
pd_paras AS (
  SELECT doc_id,
         generate_subscripts(ps, 1) - 1 AS para_idx,
         unnest(ps) AS para
  FROM (SELECT doc_id, string_split(text, {sep_sql}) AS ps FROM pd_docs)
),
pd_f AS (
  SELECT doc_id, para_idx, md5(para) AS fp
  FROM pd_paras WHERE length(para) >= {int(min_chars)}
)
SELECT doc_id, para_idx, fp,
       row_number() OVER (PARTITION BY fp ORDER BY doc_id, para_idx) = 1 AS keep
FROM pd_f"""


def editdist_pairs(
    strings: DataFrame,
    max_dist: int = 1,
    id_col: str = "id",
    str_col: str = "s",
) -> DataFrame:
    """Fuzzy-string self-join: all unordered pairs of strings within
    Levenshtein distance ``max_dist`` — the typo/variant matcher (title
    dedup, entity aliasing, URL-slug drift) that complements the
    set-similarity family (jaccard/minhash/simhash measure token
    overlap; edit distance catches single-character drift tokenizers
    can't see).

    Candidate law: ``lev(a, b) <= d`` forces ``|len(a) - len(b)| <= d``,
    so each string emits its length band ``[len, len + d]`` (constant
    ``d + 1`` fan-out) and candidates meet in an equi-join of band
    against EXACT length — cross-length pairs meet exactly once (only
    the shorter side's band reaches the longer side's length); equal-
    length pairs dedupe by the id tie-break. The verify is the built-in
    ``levenshtein`` (identical integer DP on both engines).

    Scale note: a length band is a coarse block — for corpus-scale
    string tables compose with the PPJoin prefix filter
    (:func:`jaccard_prefix_pairs`) on character q-grams to thin the
    band first (the standard count-filter cascade); the band join here
    is the exact, dependency-free core. Inputs are deduplicated on the
    string: run AFTER exact dedup (distance-0 pairs of identical
    strings are exact-dedup's job, and roster semantics stay with it).

    Returns ``(id_a, id_b, dist)`` with dist in [0, max_dist] — 0 only
    when duplicate strings slipped past the caller's dedup.
    """
    d = int(max_dist)
    if d < 0:
        raise ValueError("editdist_pairs: max_dist must be >= 0")
    base = strings.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).alias("__len"),
    )
    probe = base.select(
        F.col("__id").alias("id_a"),
        F.col("__s").alias("s_a"),
        F.col("__len").alias("len_a"),
        F.explode(
            F.sequence(F.col("__len"), F.col("__len") + F.lit(d))
        ).alias("__band"),
    )
    exact = base.select(
        F.col("__id").alias("id_b"),
        F.col("__s").alias("s_b"),
        F.col("__len").alias("__band"),
    )
    cand = probe.join(exact, "__band").where(
        (F.col("len_a") < F.col("__band"))
        | (F.col("id_a") < F.col("id_b"))
    )
    return cand.select(
        "id_a",
        "id_b",
        F.levenshtein("s_a", "s_b").alias("dist"),
    ).where(F.col("dist") <= F.lit(d))


def editdist_pairs_sql(
    strings_sql: str,
    max_dist: int = 1,
    id_expr: str = "id",
    str_expr: str = "s",
) -> str:
    """DuckDB twin — same band/tie-break candidates, same built-in
    ``levenshtein`` verify."""
    d = int(max_dist)
    return f"""WITH ed_src AS (
  SELECT {id_expr} AS sid, {str_expr} AS s, length({str_expr}) AS slen
  FROM ({strings_sql})
),
ed_probe AS (
  SELECT sid AS id_a, s AS s_a, slen AS len_a,
         slen + unnest(range(0, {d + 1})) AS band
  FROM ed_src
),
ed_cand AS (
  SELECT p.id_a, p.s_a, e.sid AS id_b, e.s AS s_b
  FROM ed_probe p JOIN ed_src e ON e.slen = p.band
  WHERE p.len_a < e.slen OR p.id_a < e.sid
)
SELECT id_a, id_b, levenshtein(s_a, s_b) AS dist
FROM ed_cand WHERE levenshtein(s_a, s_b) <= {d}"""


def _cdc_chunks_col(s, codes, window: int, base: int, modulus: int, divisor: int):
    """Array of content-defined chunks of string column ``s`` — boundary
    at every position whose ``window``-char polynomial rolling hash ≡ 0
    (mod ``divisor``). ``codes`` is the MATERIALIZED per-row char-code
    array of ``s`` (projected once — the hash then costs ``window``
    array lookups per position instead of ``window`` substring
    re-evaluations inside the interpreted lambda: measured ~10x). Pure
    HOF/array expressions; the hash stays < 256·window·base^(window-1)
    before ONE mod, overflow-free in int64 for the default parameters.
    The SQL twin computes the identical hash from substrings directly —
    staging is plan, not semantics."""
    L = F.length(s)

    def hexpr(i):
        acc = F.lit(0).cast("long")
        for j in range(window):
            acc = acc + F.element_at(codes, i - F.lit(j)) * F.lit(base**j)
        return F.pmod(acc, F.lit(modulus))

    pos = F.sequence(F.lit(window), L)
    bnd = F.filter(pos, lambda i: F.pmod(hexpr(i), F.lit(divisor)) == 0)
    # interior boundaries only, then the end — uniform for empty bnd and
    # for a boundary landing exactly on L
    bnds = F.when(L < F.lit(window), F.array(L)).otherwise(
        F.concat(F.filter(bnd, lambda p: p < L), F.array(L))
    )
    starts = F.concat(
        F.array(F.lit(1)),
        F.transform(F.slice(bnds, 1, F.size(bnds) - 1), lambda p: p + 1),
    )
    return F.zip_with(starts, bnds, lambda st, en: F.substring(s, st, en - st + 1))


def cdc_shared_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    base: int = 31,
    modulus: int = 1_000_003,
    divisor: int = 32,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined-chunking dedup (the rsync/LBFS law): split each
    normalized document at ROLLING-HASH boundaries — so chunk edges
    follow content, not offsets — fingerprint the chunks, and report
    fingerprints shared by at least ``min_docs`` documents. Catches
    shifted duplicated passages that fixed paragraph/offset chunking
    misses (an inserted sentence moves every downstream fixed block,
    but CDC boundaries re-synchronize within one window).

    Average chunk length ≈ ``divisor`` characters (boundary probability
    1/divisor per position). Returns ``(chunk_fp, n_docs, chunk_len)``.

    Plan shape (100 TB lens): chunking is pure per-row array
    expressions riding the scan (zero shuffle; O(len·window) work per
    doc with a constant window); the dedup is one (doc, fp) DISTINCT +
    one fp hash agg — after the distinct, ``count(*)`` IS the
    distinct-doc count. No pairwise joins anywhere: fingerprint
    grouping replaces pair enumeration, which is why storage dedup
    systems scale this way.
    """
    normed = docs.select(
        F.col(id_col).alias("__id"), norm_text(text_col).alias("__s")
    )
    sc = F.col("__s")
    staged = normed.select(
        "__id",
        "__s",
        F.transform(
            F.sequence(F.lit(1), F.length(sc)),
            lambda i: F.ascii(F.substring(sc, i, 1)).cast("long"),
        ).alias("__codes"),
    )
    chunks = _cdc_chunks_col(
        F.col("__s"), F.col("__codes"), window, base, modulus, divisor
    )
    per_doc = (
        staged.select("__id", F.explode(chunks).alias("__c"))
        .select("__id", F.md5(F.col("__c")).alias("chunk_fp"),
                F.length("__c").alias("__len"))
        .distinct()
    )
    return (
        per_doc.groupBy("chunk_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("__len").alias("chunk_len"),
        )
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
    )


def cdc_shared_chunks_sql(
    docs_sql: str,
    id_expr: str = "doc_id",
    text_expr: str = "text",
    window: int = 8,
    base: int = 31,
    modulus: int = 1_000_003,
    divisor: int = 32,
    min_docs: int = 2,
) -> str:
    """DuckDB twin — identical rolling-hash/boundary/fingerprint law."""
    from .text import norm_text_sql

    n = norm_text_sql(text_expr)
    hterms = " + ".join(
        f"CAST(ascii(substring(s, CAST(i - {j} AS INT), 1)) AS BIGINT)"
        f" * CAST({base**j} AS BIGINT)"
        for j in range(window)
    )
    return f"""WITH cdc_src AS (
  SELECT {id_expr} AS did, {n} AS s FROM ({docs_sql})
),
cdc_b AS (
  SELECT did, s, length(s) AS L,
         CASE WHEN length(s) < {window} THEN [length(s)]
              ELSE list_concat(
                list_filter(
                  list_filter(range({window}, length(s) + 1),
                              i -> (({hterms}) % {modulus}) % {divisor} = 0),
                  p -> p < length(s)),
                [length(s)])
         END AS bnds
  FROM cdc_src
),
cdc_sp AS (
  SELECT did, s, bnds,
         list_concat([1], list_transform(bnds[1:len(bnds)-1], p -> p + 1)) AS starts
  FROM cdc_b
),
cdc_ch AS (
  SELECT did,
         unnest(list_transform(list_zip(starts, bnds),
                z -> substring(s, CAST(z[1] AS INT),
                               CAST(z[2] - z[1] + 1 AS INT)))) AS c
  FROM cdc_sp
),
cdc_fp AS (
  SELECT DISTINCT did, md5(c) AS chunk_fp, length(c) AS clen FROM cdc_ch
)
SELECT chunk_fp, count(*) AS n_docs, min(clen) AS chunk_len
FROM cdc_fp GROUP BY chunk_fp
HAVING count(*) >= {int(min_docs)}"""


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Excerpt / quotation detection: doc pairs (a < b) whose shingle-set
    CONTAINMENT — ``|A ∩ B| / min(|A|, |B|)`` — reaches ``threshold``.

    The asymmetric sibling of :func:`jaccard_pairs`: a short article
    quoted whole inside a long aggregator page has near-zero Jaccard
    (the union is dominated by the big doc) but containment ≈ 1 — the
    relationship a dedup pipeline must catch to avoid training on the
    same passage twice. Broder's containment measure, min-normalized so
    one row covers both directions.

    Plan identical to :func:`jaccard_pairs` (shingle self-join
    candidates). ``max_doc_freq`` is the skew guard: shingles in more
    documents than the cap are dropped from candidates AND counts, so
    the score is the containment over the retained shingles and stays
    self-consistent; the score is one division of exact integers. Returns
    ``(a, b, n_inter, n_a, n_b, containment)``.
    """
    sh = _shingle_table(docs, id_col, text_col, n)
    if max_doc_freq is not None:
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(
            dfreq.filter(F.col("__df") <= max_doc_freq), "sh", "left_semi"
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a"), "sh")
    b = sh.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "n_a"),
            "a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "n_b"),
            "b",
        )
        .withColumn(
            "containment",
            F.col("n_inter").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "n_inter", "n_a", "n_b", "containment")
    )


def containment_pairs_sql(
    docs_sql: str,
    threshold: float = 0.8,
    n: int = 3,
    id_expr: str = "doc_id",
    text_expr: str = "text",
    max_doc_freq: int | None = None,
) -> str:
    """DuckDB twin — identical shingle/cap/min-normalized law."""
    from .text import shingles_sql

    sh = shingles_sql(text_expr, n)
    cap = (
        f""",
cn_kept AS (
  SELECT did, sh FROM cn_sh
  WHERE sh IN (SELECT sh FROM cn_sh GROUP BY sh
               HAVING count(*) <= {int(max_doc_freq)})
)"""
        if max_doc_freq is not None
        else """,
cn_kept AS (SELECT * FROM cn_sh)"""
    )
    return f"""WITH cn_src AS ({docs_sql}),
cn_sh AS (
  SELECT {id_expr} AS did, unnest({sh}) AS sh FROM cn_src
){cap},
cn_sizes AS (SELECT did, count(*) AS n_sh FROM cn_kept GROUP BY did),
cn_inter AS (
  SELECT a.did AS a, b.did AS b, count(*) AS n_inter
  FROM cn_kept a JOIN cn_kept b ON a.sh = b.sh AND a.did < b.did
  GROUP BY a.did, b.did
)
SELECT i.a, i.b, i.n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(i.n_inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE)
         AS containment
FROM cn_inter i
JOIN cn_sizes sa ON sa.did = i.a JOIN cn_sizes sb ON sb.did = i.b
WHERE CAST(i.n_inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE)
      >= {float(threshold)!r}"""
