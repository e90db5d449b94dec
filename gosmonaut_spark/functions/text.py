"""Text-analysis functions for a large-scale training-data pipeline.

All hot-path functions are native Column expressions (JVM, codegen) with an
ANSI-SQL twin for the DuckDB oracle. The shared discipline: identical
normalization (lower → strip non-alnum → collapse spaces → trim) and
identical arithmetic on both engines, so value-hash comparisons pass
bit-for-bit (doubles) or exactly (ints/strings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# normalization + tokens
# ---------------------------------------------------------------------------


def norm_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " +", " "
        )
    )


def norm_text_sql(expr: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace(lower({e}), '[^a-z0-9]+', ' ', 'g'),"
        " ' +', ' ', 'g'))"
    ).format(e=expr)


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text; empty text -> empty array."""
    n = norm_text(col)
    return F.when(n == "", F.array().cast("array<string>")).otherwise(
        F.split(n, " ")
    )


def tokens_sql(expr: str) -> str:
    n = norm_text_sql(expr)
    return (
        f"CASE WHEN {n} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split({n}, ' ') END"
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def token_count_sql(expr: str) -> str:
    return f"CAST(len({tokens_sql(expr)}) AS BIGINT)"


# ---------------------------------------------------------------------------
# BPE-ish subword count: a regex proxy for tokenizer load (word pieces +
# digits + punctuation runs), the standard pre-tokenizer shape
# ---------------------------------------------------------------------------

_BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def subword_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_RE), 0)).cast("long")


def subword_count_sql(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({expr}, '{_BPE_RE}')) AS BIGINT)"
    )


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One BPE merge round over the corpus: corpus-weighted adjacent
    character-pair frequencies of the normalized word stream — the
    statistic a byte-pair-encoding vocabulary trainer computes each
    merge (argmax row = the pair to merge).

    Returns ``(pair, n_occurrences)`` over every word occurrence.

    Plan (the classic BPE trainer optimization, relationally): collapse
    the corpus to its word-frequency dictionary FIRST (one hash agg —
    the char-level fan-out then scales with |vocab|, not corpus bytes),
    then explode each distinct word's adjacent pairs via a codegen
    ``transform(sequence(...))`` and sum the word weights. Key space is
    bounded by the normalized alphabet² (~1.3k pairs) so the final agg
    is map-side-combined to almost nothing. Words shorter than 2 chars
    are guarded out BEFORE ``sequence`` (Spark's ``sequence(1, 0)``
    would descend, not return empty).
    """
    words = (
        docs.select(F.explode(tokens(text_col)).alias("__w"))
        .where(F.length("__w") >= 2)
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    pair = F.explode(
        F.expr("transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))")
    )
    return (
        words.select(pair.alias("pair"), "__n")
        .groupBy("pair")
        .agg(F.sum("__n").alias("n_occurrences"))
    )


def bpe_pair_counts_sql(docs_sql: str, text_expr: str = "text") -> str:
    """DuckDB twin — same dictionary-first law; ``range(1, len)`` is
    empty for 1-char words so the length guard matches by construction
    (kept anyway for symmetry)."""
    return f"""WITH bp_src AS ({docs_sql}),
bp_words AS (
  SELECT w AS word, count(*) AS n FROM (
    SELECT unnest({tokens_sql(text_expr)}) AS w FROM bp_src
  ) WHERE length(w) >= 2 GROUP BY w
),
bp_idx AS (
  SELECT word, n, unnest(range(1, length(word))) AS i FROM bp_words
)
SELECT substring(word, CAST(i AS INT), 2) AS pair,
       CAST(sum(n) AS BIGINT) AS n_occurrences
FROM bp_idx GROUP BY pair"""


# ---------------------------------------------------------------------------
# language id: stopword-hit voting (n-gram heuristic, no external models)
# ---------------------------------------------------------------------------

STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "and", "of", "to", "is", "for", "with", "that"],
    "es": ["el", "los", "las", "es", "para", "una", "por", "con"],
    "fr": ["le", "les", "est", "pour", "une", "dans", "que", "sur"],
    "pt": ["os", "uma", "para", "com", "por", "mais", "dos", "das"],
}


def lang_scores(col: Column | str) -> dict[str, Column]:
    toks = tokens(col)
    return {
        lang: F.size(
            F.filter(toks, lambda t: t.isin(*words))
        ).cast("long")
        for lang, words in STOPWORDS.items()
    }


def lang_id(col: Column | str) -> Column:
    """argmax language by stopword hits; ties -> lexicographically first
    language; all-zero -> 'und'. Deterministic on both engines."""
    scores = lang_scores(col)
    # fold in reverse-lexicographic order with `>=`: on ties the later
    # (lexicographically smaller) language wins; `>= max(best,1)` keeps
    # 'und' when every score is zero. The SQL twin folds identically.
    expr = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in sorted(STOPWORDS, reverse=True):
        s = scores[lang]
        expr = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(expr)
        best_score = F.greatest(best_score, s)
    return expr


def lang_id_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    score = {
        lang: (
            f"len(list_filter({toks}, t -> t IN "
            f"({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in STOPWORDS.items()
    }
    out = "'und'"
    best = "CAST(0 AS BIGINT)"
    for lang in sorted(STOPWORDS, reverse=True):
        s = score[lang]
        out = f"CASE WHEN {s} >= greatest({best}, 1) THEN '{lang}' ELSE {out} END"
        best = f"greatest({best}, {s})"
    return out


# ---------------------------------------------------------------------------
# quality scoring: length / punctuation / stopword ratios
# ---------------------------------------------------------------------------


def quality_features(col: Column | str) -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("long")
    n_alnum = F.length(F.regexp_replace(c, "[^a-zA-Z0-9]", "")).cast("long")
    n_tokens = token_count(c)
    toks = tokens(c)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*all_stop))).cast("long")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alnum_ratio": F.when(n_chars > 0, n_alnum.cast("double") / n_chars).otherwise(
            F.lit(0.0)
        ),
        "stop_ratio": F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(
            F.lit(0.0)
        ),
        "mean_token_len": F.when(
            n_tokens > 0,
            F.length(F.array_join(toks, "")).cast("double") / n_tokens,
        ).otherwise(F.lit(0.0)),
    }


def quality_features_sql(expr: str) -> dict[str, str]:
    toks = tokens_sql(expr)
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_in = ", ".join(repr(w) for w in all_stop)
    n_chars = f"CAST(length({expr}) AS BIGINT)"
    n_alnum = f"CAST(length(regexp_replace({expr}, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT)"
    n_tokens = token_count_sql(expr)
    n_stop = f"CAST(len(list_filter({toks}, t -> t IN ({stop_in}))) AS BIGINT)"
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alnum_ratio": (
            f"CASE WHEN {n_chars} > 0 THEN CAST({n_alnum} AS DOUBLE) / {n_chars} "
            f"ELSE 0.0 END"
        ),
        "stop_ratio": (
            f"CASE WHEN {n_tokens} > 0 THEN CAST({n_stop} AS DOUBLE) / {n_tokens} "
            f"ELSE 0.0 END"
        ),
        "mean_token_len": (
            f"CASE WHEN {n_tokens} > 0 THEN "
            f"CAST(length(list_aggregate({toks}, 'string_agg', '')) AS DOUBLE) / {n_tokens} "
            f"ELSE 0.0 END"
        ),
    }


# ---------------------------------------------------------------------------
# document fingerprinting: md5 content hash + shingle fingerprints
# (md5 is the cross-engine deterministic hash; xxhash64 is Spark-only so it
# stays out of anything oracle-checked)
# ---------------------------------------------------------------------------


def content_fingerprint(col: Column | str) -> Column:
    return F.md5(norm_text(col))


def content_fingerprint_sql(expr: str) -> str:
    return f"md5({norm_text_sql(expr)})"


def _grams(col: Column | str, n: int, short: bool) -> Column:
    """Word n-grams of the normalized text, in order, from one codegen'd
    ``regexp_extract_all`` (no lambda, so the text is normalized once, not
    once per gram): group 1 of a zero-width match at every token start is
    the n-gram starting there, so the grams overlap. ``short`` adds a
    branch, anchored at the text's start, that captures the whole text
    when it has 0 < k < n tokens. NULL text gives NULL from the regex,
    hence the coalesce to []."""
    gram = "[^ ]+(?: [^ ]+){%d}" % (n - 1)
    if short and n > 1:
        gram += "|^[^ ]+(?: [^ ]+){0,%d}$" % (n - 2)
    return F.coalesce(
        F.regexp_extract_all(norm_text(col), F.lit("(?<![^ ])(?=(%s))" % gram), 1),
        F.array().cast("array<string>"),
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (order-free set).
    Documents shorter than n tokens yield their full token join as the one
    shingle (so short docs still participate in dedup)."""
    return F.array_distinct(_grams(col, n, short=True))


def _with_tokens_sql(expr: str, body: str) -> str:
    # DuckDB re-evaluates an outer expression inside a lambda once per
    # element: bind the tokens once, as ``t``, over a one-element list
    return f"list_transform([{tokens_sql(expr)}], t -> {body})[1]"


def shingles_sql(expr: str, n: int = 3) -> str:
    grams = (
        f"list_transform(range(1, greatest(len(t) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))"
    )
    return _with_tokens_sql(
        expr,
        f"CASE WHEN len(t) > 0 THEN list_distinct({grams}) "
        f"ELSE CAST([] AS VARCHAR[]) END",
    )


def ngrams(col: Column | str, n: int = 2) -> Column:
    """Word n-grams of the normalized text WITH multiplicity (LM-prep
    counting wants every occurrence; `shingles` above dedups for set
    similarity). Documents shorter than n tokens yield no n-grams."""
    return _grams(col, n, short=False)


def ngrams_sql(expr: str, n: int = 2) -> str:
    return _with_tokens_sql(
        expr,
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_transform(range(1, len(t) - {n - 1} + 1), "
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END",
    )


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality filters): duplicate-token and
# top-n-gram mass per document. Implemented as explode -> groupBy so the
# whole plan is whole-stage-codegen aggregation; tokens of one document are
# emitted inside one input row, so the (id, token) pre-aggregation is
# map-side combined before the id-keyed shuffle — per-doc cost stays local
# no matter the corpus size.
# ---------------------------------------------------------------------------


def repetition_stats(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document repetition features: token duplication ratio, the most
    frequent token's share, and the most frequent bigram's share.

    Returns (id, n_tokens, n_distinct_tokens, dup_token_ratio,
    top_token_count, top_token_ratio, top_bigram_count, top_bigram_ratio)
    with ratios as IEEE double divisions of two BIGINTs (bit-identical on
    any engine). Documents with no tokens report zeros.
    """
    did = F.col(id_col)
    tok = docs.select(did, F.explode(tokens(text_col)).alias("tok"))
    per_tok = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    tok_stats = per_tok.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.max("c").alias("top_token_count"),
    )
    bg = docs.select(did, F.explode(ngrams(text_col, 2)).alias("bg"))
    per_bg = bg.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("c"))
    bg_stats = per_bg.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
    )
    nt = F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
    nd = F.coalesce(F.col("n_distinct_tokens"), F.lit(0).cast("long"))
    tt = F.coalesce(F.col("top_token_count"), F.lit(0).cast("long"))
    nb = F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long"))
    tb = F.coalesce(F.col("top_bigram_count"), F.lit(0).cast("long"))
    return (
        docs.select(did)
        .join(tok_stats, id_col, "left")
        .join(bg_stats, id_col, "left")
        .select(
            did,
            nt.alias("n_tokens"),
            nd.alias("n_distinct_tokens"),
            F.when(nt > 0, (nt - nd).cast("double") / nt)
            .otherwise(F.lit(0.0))
            .alias("dup_token_ratio"),
            tt.alias("top_token_count"),
            F.when(nt > 0, tt.cast("double") / nt)
            .otherwise(F.lit(0.0))
            .alias("top_token_ratio"),
            tb.alias("top_bigram_count"),
            F.when(nb > 0, tb.cast("double") / nb)
            .otherwise(F.lit(0.0))
            .alias("top_bigram_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# corpus-frequency boilerplate strip (CCNet-style): drop every token whose
# document frequency exceeds a corpus-wide fraction, keep the rest in
# original order. The high-DF term list is tiny by construction (few terms
# can appear in > max_df_frac of all documents), so the strip join is a
# broadcast; the only full shuffles are the token-keyed DF count (bounded
# by vocabulary size, map-side combined) and the id-keyed reassembly.
# ---------------------------------------------------------------------------


def strip_high_df_tokens(
    docs,
    max_df_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Remove corpus-boilerplate tokens (document frequency > max_df_frac
    of all documents) and reassemble the surviving tokens in their original
    order. Returns (id, clean_text)."""
    from pyspark.sql.functions import broadcast

    did = F.col(id_col)
    tok = docs.select(
        did, F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    # document frequency: dedup within the document first (array_distinct
    # before explode), then a plain count — no expensive countDistinct
    dfc = (
        docs.select(did, F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    high = (
        dfc.crossJoin(broadcast(total))
        .where(F.col("df") > F.lit(max_df_frac) * F.col("n_docs"))
        .select("tok")
    )
    kept = tok.join(broadcast(high), "tok", "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text")
    )
    return (
        docs.select(did)
        .join(clean, id_col, "left")
        .select(did, F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"))
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap against an eval set)
# ---------------------------------------------------------------------------


def ngram_contamination(
    docs,
    eval_docs,
    n: int = 5,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Flag training documents sharing word n-grams with an eval set.

    The standard pre-training decontamination pass (eval-set n-gram
    overlap): build the DISTINCT n-gram set of the eval corpus, then count
    per training document how many of ITS distinct n-grams appear in that
    set. Returns ``(id_col, n_overlap)`` for documents with
    ``n_overlap >= min_overlap`` — the rows a cleaning pipeline drops or
    audits.

    Scale shape: eval sets are tiny next to the corpus (benchmarks are
    thousands of documents vs billions), so the eval n-gram set is
    broadcast and the plan is explode → broadcast-hash semi-join →
    partial-aggregated count — one shuffle, on ``id_col`` only. At 100 TB
    swap the exact broadcast set for a Bloom filter built with
    ``DataFrame.stat.bloomFilter`` on the same exploded column (same plan,
    ~1e-4 false-flag rate, no correctness risk on the KEEP side).
    """
    from pyspark.sql.functions import broadcast

    ev = (
        eval_docs.select(F.explode(shingles(text_col, n)).alias("s"))
        .distinct()
    )
    tr = docs.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("s"))
    return (
        tr.join(broadcast(ev), "s", "inner")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def ngram_contamination_sql(
    docs_sql: str,
    eval_sql: str,
    n: int = 5,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    sh = shingles_sql(text_expr, n)
    return f"""WITH ev AS (
  SELECT DISTINCT unnest({sh}) AS s FROM ({eval_sql})
),
tr AS (SELECT {id_col}, unnest({sh}) AS s FROM ({docs_sql}))
SELECT tr.{id_col} AS {id_col}, count(*) AS n_overlap
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY tr.{id_col}
HAVING count(*) >= {min_overlap}"""


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2),
    m rounded up to a whole 64-bit word."""
    import math

    n_items = max(1, n_items)
    m = int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _bloom_positions(col, m: int, k: int):
    """k bit positions for a string column — Kirsch–Mitzenmacher double
    hashing over two xxhash64 streams (`h1 + i·h2 mod m`). The hashes are
    masked (h1 to 62 bits, h2 to 31 bits, forced odd) so the combine is
    overflow-free under ANSI mode: h1 + (k-1)·h2 < 2^62 + k·2^31 fits a
    long for any practical k. Pure Column expressions."""
    h1 = F.xxhash64(col).bitwiseAND(F.lit(0x3FFFFFFFFFFFFFFF))
    h2 = F.xxhash64(col, F.lit(0x9E3779B9)).bitwiseAND(F.lit(0x7FFFFFFF)).bitwiseOR(
        F.lit(1)
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, F.lit(m)),
    )


def ngram_contamination_bloom(
    docs,
    eval_docs,
    n: int = 5,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 1e-4,
    expected_items: int | None = None,
    verify: bool = True,
):
    """:func:`ngram_contamination` with the documented Bloom-filter swap.

    At 100 TB the exact broadcast of the eval n-gram set stops fitting;
    this variant distills it to a Bloom BITMAP TABLE of ``m/64`` rows
    ``(word_idx, word_bits)`` built with one native aggregation (xxhash64
    positions → ``bit_or`` of shifted bits — no driver-side set, no UDF).
    The training side computes the same k positions per distinct shingle,
    broadcast-joins the bitmap on ``word_idx`` and keeps shingles with all
    k bits set — candidate generation is an equi-join, never all-pairs,
    and the bitmap broadcast is ~19 bits per eval shingle at fpp=1e-4
    (vs the full strings for the exact path).

    ``verify=True`` (default) re-checks Bloom candidates against the real
    eval set — candidates are a vanishing fraction of the corpus, so the
    verify join is tiny, and the output is EXACTLY the exact path's
    (false positives scrubbed; the KEEP side was never at risk: Bloom has
    no false negatives). ``verify=False`` skips that join and may flag up
    to ``fpp`` extra shingles — the pure-streaming shape for when even
    the verify join is unwanted.

    ``expected_items``: eval distinct-shingle count used to size the
    filter; counted with one job when omitted.
    """
    from pyspark.sql.functions import broadcast

    from .caching import attach_cached

    handles = []
    ev = eval_docs.select(F.explode(shingles(text_col, n)).alias("s")).distinct()
    if expected_items is None:
        ev = ev.persist()
        handles.append(ev)
        expected_items = ev.count()
    m, k = _bloom_params(expected_items, fpp)
    bits = (
        ev.select(F.explode(_bloom_positions(F.col("s"), m, k)).alias("p"))
        .select(
            (F.col("p") / F.lit(64)).cast("long").alias("word_idx"),
            F.pmod(F.col("p"), F.lit(64)).cast("int").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("word_bits"))
    )
    tr = docs.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("s")
    ).withColumn("p", F.explode(_bloom_positions(F.col("s"), m, k)))
    probed = (
        tr.select(
            id_col,
            "s",
            (F.col("p") / F.lit(64)).cast("long").alias("word_idx"),
            F.pmod(F.col("p"), F.lit(64)).cast("int").alias("bit"),
        )
        .join(broadcast(bits), "word_idx", "left")
        .withColumn(
            "hit",
            F.coalesce(
                F.expr("(word_bits & shiftleft(1L, bit)) != 0"), F.lit(False)
            ),
        )
    )
    cand = (
        probed.groupBy(id_col, "s")
        .agg(F.every("hit").alias("might"))
        .where("might")
        .drop("might")
    )
    if verify:
        cand = cand.join(ev, "s", "left_semi")
    out = (
        cand.groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return attach_cached(out, handles)


# ---------------------------------------------------------------------------
# PII detection + redaction (regex, codegen-side — no UDF)
# ---------------------------------------------------------------------------

# deliberately simple patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): explicit character classes + bounded repetition + \b (ASCII
# word boundary in both engines) — no lookaround, no inline (?i) (RE2
# scopes it differently than Java under regexp_replace's flag handling).
# Mixed-case addresses (Bob@Site.ORG) match via the explicit [A-Za-z]
# classes; the \b anchors keep the phone pattern from eating a 3+4-digit
# prefix out of longer digit runs (dates, IDs, '123-45678').
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[- ]\d{4}\b"


def pii_scrub(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Detect and redact emails/phone numbers; count matches per document.

    Pure ``regexp_extract_all`` / ``regexp_replace`` Column expressions —
    stays inside whole-stage codegen, embarrassingly parallel (no shuffle
    at all: the plan is scan → project). Output:
    ``(id_col, n_emails, n_phones, redacted)``.
    """
    c = F.col(text_col)
    emails = F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0)
    phones = F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0)
    red = F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return docs.select(
        F.col(id_col),
        F.size(emails).alias("n_emails"),
        F.size(phones).alias("n_phones"),
        red.alias("redacted"),
    )


def pii_scrub_sql(id_col: str = "doc_id", text_expr: str = "text") -> str:
    return (
        f"SELECT {id_col}, "
        f"CAST(len(regexp_extract_all({text_expr}, '{PII_EMAIL_RE}')) AS INT) AS n_emails, "
        f"CAST(len(regexp_extract_all({text_expr}, '{PII_PHONE_RE}')) AS INT) AS n_phones, "
        f"regexp_replace(regexp_replace({text_expr}, '{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted"
    )


def oov_bigram_rate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Character-level gibberish score: the share of a document's
    word-internal char bigrams that are OUT of the corpus vocabulary
    (bigrams occurring >= ``min_df`` times corpus-wide) — a cheap
    perplexity proxy (random strings, mojibake, and ROT-13'd spam score
    high; natural text scores near 0) that needs no language model and
    no transcendentals.

    Returns ``(id, n_bigrams, n_oov, oov_rate)`` for documents with at
    least one bigram; ``oov_rate`` is ONE division of exact integers
    (bit-identical cross-engine).

    Plan shape (100 TB lens): the vocabulary is the
    :func:`bpe_pair_counts` dictionary-first aggregation (key space
    alphabet² — broadcast side of the flag join); per-doc bigrams ride
    the scan via the same codegen ``transform(sequence)``; the flag is
    a broadcast LEFT join + one doc-keyed hash agg.
    """
    vocab = bpe_pair_counts(docs, text_col).where(
        F.col("n_occurrences") >= F.lit(int(min_df))
    ).select("pair")
    per_doc = (
        docs.select(
            F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("__w")
        )
        .where(F.length("__w") >= 2)
        .select(
            "__id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(__w) - 1),"
                    " i -> substring(__w, i, 2))"
                )
            ).alias("pair"),
        )
    )
    flagged = per_doc.join(
        F.broadcast(vocab.select("pair", F.lit(1).alias("__in"))), "pair", "left"
    )
    return (
        flagged.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_bigrams",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_bigrams").cast("double"), 9
            ).alias("oov_rate"),
        )
    )


def oov_bigram_rate_sql(
    docs_sql: str,
    id_expr: str = "doc_id",
    text_expr: str = "text",
    min_df: int = 2,
) -> str:
    """DuckDB twin — same dictionary/flag/count law."""
    return f"""WITH ov_src AS ({docs_sql}),
ov_vocab AS (
  SELECT pair FROM (
{bpe_pair_counts_sql(f"SELECT {text_expr} FROM ov_src", text_expr)}
  ) WHERE n_occurrences >= {int(min_df)}
),
ov_doc AS (
  SELECT did, substring(w, CAST(i AS INT), 2) AS pair FROM (
    SELECT {id_expr} AS did, w, unnest(range(1, length(w))) AS i FROM (
      SELECT {id_expr}, unnest({tokens_sql(text_expr)}) AS w FROM ov_src
    ) WHERE length(w) >= 2
  )
),
ov_f AS (
  SELECT d.did, CASE WHEN v.pair IS NULL THEN 1 ELSE 0 END AS oov
  FROM ov_doc d LEFT JOIN ov_vocab v ON v.pair = d.pair
)
SELECT did AS {id_expr}, count(*) AS n_bigrams,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       round(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS oov_rate
FROM ov_f GROUP BY did"""


# ---------------------------------------------------------------------------
# readability (Flesch reading-ease proxy, model-free)
# ---------------------------------------------------------------------------


def readability(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease proxy per document →
    ``(id, n_words, n_sentences, n_syllables, flesch)``.

    The quality-gate sibling of :func:`quality_features`: corpus
    curation pipelines bucket documents by reading level (children's
    text vs legalese) before sampling training mixes. No dictionary, no
    model: sentences are maximal ``[.!?]+`` runs (min 1 — headlines
    count as one sentence), words are the whitespace tokens every other
    text op here uses, and syllables are the standard vowel-group proxy
    — maximal ``[aeiouy]+`` runs over the lowercase text (a word
    without vowels contributes 0; documented proxy, not hyphenation).

    ``flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    words)`` — counts are exact integers; the two divisions and the
    affine fold run in doubles through the IDENTICAL expression tree on
    both engines (same literals, same order), so results match bitwise.
    Docs with zero words are dropped (no defined score).

    Scale: three ``regexp``/split counts per row, zero shuffles beyond
    the caller's — pure codegen projection.
    """
    norm = norm_text(text_col)
    n_words = token_count(text_col)
    n_sent = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), 0)).cast(
            "long"
        ),
    )
    n_syll = F.size(
        F.regexp_extract_all(norm, F.lit(r"[aeiouy]+"), 0)
    ).cast("long")
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        (
            F.lit(206.835)
            - F.lit(1.015)
              * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6)
              * (n_syll.cast("double") / n_words.cast("double"))
        ).alias("flesch"),
    ).where(F.col("n_words") > 0)


def readability_sql(
    docs_sql: str, id_expr: str = "doc_id", text_expr: str = "text"
) -> str:
    """DuckDB twin — identical counts and the identical double fold."""
    words = token_count_sql(text_expr)
    sent = (
        f"greatest(CAST(1 AS BIGINT), CAST(length(regexp_extract_all("
        f"{text_expr}, '[.!?]+')) AS BIGINT))"
    )
    syll = (
        f"CAST(length(regexp_extract_all({norm_text_sql(text_expr)}, "
        f"'[aeiouy]+')) AS BIGINT)"
    )
    return f"""WITH rd_src AS ({docs_sql}),
rd_c AS (
  SELECT {id_expr} AS id, {words} AS n_words, {sent} AS n_sentences,
         {syll} AS n_syllables
  FROM rd_src
)
SELECT id AS {id_expr}, n_words, n_sentences, n_syllables,
       206.835
       - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         AS flesch
FROM rd_c WHERE n_words > 0"""


# ---------------------------------------------------------------------------
# bigram-LM perplexity proxy (model-free quality score)
# ---------------------------------------------------------------------------


def bigram_perplexity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-bigram-LM perplexity per document →
    ``(id, n_bigrams, avg_nll, ppl)``.

    The no-external-model stand-in for LM-perplexity quality filtering
    (the CCNet/Gopher gate): train add-one-smoothed bigram
    probabilities on THIS corpus, score every document by its average
    negative log-likelihood — low = fluent-for-this-corpus, high =
    novel or garbled. A document's own bigrams count toward the model
    (corpus-internal novelty scoring; the standard held-in convention,
    documented).

        P(w2|w1) = (n(w1,w2) + 1) / (n(w1) + V)

    with V = unigram vocabulary size, all counts exact integers.

    Cross-engine exactness WITHOUT rounding: each bigram's
    ``ln(n12+1) − ln(n1+V)`` is one identical IEEE expression, and the
    per-document sum folds LEFT-TO-RIGHT IN POSITION ORDER (array_sort
    by position + ``aggregate`` vs ``list(ORDER BY pos)`` +
    ``list_reduce``) — no reassociation anywhere, so ``avg_nll`` and
    ``ppl = exp(avg_nll)`` are bit-identical on both engines.

    Scale shape: two corpus-wide count aggs (map-side combinable), one
    broadcastable V scalar, bigram explode ⨝ counts (equi-joins on the
    token keys), then one per-doc collect_list bounded by document
    length — the same per-doc bound every text op here carries.
    """
    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col).alias("id"), toks.alias("t")
    ).where(F.size("t") >= 2)
    pairs = base.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(CAST(i AS LONG) AS pos, "
                "element_at(t, CAST(i AS INT)) AS w1, "
                "element_at(t, CAST(i AS INT) + 1) AS w2))"
            )
        ).alias("p"),
    ).select("id", "p.pos", "p.w1", "p.w2")
    uni = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            "pos",
            (
                F.log((F.col("n12") + F.lit(1)).cast("double"))
                - F.log((F.col("n1") + F.col("v")).cast("double"))
            ).alias("ll"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ll"))),
                    lambda s: s["ll"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__sum"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            F.round(
                -F.col("__sum") / F.col("n_bigrams").cast("double"), 9
            ).alias("avg_nll"),
            # exp() is the one non-correctly-rounded libm call in this
            # op (JVM vs libm differ by 1 ulp) — round(9) per convention
            F.round(
                F.exp(-F.col("__sum") / F.col("n_bigrams").cast("double")), 9
            ).alias("ppl"),
        )
    )


def bigram_perplexity_sql(
    docs_sql: str, id_expr: str = "doc_id", text_expr: str = "text"
) -> str:
    """DuckDB twin — identical counts, per-term log expression and
    position-ordered fold."""
    t = tokens_sql(text_expr)
    return f"""WITH bp2_src AS MATERIALIZED (
  SELECT {id_expr} AS id, {t} AS t FROM ({docs_sql})
),
bp2_pairs AS MATERIALIZED (
  SELECT id, i AS pos, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT id, t FROM bp2_src WHERE len(t) >= 2) s,
       LATERAL (SELECT unnest(range(1, len(t))) AS i) ix
),
bp2_uni AS (
  SELECT w, count(*) AS n1 FROM (
    SELECT unnest(t) AS w FROM bp2_src
  ) GROUP BY w
),
bp2_v AS (SELECT count(*) AS v FROM bp2_uni),
bp2_big AS (
  SELECT w1, w2, count(*) AS n12 FROM bp2_pairs GROUP BY w1, w2
),
bp2_sc AS (
  SELECT p.id, p.pos,
         ln(CAST(b.n12 + 1 AS DOUBLE)) - ln(CAST(u.n1 + v.v AS DOUBLE))
           AS ll
  FROM bp2_pairs p
  JOIN bp2_big b ON b.w1 = p.w1 AND b.w2 = p.w2
  JOIN bp2_uni u ON u.w = p.w1
  CROSS JOIN bp2_v v
),
bp2_agg AS (
  SELECT id, count(*) AS n_bigrams,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list(ll ORDER BY pos)),
           (acc, x) -> acc + x
         ) AS s
  FROM bp2_sc GROUP BY id
)
SELECT id AS {id_expr}, n_bigrams,
       round(-s / CAST(n_bigrams AS DOUBLE), 9) AS avg_nll,
       round(exp(-s / CAST(n_bigrams AS DOUBLE)), 9) AS ppl
FROM bp2_agg"""


# ---------------------------------------------------------------------------
# BPE merge learning (tokenizer training kernel)
# ---------------------------------------------------------------------------


def _bpe_rounds(
    docs: DataFrame,
    n_merges: int,
    text_col: str,
):
    """Learn the first ``n_merges`` BPE merges over the corpus →
    ``(merge_rank, lhs, rhs, pair_count)``.

    The actual LLM-preprocessing kernel (Sennrich et al. 2016): words
    (whitespace tokens) weighted by corpus frequency start as character
    sequences; each round counts every ADJACENT symbol pair occurrence
    (overlapping positions count, the reference convention), picks the
    most frequent pair — ties broken (count DESC, lhs ASC, rhs ASC), a
    total order, so the learned merge table is deterministic across
    engines and runs — and rewrites every word by the greedy
    LEFT-TO-RIGHT NON-OVERLAPPING merge.

    The greedy rewrite is pure Column algebra (no UDF): match positions
    ``ps = [i : seq[i]=lhs ∧ seq[i+1]=rhs]``; within a maximal run of
    CONSECUTIVE positions (which only arises for lhs == rhs, e.g. "aaaa")
    greedy applies every other match starting with the first. Two
    positions of ``ps`` belong to the same run iff ``p - index_in_ps(p)``
    is equal (ps is strictly increasing), so
    ``applied(p) ⟺ |{q ∈ ps : q < p ∧ same run}|`` is even — a nested
    array lambda, exactly mirrored by the DuckDB twin's ``list_filter``
    algebra (all integer/string ops: cross-engine exact by value, no
    float law needed).

    Scale shape (100 TB lens): the corpus collapses to the WORD VOCAB
    (one row per distinct token) after one hash aggregate — every round
    then works on vocab-sized data: one explode + hash-agg for pair
    counts, a driver-side 1-row argmax (the merge decision is inherently
    global and sequential — same bounded-driver-loop discipline as
    k-means/CC rounds), and a narrow per-row rewrite. ``n_merges`` is
    the round bound; lineage is truncated per round.
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select("w", F.split("w", "").alias("seq"), "wc")
    )
    merges: list[tuple] = []
    for r in range(int(n_merges)):
        # Spark sequence(1, 0) counts DOWN — guard 1-symbol words to an
        # empty pair-index list instead
        pair_idx = F.when(
            F.size("seq") >= 2, F.sequence(F.lit(1), F.size("seq") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pr = (
            words.select(
                "wc",
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at(F.col("seq"), i).alias("x"),
                            F.element_at(F.col("seq"), i + 1).alias("y"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("wc").alias("c"))
        )
        best = (
            pr.orderBy(F.col("c").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        bx, by, bc = best[0]["x"], best[0]["y"], int(best[0]["c"])
        merges.append((r + 1, bx, by, bc))
        x, y = F.lit(bx), F.lit(by)
        ps = F.filter(
            F.when(
                F.size("seq") >= 2, F.sequence(F.lit(1), F.size("seq") - 1)
            ).otherwise(F.array().cast("array<int>")),
            lambda i: (F.element_at(F.col("seq"), i) == x)
            & (F.element_at(F.col("seq"), i + 1) == y),
        )
        words = words.withColumn("ps", ps)
        applied = F.filter(
            F.col("ps"),
            lambda p: F.size(
                F.filter(
                    F.col("ps"),
                    lambda q: (q < p)
                    & (
                        (q - F.array_position(F.col("ps"), q))
                        == (p - F.array_position(F.col("ps"), p))
                    ),
                )
            )
            % 2
            == 0,
        )
        words = words.withColumn("ap", applied)
        out = F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size("seq")),
                lambda i: F.when(
                    F.exists(F.col("ap"), lambda a: a == i),
                    F.concat(
                        F.element_at(F.col("seq"), i),
                        F.element_at(F.col("seq"), i + 1),
                    ),
                )
                .when(F.exists(F.col("ap"), lambda a: a == i - 1), F.lit(None))
                .otherwise(F.element_at(F.col("seq"), i)),
            ),
            lambda s: s.isNotNull(),
        )
        words = (
            words.withColumn("seq", out)
            .drop("ps", "ap")
            .localCheckpoint(eager=False)
        )
    return words, merges


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """See :func:`_bpe_rounds` — returns the learned merge table
    ``(merge_rank, lhs, rhs, pair_count)``."""
    spark = docs.sparkSession
    _, merges = _bpe_rounds(docs, n_merges, text_col)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def bpe_encode_stats(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """The APPLY side of the tokenizer kernel: run the same ``n_merges``
    learned rewrites, then report the post-merge segmentation histogram —
    ``(n_symbols, n_words, n_occurrences)``: how many distinct words
    (and corpus occurrences, weighted by frequency) tokenize into k
    symbols after the learned merges. The compression curve every
    tokenizer-training run watches; same exact integer law as the
    learner (the words table IS the learner's final state)."""
    words, _ = _bpe_rounds(docs, n_merges, text_col)
    return (
        words.groupBy(F.size("seq").cast("long").alias("n_symbols"))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wc").alias("n_occurrences"),
        )
        .orderBy("n_symbols")
    )


def _bpe_sql_parts(docs_sql: str, n_merges: int, text_expr: str):
    """Shared CTE chain for the BPE twins: returns (with_clause,
    per-round merge selects, name of the final word table)."""
    ctes = [
        f"""bp_w0 AS MATERIALIZED (
  SELECT w, string_split(w, '') AS seq, count(*) AS wc FROM (
    SELECT unnest({tokens_sql(text_expr)}) AS w FROM bp_src
  ) GROUP BY w
)"""
    ]
    rounds = []
    w = "bp_w0"
    for r in range(int(n_merges)):
        a = f"bp_a{r}"
        wn = f"bp_w{r + 1}"
        ctes.append(
            f"""{a} AS MATERIALIZED (
  SELECT x, y, CAST(sum(wc) AS BIGINT) AS c FROM (
    SELECT seq[i] AS x, seq[i + 1] AS y, wc
    FROM {w}, LATERAL (SELECT unnest(range(1, len(seq))) AS i) ix
  ) GROUP BY x, y ORDER BY c DESC, x ASC, y ASC LIMIT 1
)"""
        )
        ctes.append(
            f"""{wn} AS MATERIALIZED (
  SELECT w,
         list_filter(
           list_transform(range(1, len(seq) + 1),
             i -> CASE WHEN len(list_filter(ap, a -> a = i)) > 0
                       THEN seq[i] || seq[i + 1]
                       WHEN len(list_filter(ap, a -> a = i - 1)) > 0
                       THEN NULL
                       ELSE seq[i] END),
           s -> s IS NOT NULL) AS seq,
         wc
  FROM (
    SELECT w, seq, wc,
           list_filter(ps, p -> len(list_filter(ps,
             q -> q < p AND q - list_position(ps, q) = p - list_position(ps, p)
           )) % 2 = 0) AS ap
    FROM (
      SELECT w, seq, wc,
             list_filter(range(1, len(seq)),
               i -> seq[i] = mm.x AND seq[i + 1] = mm.y) AS ps
      FROM {w}, {a} mm
    )
  )
)"""
        )
        rounds.append(
            f"SELECT {r + 1} AS merge_rank, x AS lhs, y AS rhs,"
            f" c AS pair_count FROM {a}"
        )
        w = wn
    with_clause = f"WITH bp_src AS ({docs_sql}),\n" + ",\n".join(ctes)
    return with_clause, rounds, w


def bpe_learn_merges_sql(
    docs_sql: str,
    n_merges: int = 4,
    text_expr: str = "text",
) -> str:
    """DuckDB twin — the identical pair-count / argmax / greedy-rewrite
    law with the rounds unrolled as MATERIALIZED CTEs (each round's word
    table is referenced twice: pair counting and the next rewrite)."""
    with_clause, rounds, _w = _bpe_sql_parts(docs_sql, int(n_merges), text_expr)
    body = "\n  UNION ALL ".join(rounds)
    return f"{with_clause}\n{body}\nORDER BY merge_rank"


def bpe_encode_stats_sql(
    docs_sql: str,
    n_merges: int = 4,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`bpe_encode_stats` — the final word table of
    the same unrolled chain, aggregated to the segmentation histogram."""
    with_clause, _rounds, w = _bpe_sql_parts(docs_sql, int(n_merges), text_expr)
    return f"""{with_clause}
SELECT CAST(len(seq) AS BIGINT) AS n_symbols, count(*) AS n_words,
       CAST(sum(wc) AS BIGINT) AS n_occurrences
FROM {w} GROUP BY 1
ORDER BY n_symbols"""


def bpe_fertility(
    docs: DataFrame,
    n_merges: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document tokenizer fertility after the learned merges →
    ``(id, n_words, n_symbols, fertility)``.

    Fertility = symbols emitted per word — THE efficiency number a
    tokenizer-training run optimizes (lower = cheaper context). The doc's
    word stream joins the learned vocabulary's final segmentation (one
    broadcast-sized table: |vocab| rows), symbols sum exactly, and the
    single ratio is rounded to 9 decimals on both engines. Docs with no
    words are dropped (no defined fertility)."""
    spark = docs.sparkSession
    words, _ = _bpe_rounds(docs, n_merges, text_col)
    seg = words.select("w", F.size("seq").cast("long").alias("n_sym"))
    per = docs.select(
        F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("w")
    )
    return (
        per.join(F.broadcast(seg), "w")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_symbols"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_words",
            "n_symbols",
            F.round(
                F.col("n_symbols").cast("double")
                / F.col("n_words").cast("double"),
                9,
            ).alias("fertility"),
        )
    )


def bpe_fertility_sql(
    docs_sql: str,
    n_merges: int = 4,
    id_expr: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin — same vocabulary join over the unrolled chain's final
    word table."""
    with_clause, _rounds, w = _bpe_sql_parts(docs_sql, int(n_merges), text_expr)
    return f"""{with_clause},
bp_seg AS (SELECT w, CAST(len(seq) AS BIGINT) AS n_sym FROM {w}),
bp_doc AS (
  SELECT {id_expr} AS did, unnest({tokens_sql(text_expr)}) AS w FROM bp_src
)
SELECT d.did AS {id_expr}, count(*) AS n_words,
       CAST(sum(s.n_sym) AS BIGINT) AS n_symbols,
       round(CAST(sum(s.n_sym) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
         AS fertility
FROM bp_doc d JOIN bp_seg s USING (w)
GROUP BY d.did"""
