"""Dedup + text-analysis + multimodal queries over `documents`.

The training-data-pipeline operator family (BASELINE.json north star):
exact dedup, blocked n-gram Jaccard, MinHash+LSH, SimHash, language
ID, quality scoring, token counting, fingerprinting, and the
multimodal binary-column plumbing. Every hash derives from md5 hex so
the DuckDB oracles reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.graph import connected_components
from bio_lakehouse_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash32,
)
from bio_lakehouse_spark.operators.joins import explode_pairs
from bio_lakehouse_spark.operators.skew import spread
from bio_lakehouse_spark.operators.textops import (
    STOPWORDS,
    TOKEN_REGEX,
    fingerprint_bag,
    fingerprint_exact,
    predicted_lang,
    quality_metrics,
    token_count_bpe_ish,
    token_count_ws,
    words,
)
from bio_lakehouse_spark.suite.registry import load, register

R6 = lambda c: F.round(c, 6)  # noqa: E731

# --- shared DuckDB fragments -------------------------------------------------

# Normalized word array; mirrors textops.words().
_W = (
    "string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +')"
)

# Distinct word-3-gram shingles; mirrors textops.word_ngrams(words, 3).
_SHINGLES_CTE = f"""
WITH sh AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                       i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS shingles
  FROM (SELECT doc_id, lang, source, {_W} AS w FROM documents)
)
"""

def _jac_pairs_cte(extra_on: str = "") -> str:
    """Inverted-index exact-Jaccard pair CTEs (append after a CTE
    ending in ``sh(doc_id, shingles)``): explode shingles, equi-join
    on the shingle, COUNT(*) per ordered pair = |A∩B| (shingle lists
    are list_distinct), union = nA + nB − inter.

    Algebraically IDENTICAL to the all-pairs form ``sh a JOIN sh b ON
    a.doc_id < b.doc_id`` + list_intersect for any threshold > 0:
    a qualifying pair shares ≥ 1 shingle so it appears in the
    equi-join, and both forms divide the SAME two integers, so the
    doubles (and every downstream ROUND) are bit-identical — verified
    row-for-row against the quadratic form at sf0.01. The quadratic
    form blew the sf0.1 strict-sweep 300 s oracle budget
    (12.1 s → 0.10 s at sf0.01; 1.4 s at sf0.1 where the old form ran
    >300 s single-query), which left the dedup family — the likeliest
    home of scale-dependent divergence — outside the cross-SF
    certification (VERDICT r9 #2 / "What's wrong" #1).

    ``extra_on`` appends predicates to the pair-join condition (e.g.
    an incremental-batch or same-lang restriction)."""
    return f""", ex AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
), jac AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*)::DOUBLE
           / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) AS jac_raw
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id{extra_on}
  GROUP BY a.doc_id, b.doc_id
)
"""


@register(
    "dedup_exact",
    survey=("A11", "F9"),
    oracle="""
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(normalized text) hash-groupBy keeping the
    minimum id — O(n), one shuffle on the hash, the mandatory first
    rung of the dedup ladder."""
    docs = load(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    survey=("J6", "F9"),
    oracle=_SHINGLES_CTE
    + """, ex AS (
  SELECT doc_id, lang, len(shingles) AS n, unnest(shingles) AS s FROM sh
), jac AS (
  -- inverted-index exact Jaccard (see _jac_pairs_cte), lang-blocked
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*)::DOUBLE
           / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) AS jac_raw
  FROM ex a JOIN ex b
    ON a.s = b.s AND a.doc_id < b.doc_id AND a.lang = b.lang
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, ROUND(jac_raw, 6) AS jaccard FROM jac
WHERE jac_raw >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs restricted to same-lang
    (threshold 0.5).

    r6: candidates now come from the corpus-wide EXACT prefix filter
    (`prefix_filter_pairs` — recall 1 by pigeonhole), with the lang
    block applied as a POST-filter: identical pair set to the old
    within-lang quadratic self-join (blocked result ≡ corpus-wide
    result ∩ same-lang), because the prefix filter already returns
    every pair with Jaccard ≥ t. The quadratic form — the same
    scale-killer class the containment fix removed, and multiple
    MINUTES at sf0.1 — survives only as the oracle.
    `ngram_jaccard_pairs` (the blocked-exact operator) remains for
    genuinely tiny blocks."""
    from bio_lakehouse_spark.operators.dedup import prefix_filter_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = prefix_filter_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    langs = docs.select(F.col("doc_id"), F.col("lang"))
    la = langs.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b")
    )
    # plain keyed joins — AQE broadcasts the lang map while it's
    # small; at 100 TB it stays a keyed shuffle join (never forced
    # into a driver-killing explicit broadcast).
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("lang_a") == F.col("lang_b"))
        .select("doc_a", "doc_b", R6(F.col("jaccard")).alias("jaccard"))
    )


@register(
    "dedup_minhash_lsh",
    survey=("J6", "F9", "A11"),
    oracle=_SHINGLES_CTE
    + _jac_pairs_cte()
    + """
SELECT doc_a, doc_b, ROUND(jac_raw, 6) AS jaccard FROM jac
WHERE jac_raw >= 0.5
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH near-dup pairs, exact-Jaccard-verified at 0.5.

    The 100 TB dedup path: signatures → band-bucket equi-join →
    verify candidates only (no cross join anywhere). The oracle is
    the *brute-force* pair scan: LSH recall at jaccard ≥ 0.5 with 16
    single-row bands is 1 − (1−s)^16 ≥ 0.999985, so candidate
    generation finds every qualifying pair on this corpus (verified
    at sf0.01/sf0.1) and the verified output equals the exact answer.
    """
    docs = load(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, threshold=0.5
    )
    return out.select("doc_a", "doc_b", R6(F.col("jaccard")).alias("jaccard"))


def _lsh_recall_oracle(
    n_bands: int = 4, rows_per_band: int = 4, thresh: float = 0.4
) -> str:
    """DuckDB mirror of operators.dedup.lsh_recall_audit: md5-ordered
    minhash signatures, banded candidates, exact-pair truth, per-decile
    recall vs the closed-form expectation (repeated-multiply powers so
    both engines run bit-identical IEEE chains)."""
    k = n_bands * rows_per_band
    mins = ",\n         ".join(
        f"list_min(list_transform(shingles, s -> md5('{j}|' || s))) AS mh{j}"
        for j in range(k)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('|', {cols})) AS value"
        " FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    mid = "(bucket_lo + 0.05)"
    p_band = " * ".join([mid] * rows_per_band)
    miss4 = " * ".join(["miss"] * n_bands)
    return (
        _SHINGLES_CTE
        + f""", sig AS (
  SELECT doc_id,
         {mins}
  FROM sh
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS hit
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.value = b.value AND a.doc_id < b.doc_id
), ex AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
), truth AS (
  -- inverted-index exact Jaccard (see _jac_pairs_cte: bit-identical
  -- to the quadratic list_intersect form, sub-quadratic in DuckDB)
  SELECT doc_a, doc_b, jac_raw FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*)::DOUBLE
             / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) AS jac_raw
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) WHERE jac_raw >= {thresh}
), agg AS (
  SELECT LEAST(FLOOR(t.jac_raw * 10) / 10.0, 0.9) AS bucket_lo,
         COUNT(*) AS n_truth, COUNT(c.hit) AS n_found
  FROM truth t LEFT JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  GROUP BY 1
)
SELECT bucket_lo, n_truth, n_found,
       ROUND(n_found / n_truth, 6) AS recall,
       ROUND(1 - {miss4}, 6) AS expected_recall
FROM (SELECT bucket_lo, n_truth, n_found,
             1 - {p_band} AS miss
      FROM agg)
"""
    )


@register(
    "minhash_lsh_recall_audit",
    survey=("J6", "F9", "A13"),
    oracle=_lsh_recall_oracle(),
)
def minhash_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH recall by true-Jaccard decile (b=4 bands × r=4
    rows): ground truth from the exact prefix-filter join at 0.4,
    candidates from md5-ordered banded minhash, each decile reporting
    measured recall next to the 1−(1−s⁴)⁴ expectation at the bucket
    midpoint. The "measure, don't guess" audit for choosing (b, r)
    before a 100 TB dedup pass — `ann_ivf_recall`'s posture applied
    to the dedup family."""
    from bio_lakehouse_spark.operators.dedup import lsh_recall_audit

    docs = load(spark, sf_dir, "documents")
    out = lsh_recall_audit(
        docs, "doc_id", "text", n=3, n_bands=4, rows_per_band=4,
        truth_threshold=0.4,
    )
    return out.select(
        "bucket_lo", "n_truth", "n_found", "recall", "expected_recall"
    )


def _simhash_sql_expr(charset: tuple[str, ...] = tuple("89abcdef")) -> str:
    """DuckDB expression mirroring operators.dedup.simhash32 (and,
    with charset '4567cdef', the low half of simhash64)."""
    cs = ", ".join(repr(c) for c in charset)
    terms = []
    for p in range(1, 33):
        bit = (
            f"CASE WHEN list_sum(list_transform(hashes, h -> "
            f"CASE WHEN substr(h, {p}, 1) IN "
            f"({cs}) THEN 1 ELSE -1 END)) > 0 "
            f"THEN CAST({2 ** (p - 1)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
        terms.append(bit)
    return " + ".join(terms)


@register(
    "dedup_simhash",
    survey=("F9",),
    oracle=_SHINGLES_CTE
    + f""", hashed AS (
  SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hashes FROM sh
)
SELECT doc_id, {_simhash_sql_expr()} AS simhash
FROM hashed
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (bit p = sign of the
    ±1 vote of each shingle-md5's p-th hex nibble top bit). Signature
    table — hamming-close pair scan is `dedup_simhash_pairs`."""
    docs = load(spark, sf_dir, "documents")
    return simhash32(docs, "doc_id", "text", n=3)


@register(
    "dedup_simhash_pairs",
    survey=("J6", "F9"),
    oracle=_SHINGLES_CTE
    + f""", hashed AS (
  SELECT doc_id, lang, list_transform(shingles, s -> md5(s)) AS hashes FROM sh
), sig AS (
  SELECT doc_id, lang,
         {_simhash_sql_expr()} AS sim_hi,
         {_simhash_sql_expr(tuple('4567cdef'))} AS sim_lo
  FROM hashed
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim_hi, b.sim_hi))
            + bit_count(xor(a.sim_lo, b.sim_lo)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND a.lang = b.lang
WHERE bit_count(xor(a.sim_hi, b.sim_hi))
      + bit_count(xor(a.sim_lo, b.sim_lo)) <= 6
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-blocked SimHash near-dup pairs at the WIDER hamming ≤ 6
    threshold — re-registered (r7) on the generalized banded path
    instead of the within-block quadratic self-join (which is
    unusable when a block is corpus-sized: an 'en' block IS the
    corpus). Generalized Manku pigeonhole: 64-bit signature split
    into 7 disjoint bands (h+1 bands cover hamming ≤ h = 6), bucket
    key (lang, band, value), hot-bucket cap, exact xor+bit_count
    verification — single-exchange candidates, no sig×sig join. The
    oracle IS the brute-force within-lang pair scan, so the banded
    pipeline must reproduce it exactly. The 4-band / hamming ≤ 3
    corpus-wide configuration is `dedup_simhash_banded`."""
    from bio_lakehouse_spark.operators.dedup import simhash_pairs_banded

    docs = load(spark, sf_dir, "documents")
    out = simhash_pairs_banded(
        docs, "doc_id", "text", n=3, max_hamming=6,
        n_bands=7, block_cols=["lang"],
    )
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


def _langid_sql() -> str:
    scores = {
        lang: (
            f"len(list_filter(w, x -> x IN "
            f"({', '.join(repr(s) for s in sw)})))"
        )
        for lang, sw in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    whens = []
    for lang in langs:
        others = ", ".join(scores[o] for o in langs if o != lang)
        whens.append(
            f"WHEN {scores[lang]} >= greatest({others}) THEN '{lang}'"
        )
    case = "CASE " + " ".join(whens) + " ELSE 'und' END"
    return f"""
SELECT doc_id, lang AS labeled_lang,
       {case} AS predicted_lang,
       CAST({scores['en']} AS INTEGER) AS en_hits
FROM (SELECT doc_id, lang, {_W} AS w FROM documents)
"""


@register("text_langid", survey=("F6", "F9"), oracle=_langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts,
    argmax with deterministic tie-break (STOPWORDS order) — pure
    array built-ins, no model, no UDF."""
    docs = load(spark, sf_dir, "documents")
    w = words("text")
    from bio_lakehouse_spark.operators.textops import stopword_hits

    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted_lang(w).alias("predicted_lang"),
        stopword_hits(w, "en").cast("int").alias("en_hits"),
    )


_EN_SW = ", ".join(repr(s) for s in STOPWORDS["en"])


@register(
    "text_quality",
    survey=("F6", "F7", "F11"),
    oracle=f"""
SELECT doc_id,
       CAST(len(w) AS INTEGER) AS n_words,
       ROUND(length(array_to_string(w, ''))::DOUBLE / greatest(len(w), 1), 6) AS avg_word_len,
       ROUND(len(list_filter(w, x -> x IN ({_EN_SW})))::DOUBLE / greatest(len(w), 1), 6) AS stopword_ratio,
       ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1), 6) AS digit_ratio,
       ROUND(CASE WHEN len(w) >= 20 THEN 0.4 ELSE 0.0 END
           + CASE WHEN length(array_to_string(w, ''))::DOUBLE / greatest(len(w), 1) BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END
           + CASE WHEN len(list_filter(w, x -> x IN ({_EN_SW})))::DOUBLE / greatest(len(w), 1) >= 0.05 THEN 0.2 ELSE 0.0 END
           + CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END, 6) AS quality_score
FROM (SELECT doc_id, text, {_W} AS w FROM documents)
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: word count, average word length,
    stopword density, digit ratio → weighted composite score (the
    standard corpus-filter heuristics as one expression tree)."""
    docs = load(spark, sf_dir, "documents")
    m = quality_metrics("text")
    return docs.select(
        "doc_id",
        m["n_words"].cast("int").alias("n_words"),
        R6(m["avg_word_len"]).alias("avg_word_len"),
        R6(m["stopword_ratio"]).alias("stopword_ratio"),
        R6(m["digit_ratio"]).alias("digit_ratio"),
        R6(m["quality_score"]).alias("quality_score"),
    )


@register(
    "text_token_counts",
    survey=("F9", "F1"),
    oracle=f"""
SELECT doc_id,
       CAST(len({_W}) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS INTEGER) AS bpe_ish_tokens,
       CAST(length(text) AS INTEGER) AS n_chars
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex
    pre-tokenizer count (letter runs / digit runs / punctuation) —
    the per-doc cost accounting a training pipeline runs corpus-wide."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").cast("int").alias("ws_tokens"),
        token_count_bpe_ish("text").cast("int").alias("bpe_ish_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )


@register(
    "text_fingerprints",
    survey=("F9", "A11"),
    oracle=f"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS fp_exact,
       md5(array_to_string(list_sort(list_distinct({_W})), ' ')) AS fp_bag,
       substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))), 1, 4) AS fp_bucket
FROM documents
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact-normalized md5, a word-order-
    insensitive bag fingerprint (sorted distinct words), and a 16-bit
    hex bucket prefix for partitioned dedup routing."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_exact("text").alias("fp_exact"),
        fingerprint_bag("text").alias("fp_bag"),
        F.substring(fingerprint_exact("text"), 1, 4).alias("fp_bucket"),
    )


@register(
    "multimodal_binary_meta",
    survey=("S3", "F9"),
    oracle="""
SELECT doc_id,
       'application/octet-stream' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CAST(octet_length(encode(text)) % 256 AS INTEGER) AS fake_width,
       CAST((octet_length(encode(text)) * 7) % 256 AS INTEGER) AS fake_height
FROM documents
""",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: treat content as an opaque binary
    column + typed metadata (the image/audio pattern with text bytes
    standing in — no media libs in this container; real decoders slot
    into `operators/multimodal.py`). Byte length, content digest and
    deterministic fake decode dims, all computed on the binary column.
    """
    docs = load(spark, sf_dir, "documents")
    binary = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.octet_length(binary).cast("long")
    return docs.select(
        "doc_id",
        F.lit("application/octet-stream").alias("media_type"),
        n_bytes.alias("n_bytes"),
        F.md5(binary).alias("content_md5"),
        (n_bytes % 256).cast("int").alias("fake_width"),
        ((n_bytes * 7) % 256).cast("int").alias("fake_height"),
    )


@register(
    "text_rolling_hash",
    survey=("F9", "F1"),
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(substr(lower(text), 1, 64), ''),
                          ch -> CAST(unicode(ch) AS BIGINT))),
         (acc, c) -> (acc * 257 + c) % 1000000007
       ) AS rolling_hash,
       CAST(length(text) AS INTEGER) AS n_chars
FROM documents
""",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (Rabin-Karp form:
    h = (h·257 + code) mod 1e9+7 over the first 64 chars) — the
    incremental-hash primitive a chunked dedup pipeline uses to
    fingerprint sliding windows without rehashing from scratch. Pure
    fold over the character codes, identical arithmetic in both
    engines (mod keeps every intermediate < 2^60: no overflow on
    either side)."""
    docs = load(spark, sf_dir, "documents")
    chars = F.split(F.substring(F.lower("text"), 1, 64), "")
    # split('') yields a trailing empty string in Spark; filter it.
    codes = F.transform(
        F.filter(chars, lambda c: c != ""),
        lambda c: F.ascii(c).cast("long"),
    )
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 257 + c) % 1000000007,
    )
    return docs.select(
        "doc_id",
        h.alias("rolling_hash"),
        F.length("text").cast("int").alias("n_chars"),
    )


@register(
    "vocab_doc_frequency",
    survey=("A11", "F9", "O4"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_W}) AS token FROM documents
), stats AS (
  SELECT token,
         COUNT(*) AS term_freq,
         COUNT(DISTINCT doc_id) AS doc_freq
  FROM tok WHERE token <> '' GROUP BY token
)
SELECT token, term_freq, doc_freq,
       ROUND(ln((SELECT COUNT(*) FROM documents) / CAST(doc_freq AS DOUBLE)), 6) AS idf
FROM stats
ORDER BY doc_freq DESC, term_freq DESC, token
LIMIT 20
""",
)
def vocab_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-20 tokens by document
    frequency with term frequency and IDF — the vocabulary audit a
    pretraining pipeline runs before tokenizer training. One explode
    + one two-stage groupBy; the top-k is TakeOrderedAndProject, and
    the corpus size rides in as a broadcast scalar, so nothing here
    depends on corpus size except the token-keyed exchange."""
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    tok = docs.select(
        "doc_id", F.explode(words("text")).alias("token")
    ).filter(F.col("token") != "")
    stats = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "term_freq",
            "doc_freq",
            R6(
                F.log(F.col("__n") / F.col("doc_freq").cast("double"))
            ).alias("idf"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("term_freq"), "token")
        .limit(20)
    )


@register(
    "dedup_clusters",
    survey=("J6", "A11", "F9"),
    oracle=_SHINGLES_CTE.replace("WITH sh", "WITH RECURSIVE sh")
    + _jac_pairs_cte()
    + """, pairs AS (
  SELECT doc_a, doc_b FROM jac WHERE jac_raw >= 0.5
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT a AS node, b AS r FROM edges
  UNION
  SELECT t.node, e.b FROM reach t JOIN edges e ON t.r = e.a
), comp AS (
  SELECT node AS doc_id, LEAST(node, MIN(r)) AS cluster_id
  FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: similarity isn't transitive, so
    turning verified MinHash pairs into dedup groups is a connected-
    components problem — solved distributed via iterative min-label
    propagation (operators/graph.py: one join + min-agg per round,
    rounds = diameter ≈ 3 for dup clusters, localCheckpoint per
    round with the changed-count observed inside it). The oracle
    computes the same closure with a recursive CTE over the
    brute-force pair scan. Output: every clustered doc
    with its canonical (min-id) cluster and cluster size — the table
    a pipeline keeps one representative per cluster_id from."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, threshold=0.5
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b")
    from pyspark.sql import Window

    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    ).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


_BM25_TERMS = ("spark", "merge", "window")


def _bm25_sql() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS, 1)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(1, len(_BM25_TERMS) + 1)
    )
    # Expression structure mirrors the Spark side token-for-token so
    # the doubles match bit-for-bit before the final round.
    score = " + ".join(
        f"ln(1.0 + (CAST(n - df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf{i} AS DOUBLE) * 2.2)"
        f" / (CAST(tf{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
        for i in range(1, len(_BM25_TERMS) + 1)
    )
    any_tf = " + ".join(f"tf{i}" for i in range(1, len(_BM25_TERMS) + 1))
    return f"""
WITH t AS (
  SELECT doc_id, dl, {tf_cols.replace('w,', 'w,').replace('(w,', '(w,')}
  FROM (SELECT doc_id, {_W} AS w, len({_W}) AS dl FROM documents)
), s AS (
  SELECT COUNT(*) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl, {df_cols} FROM t
)
SELECT doc_id, ROUND({score}, 6) AS bm25
FROM t, s
WHERE {any_tf} > 0
ORDER BY bm25 DESC, doc_id
LIMIT 15
"""


@register("text_bm25_topk", survey=("O4", "F9", "A1"), oracle=_bm25_sql())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for the query {spark, merge,
    window}: top-15 documents by Okapi score. Per-doc term counts are
    array expressions on the scan; the corpus statistics (N, avgdl,
    per-term df) are ONE tiny aggregate broadcast back, so the whole
    ranker is scan → broadcast join → TakeOrdered top-k — the
    inverted-index-free score-everything form, which at 100 TB is the
    map-side rerank stage (a real search system materializes the
    postings; the scoring math is identical)."""
    # Single-split fixture → the tf scan would run (twice: stats +
    # scoring) as one task, and the any_tf>0 filter pushes straight
    # through a bare repartition back into that scan — barrier=True
    # pins the tf work above the spread. No-op on real inputs.
    docs = spread(load(spark, sf_dir, "documents"), "doc_id", barrier=True)
    w = words("text")
    # NB: a 2-arg lambda makes F.filter pass the element INDEX as the
    # second argument — a factory closure keeps the term bound safely.
    def tf_of(term: str):
        return F.size(F.filter(w, lambda x: x == F.lit(term)))

    t = docs.select(
        "doc_id",
        F.size(w).alias("dl"),
        *[tf_of(t_).alias(f"tf{i}") for i, t_ in enumerate(_BM25_TERMS, 1)],
    )
    s = t.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(1, len(_BM25_TERMS) + 1)
        ],
    )

    def term_score(i: int):
        tf = F.col(f"tf{i}").cast("double")
        df_ = F.col(f"df{i}")
        idf = F.log(
            1.0
            + ((F.col("n") - df_).cast("double") + 0.5)
            / (df_.cast("double") + 0.5)
        )
        # try_divide (r12 ANSI audit): a corpus of entirely EMPTY
        # documents has avgdl = 0 — the length normalization is
        # undefined → NULL score (parks last in ranking), not a
        # job abort.
        denom = tf + 1.2 * (
            0.25
            + 0.75
            * F.try_divide(
                F.col("dl").cast("double"), F.col("avgdl")
            )
        )
        return idf * (tf * 2.2) / denom

    score = term_score(1)
    for i in range(2, len(_BM25_TERMS) + 1):
        score = score + term_score(i)
    any_tf = sum(
        (F.col(f"tf{i}") for i in range(2, len(_BM25_TERMS) + 1)),
        F.col("tf1"),
    )
    return (
        t.crossJoin(F.broadcast(s))
        .filter(any_tf > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(15)
    )


def _mm_byte(i: int) -> str:
    """DuckDB: i-th byte of md5(text) as INT (hex pair → 0..255)."""
    return f"CAST(concat('0x', substr(md5(text), {2 * i + 1}, 2)) AS INTEGER)"


@register(
    "multimodal_decode_features",
    survey=("S3", "F9"),
    oracle=f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       16 + {_mm_byte(0)} AS width,
       16 + {_mm_byte(1)} AS height,
       1 + {_mm_byte(2)} % 4 AS n_channels,
       CAST(CAST(ROUND({_mm_byte(3)} / 255.0, 6) AS FLOAT) AS DOUBLE) AS f0,
       CAST(CAST(ROUND({_mm_byte(4)} / 255.0, 6) AS FLOAT) AS DOUBLE) AS f1,
       CAST(CAST(ROUND({_mm_byte(5)} / 255.0, 6) AS FLOAT) AS DOUBLE) AS f2
FROM documents
""",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode path END-TO-END under the value-hash
    gate: binary contract (attach_binary) → Arrow-batched mapInPandas
    → per-record decoder — with the deterministic FakeDecoder
    (md5-derived dims/features) standing in for Pillow/torchaudio, so
    the oracle reproduces the Python-side decode bit-for-bit from
    SQL — including the array<float> storage precision (the oracle
    roundtrips its doubles through FLOAT). Proves the distributed
    plumbing (schema, batching, binary transfer), which is exactly
    the part that stays when a real decoder is plugged in."""
    from bio_lakehouse_spark.operators.multimodal import (
        attach_binary,
        decode_batches,
    )

    docs = load(spark, sf_dir, "documents")
    decoded = decode_batches(attach_binary(docs, "text"))
    return decoded.select(
        "doc_id",
        "n_bytes",
        "content_md5",
        "width",
        "height",
        "n_channels",
        F.col("feature_vec")[0].cast("double").alias("f0"),
        F.col("feature_vec")[1].cast("double").alias("f1"),
        F.col("feature_vec")[2].cast("double").alias("f2"),
    )


def _ngrams5_sql() -> str:
    parts = ", ".join(f"w[i+{k + 1}]" for k in range(5))
    return (
        "list_distinct(list_transform(range(0, greatest(len(w) - 5, 0) + 1), "
        f"i -> concat_ws(' ', {parts})))"
    )


@register(
    "decontaminate_eval_overlap",
    survey=("J6", "F9"),
    oracle=f"""
WITH g AS (
  SELECT doc_id, {_ngrams5_sql()} AS grams
  FROM (SELECT doc_id, {_W} AS w FROM documents)
), ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 20
), tr AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
  FROM g WHERE doc_id >= 20
)
SELECT doc_id,
       COUNT(*) AS n_overlap,
       ROUND(COUNT(*)::DOUBLE / n_grams, 6) AS contamination_frac
FROM tr JOIN ev USING (gram)
GROUP BY doc_id, n_grams
""",
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    5-gram with the eval slice (doc_id < 20 stands in for a held-out
    benchmark). The eval corpus's distinct grams are small by
    construction → broadcast; the training side never shuffles before
    its per-doc aggregate. The overlap-n-gram check every LLM
    pipeline runs before training."""
    from bio_lakehouse_spark.operators.dedup import (
        ngram_overlap_contamination,
    )

    docs = load(spark, sf_dir, "documents")
    return ngram_overlap_contamination(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        "doc_id",
        "text",
        n=5,
    )


@register(
    "sequence_packing",
    survey=("W2", "F9"),
    oracle=f"""
WITH t AS (
  SELECT doc_id % 8 AS shard, doc_id, CAST(len({_W}) AS BIGINT) AS n_tok
  FROM documents
), p AS (
  SELECT shard, doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS start_off
  FROM t
)
SELECT shard, doc_id, n_tok, start_off,
       CAST(start_off // 256 AS BIGINT) AS chunk_first,
       CAST((start_off + greatest(n_tok, 1) - 1) // 256 AS BIGINT) AS chunk_last,
       CAST(CASE WHEN n_tok = 0 THEN 0
            ELSE (start_off + greatest(n_tok, 1) - 1) // 256
                 - start_off // 256 + 1 END AS BIGINT) AS n_chunks
FROM p
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 256-token context
    windows, 8 shards (shard = doc_id % 8 for the cross-engine
    oracle; production default is a hash shard). Packing is a
    per-shard window cumsum — shards are the unit of parallelism, no
    global sort."""
    from bio_lakehouse_spark.operators.packing import pack_sequences
    from bio_lakehouse_spark.operators.textops import token_count_ws

    docs = load(spark, sf_dir, "documents")
    out = pack_sequences(
        docs,
        "doc_id",
        token_count_ws("text").cast("bigint"),
        ctx=256,
        num_shards=8,
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return out.select(
        "shard", "doc_id", "n_tok", "start_off",
        "chunk_first", "chunk_last",
        F.col("n_chunks").cast("bigint").alias("n_chunks"),
    )


@register(
    "gopher_repetition",
    survey=("F9", "A10"),
    oracle=f"""
WITH base AS (SELECT doc_id, {_W} AS w FROM documents),
wc AS (
  SELECT doc_id, wd, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(w) AS wd FROM base)
  GROUP BY doc_id, wd
), top AS (
  SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 6) AS top_word_frac
  FROM wc GROUP BY doc_id
), rowwise AS (
  SELECT doc_id,
         len(w) AS n_words,
         len(list_distinct(w)) AS n_distinct_words,
         ROUND(1.0 - len(list_distinct(g))::DOUBLE / greatest(len(g), 1),
               6) AS dup_3gram_frac,
         ROUND(length(array_to_string(w, ''))::DOUBLE / greatest(len(w), 1),
               6) AS mean_word_len
  FROM (
    SELECT doc_id, w,
           list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                          i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])) AS g
    FROM base)
)
SELECT r.doc_id, n_words, n_distinct_words, dup_3gram_frac, mean_word_len,
       top_word_frac,
       (dup_3gram_frac <= 0.2 AND top_word_frac <= 0.2) AS keep
FROM rowwise r JOIN top USING (doc_id)
""",
)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules: duplicate-3-gram
    fraction, most-common-word share, mean word length, plus the
    keep/drop verdict — the repetition filters corpus pipelines
    apply alongside `text_quality`'s length/stopword heuristics."""
    from bio_lakehouse_spark.operators.textops import repetition_profile

    docs = load(spark, sf_dir, "documents")
    return repetition_profile(docs, "doc_id", "text", n=3)


@register(
    "dedup_incremental_batch",
    survey=("A11", "J6"),
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS h
  FROM documents
), batch AS (SELECT * FROM fp WHERE doc_id >= 250),
corpus AS (SELECT DISTINCT h FROM fp WHERE doc_id < 250),
in_batch AS (
  SELECT h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
  FROM batch GROUP BY h
)
SELECT b.keep_id AS doc_id, b.n_copies
FROM in_batch b LEFT JOIN corpus c USING (h)
WHERE c.h IS NULL
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the shape that matters at 100 TB:
    dedupe a NEW batch (doc_id ≥ 250 stands in for today's crawl)
    within itself, then anti-join its fingerprints against the
    already-ingested corpus's fingerprint table (doc_id < 250) so the
    existing corpus is touched only through its (small, indexed)
    hash column — never rescanned or re-shuffled. Survivors are the
    rows a pipeline would append + merge into the fingerprint store
    (`sources/sinks.merge_upsert`). Batch side aggregates before the
    anti join, so the join carries one row per distinct new text."""
    docs = load(spark, sf_dir, "documents")
    batch = exact_dedup_groups(
        docs.filter(F.col("doc_id") >= 250), "doc_id", "text"
    )
    corpus_fp = (
        docs.filter(F.col("doc_id") < 250)
        .select(fingerprint_exact("text").alias("text_hash"))
        .distinct()
    )
    return (
        batch.join(corpus_fp, "text_hash", "left_anti")
        .select(F.col("keep_id").alias("doc_id"), "n_copies")
    )


@register(
    "multimodal_frame_sample",
    survey=("S3", "F9"),
    oracle="""
SELECT doc_id, duration_s, CAST(frame_idx AS INTEGER) AS frame_idx,
       ROUND(duration_s / 4 * (frame_idx + 0.5), 6) AS t_offset_s
FROM (
  SELECT doc_id,
         1.0 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INTEGER)
           AS duration_s
  FROM documents
), (SELECT unnest(range(4)) AS frame_idx)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling expansion under the value-hash gate: binary
    contract → mapInPandas 1→4 rows per media item (the UDTF shape a
    real video decoder needs), deterministic fake probe so the SQL
    oracle reproduces every offset bit-for-bit."""
    from bio_lakehouse_spark.operators.multimodal import (
        attach_binary,
        frame_sample_batches,
    )

    docs = load(spark, sf_dir, "documents")
    return frame_sample_batches(attach_binary(docs, "text"))


@register(
    "source_level_filter",
    survey=("A6", "J6", "F7"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         CASE WHEN len(w) >= 20 THEN 0.4 ELSE 0.0 END
           + CASE WHEN length(array_to_string(w, ''))::DOUBLE / greatest(len(w), 1) BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END
           + CASE WHEN len(list_filter(w, x -> x IN ({_EN_SW})))::DOUBLE / greatest(len(w), 1) >= 0.05 THEN 0.2 ELSE 0.0 END
           + CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END
           AS q
  FROM (SELECT doc_id, source, text, {_W} AS w FROM documents)
), per_source AS (
  SELECT source, COUNT(*) AS n_docs, ROUND(AVG(q), 6) AS mean_quality,
         ROUND(COUNT(*) FILTER (q >= 0.5)::DOUBLE / COUNT(*), 6)
           AS frac_good
  FROM scored GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, mean_quality, frac_good,
       (mean_quality >= 0.5 AND frac_good >= 0.5) AS keep_source
FROM per_source
""",
)
def source_level_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source-level corpus filtering (the C4-style blocklist
    DERIVATION): per-source mean document quality + good-doc
    fraction → keep/drop verdict per source. Row-wise scoring in the
    scan projection, ONE partial-aggregated groupBy on source — at
    100 TB the verdict table is tiny and broadcast-semi-joins back
    onto the corpus to apply the block."""
    docs = load(spark, sf_dir, "documents")
    q = quality_metrics("text")["quality_score"]
    scored = docs.select("source", q.alias("q"))
    per_source = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("q"), 6).alias("mean_quality"),
        F.round(
            F.count(F.when(F.col("q") >= 0.5, 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_good"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "mean_quality",
        "frac_good",
        (
            (F.col("mean_quality") >= 0.5) & (F.col("frac_good") >= 0.5)
        ).alias("keep_source"),
    )


@register(
    "pii_redaction",
    survey=("F1", "F8"),
    oracle=r"""
WITH aug AS (
  SELECT doc_id,
         text || ' reach me at user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or (555) 010-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' ssn 123-45-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(t, '\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
       md5(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
           '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
       ) AS redacted_md5
FROM aug
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the standard corpus-prep redaction pass (emails,
    SSNs, phone numbers, IPv4) as one chained-regexp_replace scan
    projection (operators/textops.redact_pii): zero shuffles, JVM
    regex, RE2-compatible patterns so the oracle applies the IDENTICAL
    regexes. The corpus text carries no natural PII, so deterministic
    PII is injected per row from doc_id on BOTH engines; the driver
    hashes the per-type counts and the md5 of the redacted text."""
    from bio_lakehouse_spark.operators.textops import redact_pii

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach me at user"),
            did.cast("string"),
            F.lit("@mail.example.com or (555) 010-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" from 192.168."),
            (did % 256).cast("string"),
            F.lit("."),
            ((did * 7) % 256).cast("string"),
            F.lit(" ssn 123-45-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    red = redact_pii("t")
    return aug.select(
        "doc_id",
        red["n_email"].alias("n_email"),
        red["n_ssn"].alias("n_ssn"),
        red["n_phone"].alias("n_phone"),
        red["n_ipv4"].alias("n_ipv4"),
        F.md5(red["redacted"]).alias("redacted_md5"),
    )


@register(
    "dedup_simhash_banded",
    survey=("J6", "F9", "A11"),
    oracle=_SHINGLES_CTE
    + f""", hashed AS (
  SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hashes FROM sh
), sig AS (
  SELECT doc_id,
         {_simhash_sql_expr()} AS sim_hi,
         {_simhash_sql_expr(tuple('4567cdef'))} AS sim_lo
  FROM hashed
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim_hi, b.sim_hi))
            + bit_count(xor(a.sim_lo, b.sim_lo)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_hi, b.sim_hi))
      + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3
""",
)
def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded 64-bit SimHash near-dup pairs — the 100 TB form per
    Manku/Jain/Sarma (WWW'07: 64-bit simhash, hamming ≤ 3, 4 × 16-bit
    bands; pigeonhole ⇒ recall 1, random band collision 2⁻¹⁶):
    candidates via ONE hot-bucket-capped (band, value) aggregation,
    xor+bit_count verification. The oracle is the UNBLOCKED
    brute-force pair scan — the banded pipeline must reproduce it
    exactly, corpus-wide, with no quadratic join."""
    from bio_lakehouse_spark.operators.dedup import simhash_pairs_banded

    docs = load(spark, sf_dir, "documents")
    out = simhash_pairs_banded(docs, "doc_id", "text", n=3, max_hamming=3)
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "dedup_incremental_minhash",
    survey=("J6", "A11", "F9"),
    oracle=_SHINGLES_CTE
    + _jac_pairs_cte(extra_on=" AND b.doc_id >= 400")
    + """
SELECT doc_a, doc_b, ROUND(jac_raw, 6) AS jaccard FROM jac
WHERE jac_raw >= 0.5
""",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (doc_id ≥ 400 stands in for today's
    crawl): the new batch's band table broadcasts against the STORED
    corpus band index (persisted parquet, built once — exactly what an
    ingestion pipeline maintains), corpus text touched only for
    candidate docs — per-batch cost O(batch + candidates), never
    O(corpus). Oracle is the brute-force Jaccard scan over exactly the
    pairs with a new-batch member (same ≥2-of-16-band recall argument
    as dedup_minhash_lsh)."""
    from pathlib import Path

    from bio_lakehouse_spark.operators.dedup import (
        minhash_band_table,
        minhash_incremental_pairs,
    )
    from bio_lakehouse_spark.suite.pipeline_queries import fixture_path

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    idx = str(fixture_path("minhash_bands", sf_dir))
    if not Path(idx + "_DONE").exists():
        minhash_band_table(corpus, "doc_id", "text", n=3,
                           num_hashes=16).write.mode("overwrite").parquet(idx)
        Path(idx + "_DONE").touch()
    out = minhash_incremental_pairs(
        corpus,
        docs.filter(F.col("doc_id") >= 400),
        "doc_id", "text", n=3, num_hashes=16, threshold=0.5,
        corpus_bands=spark.read.parquet(idx),
    )
    return out.select(
        "doc_a", "doc_b", R6(F.col("jaccard")).alias("jaccard")
    )


@register(
    "dedup_frequent_lines",
    survey=("A11", "F9"),
    oracle="""
WITH segs AS (
  SELECT doc_id, g AS pos,
         array_to_string(words[g*8+1 : g*8+8], ' ') AS seg
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       unnest(generate_series(0, CAST(ceil(len(words)/8.0) AS INT) - 1)) AS t(g)
), freq AS (
  SELECT seg, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg
)
SELECT s.doc_id,
       COUNT(*) AS n_segs,
       COUNT(*) FILTER (f.n_docs >= 2) AS n_removed,
       CAST(COALESCE(length(string_agg(s.seg, ' ' ORDER BY s.pos)
                     FILTER (f.n_docs < 2)), 0) AS BIGINT) AS clean_n_chars,
       COALESCE(md5(string_agg(s.seg, ' ' ORDER BY s.pos)
                FILTER (f.n_docs < 2)), '') AS clean_md5
FROM segs s JOIN freq f USING (seg)
GROUP BY s.doc_id
""",
)
def dedup_frequent_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet line-level dedup: segments (8-word chunks —
    the deterministic stand-in for newline-split lines in this
    corpus) appearing in ≥2 distinct documents corpus-wide are
    stripped and the text reassembled in order. Removal keys on
    xxhash64(segment) so shuffles carry 8-byte keys; the frequent set
    is the heavy-hitter minority → broadcast flag join. Output hashes
    the cleaned text (md5) so the oracle pins the exact reassembly,
    not just counts."""
    from bio_lakehouse_spark.operators.dedup import (
        remove_frequent_segments,
    )

    docs = load(spark, sf_dir, "documents")
    out = remove_frequent_segments(
        docs, "doc_id", "text", words_per_seg=8, min_docs=2
    )
    # Fully-removed docs carry clean_text NULL; the GATE columns
    # coalesce to (0, '') so the compared frame has no NULL-bearing
    # numerics — NULL float representation is the one hash-contract
    # ambiguity the driver burned a round on (r03 S12). The removed
    # state stays observable as n_removed == n_segs.
    return out.select(
        "doc_id",
        "n_segs",
        "n_removed",
        F.coalesce(F.length("clean_text").cast("long"), F.lit(0)).alias(
            "clean_n_chars"
        ),
        F.coalesce(F.md5("clean_text"), F.lit("")).alias("clean_md5"),
    )


@register(
    "chunk_overlap_windows",
    survey=("F9", "O4"),
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, n, g AS chunk_id, g*24 AS start_tok,
         array_to_string(w[g*24+1 : g*24+32], ' ') AS chunk
  FROM t, unnest(generate_series(0,
         CASE WHEN n <= 32 THEN 0
              ELSE CAST(ceil((n - 32) / 24.0) AS INT) END)) AS u(g)
)
SELECT doc_id, chunk_id,
       CAST(start_tok AS INT) AS start_tok,
       CAST(LEAST(32, n - start_tok) AS INT) AS n_tok,
       md5(chunk) AS chunk_md5
FROM c
""",
)
def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (size 32, overlap 8): the RAG /
    long-context prep step. Pure per-row array expressions — zero
    shuffles, runs at the scan; the md5 output pins the exact chunk
    text and boundaries cross-engine, not just counts."""
    from bio_lakehouse_spark.operators.packing import chunk_with_overlap

    docs = load(spark, sf_dir, "documents")
    out = chunk_with_overlap(
        docs, "doc_id", "text", chunk_size=32, overlap=8
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.col("start_tok").cast("int").alias("start_tok"),
        F.col("n_tok").cast("int").alias("n_tok"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


@register(
    "unigram_lm_quality",
    survey=("A1", "F9", "J5"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), ref AS (
  SELECT w, COUNT(*) AS c FROM tok WHERE doc_id < 100 GROUP BY w
), stats AS (
  SELECT CAST(SUM(c) AS DOUBLE) + COUNT(*) + 1 AS denom FROM ref
), vocab AS (
  SELECT w, log2((c + 1.0) / denom) AS logp FROM ref, stats
), scored AS (
  SELECT t.doc_id,
         -COALESCE(v.logp, (SELECT log2(1.0 / denom) FROM stats)) AS nll
  FROM tok t LEFT JOIN vocab v USING (w)
), d AS (
  SELECT doc_id, COUNT(*) AS n_tok, ROUND(AVG(nll), 6) AS mean_nll
  FROM scored GROUP BY doc_id
), cuts AS (
  SELECT v[CAST(ceil(len(v) / 3.0) AS INT)] AS c1,
         v[CAST(ceil(len(v) * 2 / 3.0) AS INT)] AS c2
  FROM (SELECT list_sort(list(mean_nll)) AS v FROM d)
)
SELECT doc_id, n_tok, mean_nll,
       CASE WHEN mean_nll <= c1 THEN 'head'
            WHEN mean_nll <= c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM d, cuts
""",
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing: score every document by mean
    token surprisal under an add-one unigram LM trained on the
    doc_id<100 reference slice, then label head/middle/tail by exact
    tercile ORDER STATISTICS of the rounded score (value-based
    cutoffs, so ties land in the same bucket in both engines — no
    interpolation formula to disagree on; at 100 TB the cutoffs come
    from approx_percentile instead, same CASE). Vocab broadcast,
    scoring side explode → broadcast join → one keyed aggregate."""
    from bio_lakehouse_spark.operators.textops import unigram_lm_score

    docs = load(spark, sf_dir, "documents")
    s = unigram_lm_score(
        docs, "doc_id", "text", ref=docs.filter(F.col("doc_id") < 100)
    ).select(
        "doc_id", "n_tok", F.round("mean_nll", 6).alias("mean_nll")
    )
    cut = s.groupBy().agg(
        F.sort_array(F.collect_list("mean_nll")).alias("v")
    ).select(
        # An empty score list (every mean_nll NULL) makes
        # ceil(size/3) = 0 — and try_element_at does NOT suppress
        # INVALID_INDEX_OF_ZERO (only out-of-bounds), so the index
        # itself must be nulled: element_at with a NULL index returns
        # NULL, and NULL cuts bucket everything as 'tail'.
        F.try_element_at(
            "v",
            F.nullif(F.ceil(F.size("v") / 3).cast("int"), F.lit(0)),
        ).alias("c1"),
        F.try_element_at(
            "v",
            F.nullif(
                F.ceil(F.size("v") * 2 / 3).cast("int"), F.lit(0)
            ),
        ).alias("c2"),
    )
    return s.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        "n_tok",
        "mean_nll",
        F.when(F.col("mean_nll") <= F.col("c1"), F.lit("head"))
        .when(F.col("mean_nll") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@register(
    "kn_bigram_perplexity",
    survey=("A1", "F9", "J5"),
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len(w) - 2, 0) + 1),
                i -> struct_pack(w1 := w[i+1], w2 := w[i+2]))) AS p
  FROM ws
), s AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg WHERE p.w2 IS NOT NULL
), big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM s WHERE doc_id < 100 GROUP BY 1, 2
), ctx AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1r FROM big GROUP BY 1
), cont AS (
  SELECT w2, COUNT(*) AS n1l FROM big GROUP BY 1
), scal AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS t,
         CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v2,
         (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE)
          FROM (SELECT unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id < 100)) AS v
  FROM big
), pc AS (
  SELECT s.doc_id,
         greatest(COALESCE(cont.n1l, 0) - 0.75, 0) / scal.t
           + 0.75 * scal.v2 / scal.t / scal.v AS p_cont,
         big.c12 AS c12, ctx.c1 AS c1, ctx.n1r AS n1r
  FROM s LEFT JOIN big USING (w1, w2)
         LEFT JOIN ctx USING (w1)
         LEFT JOIN cont USING (w2), scal
), scored AS (
  SELECT doc_id,
         -log2(CASE WHEN c1 IS NOT NULL THEN
                 greatest(COALESCE(c12, 0) - 0.75, 0) / c1
                   + 0.75 * n1r / c1 * p_cont
               ELSE p_cont END) AS nll
  FROM pc
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(nll), 6) AS mean_nll
FROM scored GROUP BY doc_id
""",
)
def kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney BIGRAM LM perplexity per document —
    the real KenLM-family estimator behind CCNet-style perplexity
    filtering (`unigram_lm_quality` is the closed-form proxy; this
    adds absolute discounting + continuation-probability backoff,
    D=0.75). Trained on the doc_id<100 reference slice, scores every
    document in bits/bigram. All model tables are TYPE-keyed (vocab
    bounded, independent of corpus size): word-keyed tables broadcast,
    the (w1,w2) count join left to AQE — broadcast at this vocab,
    shuffle equi-join at web-scale vocab². Pair formation is a pure
    HOF (split → indexed transform → filter → explode), no window.
    Reference analog: insights_engine scores text quality via LM
    surprisal buckets; KN is the standard estimator family."""
    from bio_lakehouse_spark.operators.textops import (
        kneser_ney_bigram_score,
    )

    docs = load(spark, sf_dir, "documents")
    s = kneser_ney_bigram_score(
        docs, "doc_id", "text", ref=docs.filter(F.col("doc_id") < 100)
    )
    return s.select(
        "doc_id", "n_bigrams", R6(F.col("mean_nll")).alias("mean_nll")
    )


_H60 = "CAST(concat('0x', substr(md5({v}), 1, 15)) AS BIGINT)"


@register(
    "nb_quality_filter",
    survey=("A1", "F9", "J5"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS pos, string_split(text, ' ') AS w
  FROM documents
), f AS (
  SELECT doc_id, pos, {_H60.format(v='unnest(w)')} % 4096 AS b FROM t
  UNION ALL
  SELECT doc_id, pos,
         {_H60.format(v="w[g] || ' ' || w[g+1]")} % 4096 AS b
  FROM t, unnest(generate_series(1, len(w) - 1)) AS u(g)
), counts AS (
  SELECT b, COUNT(*) FILTER (pos) AS cp,
         COUNT(*) FILTER (NOT pos) AS cn
  FROM f GROUP BY b
), tot AS (
  SELECT SUM(cp) AS np, SUM(cn) AS nn FROM counts
), wt AS (
  SELECT b, ln((cp + 1) / (np + 4096.0))
          - ln((cn + 1) / (nn + 4096.0)) AS w
  FROM counts, tot
), d AS (
  SELECT doc_id, COUNT(*) AS n_feat, ROUND(AVG(w), 6) AS nb_logodds
  FROM f JOIN wt USING (b) GROUP BY doc_id
)
SELECT doc_id, n_feat, nb_logodds, nb_logodds > 0 AS keep FROM d
""",
)
def nb_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (fastText/FineWeb-Edu stage):
    closed-form multinomial NB over hashed unigram+bigram features
    (dim 4096), trained on lang='en' as the positive seed and applied
    to every document. The weight table is bounded by dim rows
    regardless of corpus size (the point of feature hashing) →
    broadcast; verdict keep = mean log-odds > 0 on the rounded score
    so both engines agree at the boundary."""
    from bio_lakehouse_spark.operators.textops import (
        nb_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "__pos", F.col("lang") == "en"
    )
    out = nb_quality_classifier(
        docs, "doc_id", "text", "__pos", dim=4096
    ).select(
        "doc_id", "n_feat", F.round("nb_logodds", 6).alias("nb_logodds")
    )
    return out.withColumn("keep", F.col("nb_logodds") > 0)


@register(
    "repeated_span_flags",
    survey=("A11", "F9"),
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(w) - 16, 0) + 1),
                  i -> concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6], w[i+7], w[i+8], w[i+9], w[i+10], w[i+11], w[i+12], w[i+13], w[i+14], w[i+15], w[i+16]))) AS gram
    FROM t
  )
), freq AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
)
SELECT g.doc_id,
       COUNT(*) AS n_windows,
       COUNT(*) FILTER (f.nd >= 2) AS n_shared,
       ROUND(COUNT(*) FILTER (f.nd >= 2)
             / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac,
       COUNT(*) FILTER (f.nd >= 2) > 0 AS flagged
FROM g JOIN freq f USING (gram)
GROUP BY g.doc_id
""",
)
def repeated_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection (Lee et al. 2022
    exact-substring dedup signal): stride-1 16-token windows catch
    verbatim spans duplicated at ANY alignment — the case disjoint
    chunkers miss. Linear explode (same envelope as decontamination),
    8-byte hash exchange keys, broadcast shared-window flag."""
    from bio_lakehouse_spark.operators.dedup import repeated_window_flags

    docs = load(spark, sf_dir, "documents")
    return repeated_window_flags(docs, "doc_id", "text", window=16)


def _langid_case() -> str:
    """The predicted-language CASE over a bound word array `w` —
    shared by text_langid's oracle and the filter pipeline."""
    scores = {
        lang: (
            f"len(list_filter(w, x -> x IN "
            f"({', '.join(repr(s) for s in sw)})))"
        )
        for lang, sw in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    whens = []
    for lang in langs:
        others = ", ".join(scores[o] for o in langs if o != lang)
        whens.append(
            f"WHEN {scores[lang]} >= greatest({others}) THEN '{lang}'"
        )
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


@register(
    "corpus_filter_pipeline",
    survey=("F6", "F7", "A11", "P5"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, text, {_W} AS w,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS fp
  FROM documents
), feat AS (
  SELECT doc_id,
         MIN(doc_id) OVER (PARTITION BY fp) <> doc_id AS is_dup,
         ROUND(CASE WHEN len(w) >= 20 THEN 0.4 ELSE 0.0 END
             + CASE WHEN length(array_to_string(w, ''))::DOUBLE
                    / greatest(len(w), 1) BETWEEN 3 AND 10
                    THEN 0.3 ELSE 0.0 END
             + CASE WHEN len(list_filter(w, x -> x IN ({_EN_SW})))::DOUBLE
                    / greatest(len(w), 1) >= 0.05 THEN 0.2 ELSE 0.0 END
             + CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1) <= 0.2
                    THEN 0.1 ELSE 0.0 END, 6) >= 0.7 AS quality_ok,
         {_langid_case()} = lang AS lang_ok
  FROM base
)
SELECT doc_id, is_dup, quality_ok, lang_ok,
       (NOT is_dup) AND quality_ok AND lang_ok AS keep,
       COALESCE(array_to_string(list_filter([
           CASE WHEN is_dup THEN 'dup' END,
           CASE WHEN NOT quality_ok THEN 'quality' END,
           CASE WHEN NOT lang_ok THEN 'lang' END
       ], x -> x IS NOT NULL), ','), '') AS reject_reasons
FROM feat
""",
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style end-to-end filter chain as ONE per-document
    verdict frame: exact-dup demotion (keeper = min doc_id per
    normalized-text fingerprint), heuristic quality gate
    (quality_score ≥ 0.7), language-agreement gate (stopword langid
    == labeled lang), composed into keep + reject_reasons. One
    fingerprint-keyed window shuffle; everything else is scan-level
    expressions — the whole chain is a single pass plus one exchange
    at 100 TB."""
    from pyspark.sql import Window

    from bio_lakehouse_spark.operators.textops import fingerprint_exact

    docs = load(spark, sf_dir, "documents")
    m = quality_metrics("text")
    w = Window.partitionBy(fingerprint_exact("text"))
    feat = docs.select(
        "doc_id",
        (F.min("doc_id").over(w) != F.col("doc_id")).alias("is_dup"),
        (R6(m["quality_score"]) >= 0.7).alias("quality_ok"),
        (predicted_lang(words("text")) == F.col("lang")).alias("lang_ok"),
    )
    reasons = F.array_join(
        F.filter(
            F.array(
                F.when(F.col("is_dup"), F.lit("dup")),
                F.when(~F.col("quality_ok"), F.lit("quality")),
                F.when(~F.col("lang_ok"), F.lit("lang")),
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    return feat.select(
        "doc_id",
        "is_dup",
        "quality_ok",
        "lang_ok",
        (~F.col("is_dup") & F.col("quality_ok") & F.col("lang_ok")).alias(
            "keep"
        ),
        reasons.alias("reject_reasons"),
    )


_QUALITY_OK_SQL = f"""ROUND(CASE WHEN len(w) >= 20 THEN 0.4 ELSE 0.0 END
             + CASE WHEN length(array_to_string(w, ''))::DOUBLE
                    / greatest(len(w), 1) BETWEEN 3 AND 10
                    THEN 0.3 ELSE 0.0 END
             + CASE WHEN len(list_filter(w, x -> x IN ({_EN_SW})))::DOUBLE
                    / greatest(len(w), 1) >= 0.05 THEN 0.2 ELSE 0.0 END
             + CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1) <= 0.2
                    THEN 0.1 ELSE 0.0 END, 6) >= 0.7"""


def _curation_feat_cte() -> str:
    """The shared curation-chain CTE stack ending in `feat` (one row
    per train doc with the five gate booleans) — used by both the
    per-doc verdict oracle and the per-source summary oracle."""
    langid = _langid_case()
    return f"""
WITH base AS (
  SELECT doc_id, lang, source, text, {_W} AS w,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id >= 20
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                       i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS shingles
  FROM base
), ex AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
), nd AS (
  -- inverted-index exact Jaccard (see _jac_pairs_cte: bit-identical
  -- to the quadratic list_intersect form, sub-quadratic in DuckDB)
  SELECT DISTINCT doc_b AS doc_id FROM (
    SELECT b.doc_id AS doc_b,
           COUNT(*)::DOUBLE
             / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) AS jac_raw
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) WHERE jac_raw >= 0.5
), g AS (
  SELECT doc_id, {_ngrams5_sql()} AS grams
  FROM (SELECT doc_id, {_W} AS w FROM documents)
), ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 20
), cont AS (
  SELECT DISTINCT tr.doc_id
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 20) tr
  JOIN ev USING (gram)
), feat AS (
  SELECT b.doc_id, b.source, len(b.w) AS n_tok,
         MIN(b.doc_id) OVER (PARTITION BY fp) <> b.doc_id AS is_dup,
         nd.doc_id IS NOT NULL AS neardup_demoted,
         {_QUALITY_OK_SQL} AS quality_ok,
         {langid} = lang AS lang_ok,
         cont.doc_id IS NOT NULL AS contaminated,
         (MIN(b.doc_id) OVER (PARTITION BY fp) = b.doc_id)
           AND nd.doc_id IS NULL AND {_QUALITY_OK_SQL}
           AND {langid} = lang AND cont.doc_id IS NULL AS keep
  FROM base b LEFT JOIN nd USING (doc_id) LEFT JOIN cont USING (doc_id)
)
"""


def _curation_full_oracle() -> str:
    return (
        _curation_feat_cte()
        + """
SELECT doc_id, is_dup, neardup_demoted, quality_ok, lang_ok, contaminated,
       keep,
       COALESCE(array_to_string(list_filter([
           CASE WHEN is_dup THEN 'dup' END,
           CASE WHEN neardup_demoted THEN 'neardup' END,
           CASE WHEN NOT quality_ok THEN 'quality' END,
           CASE WHEN NOT lang_ok THEN 'lang' END,
           CASE WHEN contaminated THEN 'contaminated' END
       ], x -> x IS NOT NULL), ','), '') AS reject_reasons
FROM feat
"""
    )


def _curation_verdicts(
    spark: SparkSession, sf_dir: str, carry_source_tok: bool = False
) -> DataFrame:
    """Shared curation verdict frame (VERDICT r13 #1): the cheap
    per-document SCALAR features — exact-dup fingerprint, quality
    gate, langid agreement, and (for the summary) source + token
    count — are computed in ONE projection over `documents` (longs,
    one md5 string, bools: no text, no arrays), so the fingerprint
    window and the summary's accounting ride the same scan instead of
    the summary re-scanning the corpus for source/n_tok and joining
    back. Only the LSH candidate branch and the 5-gram
    decontamination branch still scan `documents` — their array-heavy
    intermediates are exactly what the r13 measurement said must NOT
    be materialized, and this frame is not materialized either (one
    consumer; the carried columns ARE the sharing)."""
    from pyspark.sql import Window

    from bio_lakehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_overlap_contamination,
    )
    from bio_lakehouse_spark.operators.textops import fingerprint_exact

    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") >= 20)
    evalset = docs.filter(F.col("doc_id") < 20)
    m = quality_metrics("text")
    extra = (
        [F.col("source"), F.size(words("text")).alias("n_tok")]
        if carry_source_tok
        else []
    )
    # One consumer (the fingerprint window below) — deliberately NOT
    # materialized: the A/B read an eager checkpoint here as a pure
    # barrier (summary 4.19 → 4.95 s), because the sharing comes from
    # CARRYING source/n_tok through this select, not from caching it.
    scalars = train.select(
        "doc_id",
        fingerprint_exact("text").alias("__fp"),
        (R6(m["quality_score"]) >= 0.7).alias("quality_ok"),
        (predicted_lang(words("text")) == F.col("lang")).alias("lang_ok"),
        *extra,
    )
    w = Window.partitionBy("__fp")
    base = scalars.select(
        "doc_id",
        (F.min("doc_id").over(w) != F.col("doc_id")).alias("is_dup"),
        "quality_ok",
        "lang_ok",
        *([c for c in ("source", "n_tok")] if carry_source_tok else []),
    )
    near = (
        minhash_lsh_pairs(train, "doc_id", "text", n=3, threshold=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__nd", F.lit(True))
    )
    cont = (
        ngram_overlap_contamination(train, evalset, "doc_id", "text", n=5)
        .select("doc_id")
        .distinct()
        .withColumn("__ct", F.lit(True))
    )
    feat = (
        base.join(near, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            "is_dup",
            F.coalesce("__nd", F.lit(False)).alias("neardup_demoted"),
            "quality_ok",
            "lang_ok",
            F.coalesce("__ct", F.lit(False)).alias("contaminated"),
            *([c for c in ("source", "n_tok")] if carry_source_tok else []),
        )
    )
    reasons = F.array_join(
        F.filter(
            F.array(
                F.when(F.col("is_dup"), F.lit("dup")),
                F.when(F.col("neardup_demoted"), F.lit("neardup")),
                F.when(~F.col("quality_ok"), F.lit("quality")),
                F.when(~F.col("lang_ok"), F.lit("lang")),
                F.when(F.col("contaminated"), F.lit("contaminated")),
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    return feat.select(
        "doc_id",
        "is_dup",
        "neardup_demoted",
        "quality_ok",
        "lang_ok",
        "contaminated",
        (
            ~F.col("is_dup")
            & ~F.col("neardup_demoted")
            & F.col("quality_ok")
            & F.col("lang_ok")
            & ~F.col("contaminated")
        ).alias("keep"),
        reasons.alias("reject_reasons"),
        *([c for c in ("source", "n_tok")] if carry_source_tok else []),
    )


@register(
    "curation_pipeline_full",
    survey=("F6", "F7", "A11", "J6", "P5"),
    oracle=_curation_full_oracle(),
)
def curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data curation chain as one per-document
    verdict frame over the training slice (doc_id ≥ 20; doc_id < 20
    is the held-out eval set, the decontamination convention): exact-
    dup demotion (keeper = min doc_id per normalized fingerprint) →
    NEAR-dup demotion (a smaller-id neighbor at shingle-Jaccard ≥ 0.5
    exists, candidates from the production MinHash-LSH path whose
    pair set matches the oracle's brute-force scan — the
    dedup_minhash_lsh recall argument verbatim) → heuristic quality
    gate → langid agreement → eval 5-gram decontamination, composed
    into keep + reject_reasons. This is the integration query a
    pipeline actually runs nightly; every stage is individually
    certified elsewhere, and this certifies their composition.

    Scale: one scalar-feature pass + fingerprint window exchange, the
    LSH band exchange, one broadcast eval-gram join — no stage
    exceeds the shapes of its standalone operator
    (see _curation_verdicts for the r14 shared-scan structure)."""
    return _curation_verdicts(spark, sf_dir)


@register(
    "curation_summary_by_source",
    survey=("A1", "A6", "F7"),
    oracle=_curation_feat_cte()
    + """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (keep) AS n_kept,
       ROUND(COUNT(*) FILTER (keep) / CAST(COUNT(*) AS DOUBLE), 6)
         AS kept_frac,
       CAST(COALESCE(SUM(n_tok) FILTER (keep), 0) AS BIGINT) AS kept_tokens,
       COUNT(*) FILTER (is_dup) AS n_dup,
       COUNT(*) FILTER (neardup_demoted) AS n_neardup,
       COUNT(*) FILTER (NOT quality_ok) AS n_quality,
       COUNT(*) FILTER (NOT lang_ok) AS n_lang,
       COUNT(*) FILTER (contaminated) AS n_contaminated
FROM feat
GROUP BY source
""",
)
def curation_summary_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation accounting — what the nightly pipeline
    LOGS: docs in/kept, kept fraction, surviving token budget, and a
    per-gate drop count, grouped by source/domain. The observability
    companion to curation_pipeline_full (same posture as the LSH
    hot-bucket drop-stats: a pipeline that silently drops data is a
    pipeline nobody can debug); at 100 TB this is the tiny aggregate
    that feeds the mixture planner and the drop-rate alarms. One
    extra groupBy over the verdict frame; gate flags are counted
    independently (a doc can trip several).

    r14: source and n_tok ride the shared scalar-feature frame
    (_curation_verdicts) instead of a second full scan of
    `documents` + a keyed join back — two fewer corpus scans, one
    fewer join."""
    v = _curation_verdicts(spark, sf_dir, carry_source_tok=True)
    return v.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("keep")).alias("n_kept"),
        R6(
            F.count_if(F.col("keep")) / F.count(F.lit(1)).cast("double")
        ).alias("kept_frac"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n_tok"))), F.lit(0)
        ).cast("long").alias("kept_tokens"),
        F.count_if(F.col("is_dup")).alias("n_dup"),
        F.count_if(F.col("neardup_demoted")).alias("n_neardup"),
        F.count_if(~F.col("quality_ok")).alias("n_quality"),
        F.count_if(~F.col("lang_ok")).alias("n_lang"),
        F.count_if(F.col("contaminated")).alias("n_contaminated"),
    )


def _entropy_sql() -> str:
    terms = []
    for ch in "abcdefghijklmnopqrstuvwxyz0123456789 ":
        lit = "' '" if ch == " " else f"'{ch}'"
        cnt = f"(length(text) - length(replace(text, {lit}, '')))::DOUBLE"
        terms.append(
            f"CASE WHEN {cnt} > 0 THEN -({cnt} / length(text)::DOUBLE)"
            f" * log2({cnt} / length(text)::DOUBLE) ELSE 0.0 END"
        )
    return " + ".join(terms)


@register(
    "text_char_entropy",
    survey=("F7", "F11"),
    oracle=f"""
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       ROUND({_entropy_sql()}, 6) AS entropy_bits,
       ROUND({_entropy_sql()}, 6) < 3.5 AS low_entropy
FROM documents
""",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    repetitiveness signal quality filters pair with the Gopher rules
    (near-zero → boilerplate runs; English ≈ 4 bits). Scan-level
    closed form (one replace-count per alphabet symbol, fixed
    summation order), no explode, no shuffle at scale (the spread is
    a small-fixture no-op on real splits). The 37-symbol tree is
    materialized ONCE and the threshold flag reads the stored column
    — inlining `ent` twice doubled the codegen'd expression and
    measured ~2× slower."""
    from bio_lakehouse_spark.operators.textops import char_entropy

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    ent = F.round(char_entropy("text"), 6)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        ent.alias("entropy_bits"),
    ).select("*", (F.col("entropy_bits") < 3.5).alias("low_entropy"))


@register(
    "pack_pairs_minpad",
    survey=("W2", "A1", "O4"),
    oracle=f"""
WITH base AS (
  SELECT doc_id AS doc, CAST(len({_W}) AS BIGINT) AS n_tok,
         CAST(doc_id % 8 AS INT) AS shard
  FROM documents
), ranked AS (
  SELECT shard, doc, n_tok,
         ROW_NUMBER() OVER (PARTITION BY shard
           ORDER BY n_tok DESC, doc) AS r,
         COUNT(*) OVER (PARTITION BY shard) AS n
  FROM base
), binned AS (
  SELECT shard, LEAST(r, n - r + 1) AS bin_id,
         r * 2 <= n AS is_long, doc, n_tok
  FROM ranked
)
SELECT shard, CAST(bin_id AS INT) AS bin_id,
       COALESCE(MAX(CASE WHEN is_long THEN doc END),
                MAX(CASE WHEN NOT is_long THEN doc END)) AS long_id,
       CASE WHEN MAX(CASE WHEN is_long THEN doc END) IS NULL THEN -1
            ELSE COALESCE(MAX(CASE WHEN NOT is_long THEN doc END), -1)
       END AS short_id,
       CAST(SUM(n_tok) AS BIGINT) AS pair_tok
FROM binned GROUP BY shard, bin_id
""",
)
def pack_pairs_minpad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired packing (longest-with-shortest per shard): the
    deterministic two-per-bin strategy that minimizes max bin load —
    padding variance collapses vs arrival order, and unlike full
    first-fit-decreasing it stays a pure per-shard window
    expression. Shards are the parallelism unit; no global sort."""
    from bio_lakehouse_spark.operators.packing import (
        pack_pairs_minimal_padding,
    )

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(words("text")).cast("long").alias("n_tok")
    )
    out = pack_pairs_minimal_padding(toks, "doc_id", "n_tok", n_shards=8)
    return out.select(
        "shard",
        F.col("bin_id").cast("int").alias("bin_id"),
        "long_id",
        "short_id",
        "pair_tok",
    )


@register(
    "dataset_manifest",
    survey=("A1", "F9", "P10"),
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       bit_xor(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
               ':', text)), 1, 15)) AS BIGINT)) AS content_fingerprint
FROM documents
GROUP BY source
""",
)
def dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dataset manifest — the versioning record a
    training pipeline stores next to each materialized corpus: per
    source, doc count, char volume, and an ORDER-INSENSITIVE content
    fingerprint (bit_xor of per-row md5-derived 60-bit hashes — XOR
    commutes, so any partitioning/engine/row order yields the same
    id; paired with the count so a cancelling duplicate pair still
    changes the record). Two materializations match iff their
    manifests match — the cheap drift check before diffing data."""
    from bio_lakehouse_spark.operators.sketches import hash60

    docs = load(spark, sf_dir, "documents")
    h = hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.bit_xor(h).alias("content_fingerprint"),
    )


@register(
    "dedup_containment",
    survey=("J6", "F9"),
    oracle=_SHINGLES_CTE
    + """
SELECT doc_a, doc_b, ROUND(c_ab, 6) AS cont_a_in_b,
       ROUND(c_ba, 6) AS cont_b_in_a
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / len(a.shingles) AS c_ab,
         len(list_intersect(a.shingles, b.shingles))::DOUBLE
           / len(b.shingles) AS c_ba
  FROM sh a JOIN sh b
    ON a.doc_id < b.doc_id AND a.lang = b.lang AND a.source = b.source
) WHERE c_ab >= 0.8 OR c_ba >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (Broder's resemblance/
    containment pair): C(A→B) = |A∩B|/|A| over word 3-gram shingles,
    flagged when either direction clears 0.8 — catches a short doc
    pasted verbatim inside a long one, which Jaccard structurally
    misses (50 words inside 2000 → Jaccard 0.025, containment 1.0).

    r6: candidates now come from the EXACT asymmetric prefix filter
    (containment_prefix_pairs — smaller doc's rarest-token prefix
    probed against full shingle sets, recall 1 by pigeonhole), NOT a
    within-block quadratic self-join: the old blocked-exact form hit
    108 s on a corpus-sized (lang-only) block at sf0.1 and would
    explode quadratically at 100 TB on any hot (en, web) block. The
    (lang, source) blocking is kept as the join predicate; the DuckDB
    oracle keeps the straightforward quadratic form — two different
    algorithms, identical pair sets."""
    from bio_lakehouse_spark.operators.dedup import (
        containment_prefix_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    out = containment_prefix_pairs(
        docs, "doc_id", "text", block_cols=["lang", "source"], n=3,
        threshold=0.8,
    )
    return out.select(
        "doc_a",
        "doc_b",
        R6(F.col("cont_a_in_b")).alias("cont_a_in_b"),
        R6(F.col("cont_b_in_a")).alias("cont_b_in_a"),
    )


@register(
    "tfidf_top_terms",
    survey=("F9", "W9", "A11"),
    oracle=f"""
WITH dw AS (
  SELECT doc_id, unnest({_W}) AS w FROM documents
), tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM dw WHERE w <> '' GROUP BY 1, 2
), df AS (
  SELECT w, COUNT(DISTINCT doc_id) AS df FROM dw WHERE w <> '' GROUP BY w
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.w AS term, t.tf, df.df,
         t.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
  FROM tf t JOIN df USING (w) CROSS JOIN n
  WHERE t.doc_id < 50
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
           ORDER BY ROUND(score, 9) DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, ROUND(score, 6) AS score,
       CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF (sklearn's idf = ln((N+1)/(df+1))+1) top-3
    terms per document: document frequencies aggregate over the FULL
    corpus once and broadcast back to the restricted per-doc term
    counts; ranks break float near-ties on rounded score + term so
    every engine agrees. The keyword-extraction primitive BM25's
    corpus stats already power (vocab_doc_frequency, text_bm25_topk).
    """
    docs = load(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(words("text")).alias("w")
    ).filter(F.col("w") != "")
    tf = dw.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = dw.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            (
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + 1.0
                )
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    wrk = Window.partitionBy("doc_id").orderBy(
        F.round("score", 9).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wrk))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            R6(F.col("score")).alias("score"),
            "rnk",
        )
        .orderBy("doc_id", "rnk")
    )


@register(
    "crossdoc_ngram_spans",
    survey=("A11", "F9"),
    oracle=f"""
WITH dw AS (
  SELECT doc_id, {_W} AS w FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len(w) - 8, 0) + 1),
                i -> concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4],
                               w[i+5], w[i+6], w[i+7], w[i+8]))) AS g
  FROM dw
), dupg AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_spans
  FROM grams LEFT JOIN dupg d USING (g)
  GROUP BY doc_id
)
SELECT doc_id, n_grams, n_dup_spans,
       ROUND(n_dup_spans * 1.0 / n_grams, 6) AS dup_frac
FROM per_doc ORDER BY doc_id
""",
)
def crossdoc_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection (the Lee et al. 2022
    'Deduplicating Training Data' exact-substring signal, word-8-gram
    granularity): a gram occurring in ≥2 distinct documents marks
    every position it covers as duplicated text.

    Shape: grams stream out of the scan (one transform per doc, let-
    bound words array so the split runs once), collapse to per-gram
    doc-frequency with map-side combine, and the df≥2 survivors join
    back by gram — the fact side is the gram stream both times, no
    all-pairs doc joins anywhere. The intra-doc sibling is
    repeated_span_flags; the line-level one is dedup_frequent_lines.
    """
    from bio_lakehouse_spark.operators.textops import let, word_ngram_stream

    # Two consumers of the gram stream off a single-split fixture →
    # spread first (no-op on real inputs).
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(
            let(words("text"), lambda w: word_ngram_stream(w, 8))
        ).alias("g"),
    )
    dupg = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        grams.join(dupg, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias(
                "n_dup_spans"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_dup_spans",
        R6(F.col("n_dup_spans") / F.col("n_grams")).alias("dup_frac"),
    ).orderBy("doc_id")

def _langid_confusion_oracle() -> str:
    return f"""
WITH pred AS (
  SELECT lang AS labeled_lang,
         ({_langid_case()}) AS predicted_lang
  FROM (SELECT lang, {_W} AS w FROM documents)
), cm AS (
  SELECT labeled_lang, predicted_lang, COUNT(*) AS n FROM pred GROUP BY 1, 2
)
SELECT labeled_lang, predicted_lang, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY labeled_lang), 6) AS recall_share
FROM cm ORDER BY labeled_lang, predicted_lang
"""


@register("langid_confusion", survey=("F6", "A6"), oracle=_langid_confusion_oracle())
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled × predicted counts with
    per-label recall share — the evaluation twin of text_langid
    (the quality gate you run before trusting the heuristic to route
    a 100 TB corpus into per-language pipelines). One scan, one
    groupBy; the recall normalization is a window over the |L|² cells.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        predicted_lang(words("text")).alias("predicted_lang"),
    )
    cm = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    wl = Window.partitionBy("labeled_lang")
    return cm.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        R6(F.col("n") / F.sum("n").over(wl)).alias("recall_share"),
    ).orderBy("labeled_lang", "predicted_lang")


@register(
    "inverted_index_topdf",
    survey=("F9", "O4", "A11"),
    oracle=f"""
WITH pw AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS term
  FROM (SELECT doc_id, {_W} AS w FROM documents),
       LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)
  WHERE w[i] <> ''
), top_terms AS (
  SELECT term FROM (
    SELECT term, COUNT(DISTINCT doc_id) AS df,
           ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id) DESC, term) AS rn
    FROM pw GROUP BY term
  ) WHERE rn <= 20
)
SELECT p.term, p.doc_id, COUNT(*) AS tf,
       STRING_AGG(p.pos, ',' ORDER BY p.pos) AS positions
FROM pw p JOIN top_terms t USING (term)
GROUP BY p.term, p.doc_id
ORDER BY p.term, p.doc_id
""",
)
def inverted_index_topdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index build for the 20 highest-df terms:
    term → (doc, tf, sorted position list) — the search-engine
    posting-list primitive downstream of the BM25 corpus stats.

    Shape: ONE posexplode of the let-bound words array (positions are
    free — no second tokenization), per-(term, doc) postings collapse
    with map-side combine, and the df-top-k term set joins back
    small — selected by a distributed TakeOrdered top-k, not a
    row_number window over the whole vocabulary (a one-core sort of
    every distinct term at corpus scale). At corpus scale the posting
    lists are the output — naturally partitioned by term, which IS
    the serving layout."""
    from bio_lakehouse_spark.operators.textops import let

    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    pw = docs.select(
        "doc_id",
        F.posexplode(let(words("text"), lambda w: w)).alias("pos", "term"),
    ).filter(F.col("term") != "")
    dfreq = pw.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    top = (
        dfreq.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
        .select("term")
    )
    return (
        pw.join(F.broadcast(top), "term")
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.array_join(F.sort_array(F.collect_list("pos")), ",").alias(
                "positions"
            ),
        )
        .orderBy("term", "doc_id")
    )


@register(
    "collocations_pmi_topk",
    survey=("F9", "A6"),
    oracle=f"""
WITH dw AS (
  SELECT doc_id, {_W} AS w FROM documents
), uni AS (
  SELECT unnest(w) AS t FROM dw
), ucnt AS (
  SELECT t, COUNT(*) AS c FROM uni WHERE t <> '' GROUP BY t
), n_uni AS (
  SELECT SUM(c) AS n FROM ucnt
), bi AS (
  SELECT unnest(list_transform(range(1, len(w)),
                i -> struct_pack(a := w[i], b := w[i+1]))) AS g
  FROM dw
), bcnt AS (
  SELECT g.a AS t1, g.b AS t2, COUNT(*) AS c12 FROM bi
  WHERE g.a <> '' AND g.b <> '' GROUP BY 1, 2 HAVING COUNT(*) >= 5
), n_bi AS (
  SELECT SUM(len(w) - 1) AS n FROM dw WHERE len(w) > 1
), scored AS (
  SELECT b.t1, b.t2, b.c12,
         LN((b.c12 * 1.0 / nb.n) /
            ((u1.c * 1.0 / nu.n) * (u2.c * 1.0 / nu.n))) AS pmi
  FROM bcnt b
  JOIN ucnt u1 ON u1.t = b.t1
  JOIN ucnt u2 ON u2.t = b.t2
  CROSS JOIN n_uni nu CROSS JOIN n_bi nb
)
SELECT t1, t2, c12, ROUND(pmi, 6) AS pmi
FROM scored ORDER BY ROUND(pmi, 9) DESC, t1, t2 LIMIT 20
""",
)
def collocations_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information,
    min count 5 (Church & Hanks 1990) — the phrase-detection
    primitive (word2vec-style phrase merging, vocabulary induction).
    Unigram and bigram counts each collapse map-side from the scan;
    the tiny count totals broadcast back; tie-breaks pin rounded PMI
    + terms so engines rank identically."""
    from bio_lakehouse_spark.operators.textops import let

    docs = load(spark, sf_dir, "documents")
    dw = docs.select(let(words("text"), lambda w: w).alias("w"))
    uni = dw.select(F.explode("w").alias("t")).filter(F.col("t") != "")
    ucnt = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n_uni = ucnt.agg(F.sum("c").alias("nu"))
    # size(w) >= 2 filter (r12 degenerate sweep): for a SINGLE-word
    # doc, sequence(1, greatest(size-1, 0)) = sequence(1, 0) infers
    # step -1 → [1, 0] — element_at(w, 0) and element_at(w, 2) both
    # abort under ANSI. One-word docs have no bigrams; prune them
    # from this branch only (they still count in the unigram side).
    bi = (
        dw.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) as a,"
                    " element_at(w, i + 1) as b))"
                )
            ).alias("g")
        )
        .select(F.col("g.a").alias("t1"), F.col("g.b").alias("t2"))
    )
    bcnt = (
        bi.filter((F.col("t1") != "") & (F.col("t2") != ""))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    n_bi = dw.filter(F.size("w") > 1).agg(
        F.sum(F.size("w") - 1).alias("nb")
    )
    u1 = ucnt.select(F.col("t").alias("t1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("t").alias("t2"), F.col("c").alias("c2"))
    scored = (
        bcnt.join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "t1",
            "t2",
            "c12",
            F.log(
                (F.col("c12") / F.col("nb"))
                / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(
            F.round("pmi", 9).desc(), F.col("t1").asc(), F.col("t2").asc()
        )
        .limit(20)
        .select("t1", "t2", "c12", R6(F.col("pmi")).alias("pmi"))
    )


@register(
    "zipf_slope_audit",
    survey=("ST7", "A10"),
    oracle=f"""
WITH uni AS (
  SELECT unnest({_W}) AS t FROM documents
), ucnt AS (
  SELECT t, COUNT(*) AS c FROM uni WHERE t <> '' GROUP BY t
), ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS r
  FROM ucnt
), top AS (
  SELECT LN(r) AS lx, LN(c) AS ly FROM ranked WHERE r <= 500
)
SELECT COUNT(*) AS n_terms,
       ROUND(REGR_SLOPE(ly, lx), 6) AS zipf_slope,
       ROUND(REGR_R2(ly, lx), 6) AS r2
FROM top
""",
)
def zipf_slope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit: OLS slope of log-frequency vs log-rank over
    the top-500 vocabulary (natural corpora sit near −1; a synthetic
    or template-heavy corpus drifts, making this a cheap corpus-
    health fingerprint alongside the quality filters). One vocabulary
    aggregate, a distributed top-k (TakeOrderedAndProject — per-
    partition heaps, never a global sort: a row_number window over
    the WHOLE vocab would single-thread 10⁸ distinct tokens at
    100 TB), then ranks assigned on the 500-row frame only."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    uni = docs.select(F.explode(words("text")).alias("t")).filter(
        F.col("t") != ""
    )
    ucnt = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    top500 = ucnt.orderBy(F.col("c").desc(), F.col("t").asc()).limit(500)
    ranked = top500.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("t").asc())
        ),
    )
    top = ranked.select(
        F.log("r").alias("lx"), F.log("c").alias("ly")
    )
    return top.agg(
        F.count(F.lit(1)).alias("n_terms"),
        R6(F.regr_slope(F.col("ly"), F.col("lx"))).alias("zipf_slope"),
        R6(F.regr_r2(F.col("ly"), F.col("lx"))).alias("r2"),
    )


_PII_CLASSES = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
]


def _pii_scan_oracle() -> str:
    branches = []
    for cls, pat in _PII_CLASSES:
        branches.append(f"""
  SELECT 'documents.text' AS column_name, '{cls}' AS pii_type,
         COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN regexp_matches(t, '{pat}') THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM aug""")
        branches.append(f"""
  SELECT 'events.props', '{cls}', COUNT(*),
         CAST(SUM(CASE WHEN regexp_matches(props, '{pat}') THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM events""")
    body = "\n  UNION ALL".join(branches)
    return f"""
WITH aug AS (
  SELECT CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com'
              ELSE text END AS t
  FROM documents
)
SELECT column_name, pii_type, n_rows, n_hits,
       ROUND(n_hits * 1.0 / n_rows, 6) AS hit_rate
FROM ({body})
ORDER BY column_name, pii_type
"""


@register("pii_column_scan", survey=("P10", "F1"), oracle=_pii_scan_oracle())
def pii_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level PII classifier scan — the governance report that
    decides which columns need the redaction pass (pii_redaction) or
    access controls before a dataset ships: per (column, PII class),
    the row hit rate under the same RE2-compatible regexes both
    engines run. One scan per column, counts collapse map-side;
    deterministic PII is injected into a third of documents so the
    rates are non-trivial on synthetic text."""
    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")
    aug = docs.select(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t")
    )
    out = None
    for cls, pat in _PII_CLASSES:
        for col_name, frame, c in (
            ("documents.text", aug, "t"),
            ("events.props", ev, "props"),
        ):
            one = frame.agg(
                F.lit(col_name).alias("column_name"),
                F.lit(cls).alias("pii_type"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.regexp_like(F.col(c), F.lit(pat)), 1).otherwise(
                        0
                    )
                ).alias("n_hits"),
            )
            out = one if out is None else out.unionAll(one)
    return out.select(
        "column_name",
        "pii_type",
        "n_rows",
        "n_hits",
        R6(F.col("n_hits") / F.col("n_rows")).alias("hit_rate"),
    ).orderBy("column_name", "pii_type")


@register(
    "multimodal_audio_chunks",
    survey=("S3", "F9"),
    oracle="""
WITH probed AS (
  SELECT doc_id,
         1.0 + CAST(concat('0x', substr(md5(text), 1, 2)) AS INTEGER) % 32
           AS duration_s,
         8000 * (1 + CAST(concat('0x', substr(md5(text), 3, 2)) AS INTEGER) % 3)
           AS sample_rate
  FROM documents
), spans AS (
  SELECT doc_id, duration_s, sample_rate,
         CAST(i AS INTEGER) AS chunk_idx,
         ROUND(i * 0.25, 6) AS t_start_s,
         ROUND(i * 0.25 + 0.5, 6) AS t_end_s
  FROM probed,
       LATERAL (SELECT unnest(range(0,
         CAST((duration_s - 0.5) / 0.25 AS BIGINT) + 1)) AS i)
)
SELECT doc_id, duration_s, CAST(sample_rate AS INTEGER) AS sample_rate,
       chunk_idx, t_start_s, t_end_s,
       CAST(ROUND((t_end_s - t_start_s) * sample_rate) AS BIGINT)
         AS n_samples
FROM spans
""",
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking expansion under the value-hash gate: binary
    contract → mapInPandas 1→N overlapping 0.5 s windows at 0.25 s
    hop per media item, with per-chunk sample counts from the fake
    probe's sample rate — the audio sibling of
    multimodal_frame_sample, same Arrow UDTF shape, every span
    reproduced bit-for-bit by the SQL oracle
    (operators/multimodal.audio_chunk_batches)."""
    from bio_lakehouse_spark.operators.multimodal import (
        attach_binary,
        audio_chunk_batches,
    )

    docs = load(spark, sf_dir, "documents")
    return audio_chunk_batches(attach_binary(docs, "text"))


@register(
    "dedup_prefix_filter",
    survey=("J6", "A11", "F9"),
    oracle=_SHINGLES_CTE
    + _jac_pairs_cte()
    + """
SELECT doc_a, doc_b, ROUND(jac_raw, 6) AS jaccard FROM jac
WHERE jac_raw >= 0.5
""",
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall set-similarity join via prefix filtering (PPJoin
    family): the DETERMINISTIC complement to dedup_minhash_lsh —
    same brute-force oracle, but recall 1 is a theorem (pigeonhole on
    the rarest-first global token order), not a band-probability
    bound. Candidates come from an equi-join on prefix tokens only;
    rarest-first ordering keeps those buckets small without a cap
    because high-df tokens sort out of every short prefix
    (operators/dedup.prefix_filter_pairs)."""
    from bio_lakehouse_spark.operators.dedup import prefix_filter_pairs

    docs = load(spark, sf_dir, "documents")
    out = prefix_filter_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select("doc_a", "doc_b", R6(F.col("jaccard")).alias("jaccard"))


# Per-doc NB scores (same construction as nb_quality_filter's oracle),
# reused by the calibration audit.
_NB_SCORES_CTE = f"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS pos, string_split(text, ' ') AS w
  FROM documents
), f AS (
  SELECT doc_id, pos, {_H60.format(v='unnest(w)')} % 4096 AS b FROM t
  UNION ALL
  SELECT doc_id, pos,
         {_H60.format(v="w[g] || ' ' || w[g+1]")} % 4096 AS b
  FROM t, unnest(generate_series(1, len(w) - 1)) AS u(g)
), counts AS (
  SELECT b, COUNT(*) FILTER (pos) AS cp,
         COUNT(*) FILTER (NOT pos) AS cn
  FROM f GROUP BY b
), tot AS (
  SELECT SUM(cp) AS np, SUM(cn) AS nn FROM counts
), wt AS (
  SELECT b, ln((cp + 1) / (np + 4096.0))
          - ln((cn + 1) / (nn + 4096.0)) AS w
  FROM counts, tot
), d AS (
  SELECT doc_id, MAX(CAST(pos AS INTEGER)) AS y,
         ROUND(AVG(w), 6) AS nb_logodds
  FROM f JOIN wt USING (b) GROUP BY doc_id
)
"""


@register(
    "nb_calibration_curve",
    survey=("ST14", "A6"),
    oracle=_NB_SCORES_CTE
    + """, scored AS (
  SELECT y, 1.0 / (1.0 + EXP(-nb_logodds)) AS p FROM d
), bucketed AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS bucket, p, y
  FROM scored
)
SELECT bucket, COUNT(*) AS n,
       ROUND(AVG(p), 6) AS mean_pred,
       ROUND(AVG(y), 6) AS obs_rate,
       ROUND(AVG((p - y) * (p - y)), 6) AS brier
FROM bucketed GROUP BY bucket ORDER BY bucket
""",
)
def nb_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + per-bucket Brier score for the NB quality
    classifier: sigmoid of the (rounded) log-odds bucketed into
    deciles, mean predicted probability vs observed positive rate —
    the reliability diagram that tells you whether keep-threshold 0.5
    means what it claims before the filter runs over a corpus. One
    classifier pass + a 10-row aggregate; sigmoid on the ROUNDED
    score so both engines bucket identically at boundaries."""
    from bio_lakehouse_spark.operators.textops import nb_quality_classifier

    docs = load(spark, sf_dir, "documents").withColumn(
        "__pos", F.col("lang") == "en"
    )
    out = nb_quality_classifier(docs, "doc_id", "text", "__pos", dim=4096)
    j = out.join(
        docs.select("doc_id", F.col("__pos").cast("int").alias("y")),
        "doc_id",
    )
    p = 1.0 / (1.0 + F.exp(-F.round("nb_logodds", 6)))
    bucketed = j.select(
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bucket"),
        p.alias("p"),
        "y",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R6(F.avg("p")).alias("mean_pred"),
            R6(F.avg("y")).alias("obs_rate"),
            R6(F.avg((F.col("p") - F.col("y")) ** 2)).alias("brier"),
        )
        .orderBy("bucket")
    )


@register(
    "dsir_topk_selection",
    survey=("A1", "F9", "O4"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang = 'en' AS tgt, string_split(text, ' ') AS w
  FROM documents
), f AS (
  SELECT doc_id, tgt, {_H60.format(v='unnest(w)')} % 4096 AS b FROM t
  UNION ALL
  SELECT doc_id, tgt,
         {_H60.format(v="w[g] || ' ' || w[g+1]")} % 4096 AS b
  FROM t, unnest(generate_series(1, len(w) - 1)) AS u(g)
), counts AS (
  SELECT b, COUNT(*) FILTER (tgt) AS ct, COUNT(*) AS cr
  FROM f GROUP BY b
), tot AS (
  SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts
), wt AS (
  SELECT b, ln((ct + 1) / (nt + 4096.0))
          - ln((cr + 1) / (nr + 4096.0)) AS lw
  FROM counts, tot
), scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
         ROUND(SUM(lw), 6) AS logw
  FROM f JOIN wt USING (b) GROUP BY doc_id
), ranked AS (
  SELECT doc_id, n_feat, logw,
         ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS rank
  FROM scored
)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, n_feat, logw
FROM ranked WHERE rank <= 100 ORDER BY rank
""",
)
def dsir_topk_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    importance ratio log p_target − log p_raw per document
    (target = lang='en' seed; raw = whole corpus), top-100 selected.
    The distribution train is one groupBy over a dim-bounded bucket
    table (broadcast back); top-k is TakeOrderedAndProject — at
    100 TB the ranking never materializes a global sort, and
    resampling quotas per shard follow from the same logw column.
    Same feature map as nb_quality_filter → identical buckets in
    both engines (operators/textops.dsir_importance)."""
    from bio_lakehouse_spark.operators.textops import dsir_importance

    docs = load(spark, sf_dir, "documents").withColumn(
        "__t", F.col("lang") == "en"
    )
    out = dsir_importance(docs, "doc_id", "text", "__t", dim=4096)
    scored = out.select(
        "doc_id", "n_feat", R6(F.col("logw")).alias("logw")
    )
    # Global top-k via orderBy+limit (TakeOrderedAndProject: per-
    # partition top-100 then a 100-row merge), NOT a corpus-wide
    # row_number window — Spark's InferWindowGroupLimit never fires on
    # an EMPTY partition spec (verified on 4.1), so the window form
    # would single-partition-sort every document. The rank window then
    # runs over the already-bounded 100-row frame.
    top = scored.orderBy(F.desc("logw"), F.asc("doc_id")).limit(100)
    w = Window.orderBy(F.desc("logw"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "doc_id", "n_feat", "logw")
        .orderBy("rank")
    )


@register(
    "token_fertility_audit",
    survey=("F9", "A10"),
    oracle=r"""
WITH d AS (
  SELECT lang,
         len(regexp_extract_all(lower(text),
             '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
         len(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g')), ' ')) AS n_ws,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
       ROUND(SUM(n_bpe) * 1.0 / SUM(n_ws), 6) AS fertility,
       ROUND(SUM(n_chars) * 1.0 / SUM(n_bpe), 6) AS chars_per_token
FROM d GROUP BY lang ORDER BY lang
""",
)
def token_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish regex tokens per
    whitespace word (the fertility metric that drives multilingual
    token budgets) and chars-per-token (compression proxy). Pure
    scan-level expressions aggregated per language — at 100 TB this
    is one map-side-combined groupBy over ≤ |langs| rows. The
    whitespace split here is the NORMALIZED words() array (textops),
    mirrored exactly by the oracle's regexp_replace chain.

    The tokenizer is PLUGGABLE (textops.token_counter — the nl_sql
    LLMFn pattern): this registry entry runs the default JVM-side
    regex proxy so the oracle stays expressible; a caller with
    sentencepiece/tiktoken passes a TokenCounterFn and pays one
    Arrow-batched pandas UDF (test_textops_tokenizer_seam)."""
    from bio_lakehouse_spark.operators.textops import (
        token_fertility_by_lang,
    )

    docs = load(spark, sf_dir, "documents")
    return token_fertility_by_lang(docs, "lang", "text", tokenizer=None)


_QUALITY_EXPR = f"""ROUND(CASE WHEN len(w) >= 20 THEN 0.4 ELSE 0.0 END
  + CASE WHEN length(array_to_string(w, ''))::DOUBLE / greatest(len(w), 1) BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END
  + CASE WHEN len(list_filter(w, x -> x IN ({_EN_SW})))::DOUBLE / greatest(len(w), 1) >= 0.05 THEN 0.2 ELSE 0.0 END
  + CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1) <= 0.2 THEN 0.1 ELSE 0.0 END, 6)"""


@register(
    "dedup_canonical_keep",
    survey=("A11", "W7", "F9"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS text_hash,
         {_QUALITY_EXPR} AS q
  FROM (SELECT doc_id, text, {_W} AS w FROM documents)
), g AS (
  SELECT doc_id, text_hash, q,
         COUNT(*) OVER (PARTITION BY text_hash) AS n_copies,
         ROW_NUMBER() OVER (PARTITION BY text_hash
                            ORDER BY q DESC, doc_id) AS rnk
  FROM scored
)
SELECT doc_id, text_hash, CAST(n_copies AS BIGINT) AS n_copies,
       CAST(rnk AS BIGINT) AS rnk, rnk = 1 AS is_canonical
FROM g WHERE n_copies >= 2
""",
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection: within each bag-fingerprint dup
    group (sorted-distinct-word md5 — catches shuffled copies, where
    the keep decision actually matters), KEEP the best-formed copy
    (quality composite desc, id asc) instead of an arbitrary min-id.
    One shuffle on the fingerprint; windows run over duplicate groups
    (multiplicity-sized, never corpus-sized)."""
    from bio_lakehouse_spark.operators.dedup import canonical_keep_verdicts

    docs = load(spark, sf_dir, "documents")
    return canonical_keep_verdicts(docs, "doc_id", "text", fingerprint="bag")


@register(
    "cdc_chunk_dedup",
    survey=("F9", "A1", "W7"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, g AS pos, ws[g] AS w,
         CASE WHEN {_H60.format(v='ws[g]')} % 16 = 0 THEN 1 ELSE 0 END AS is_b
  FROM (SELECT doc_id, {_W} AS ws FROM documents) t,
       unnest(generate_series(1, len(ws))) AS u(g)
), marked AS (
  SELECT doc_id, pos, w,
         COALESCE(SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM toks
), chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
  FROM marked GROUP BY doc_id, chunk_id
), freq AS (
  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS ndocs
  FROM chunks GROUP BY chunk_hash
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(CASE WHEN f.ndocs >= 2 THEN 1 END) AS BIGINT) AS n_dup_chunks,
       ROUND(COUNT(CASE WHEN f.ndocs >= 2 THEN 1 END) * 1.0 / COUNT(*), 6)
         AS dup_chunk_frac
FROM chunks c JOIN freq f USING (chunk_hash)
GROUP BY c.doc_id
""",
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking duplicate audit (rsync/LBFS chunking
    on word streams): boundaries where hash60(word) % 16 == 0, so an
    inserted word shifts ONE chunk, not every window downstream — the
    shift-resistant complement to fixed n-gram spans. Per-doc chunk
    windows are entity-partitioned; the cross-doc pass exchanges
    chunk hashes only (no doc-pair joins)."""
    from bio_lakehouse_spark.operators.dedup import cdc_chunk_stats

    docs = load(spark, sf_dir, "documents")
    return cdc_chunk_stats(docs, "doc_id", "text", divisor=16)


@register(
    "vocab_oov_audit",
    survey=("A1", "O4", "F9"),
    oracle=f"""
WITH lw AS (
  SELECT lang, ws[g] AS w, COUNT(*) AS cnt
  FROM (SELECT lang, {_W} AS ws FROM documents) t,
       unnest(generate_series(1, len(ws))) AS u(g)
  WHERE ws[g] <> '' GROUP BY 1, 2
), corpus AS (
  SELECT w, SUM(cnt) AS total FROM lw GROUP BY w
), vocab AS (
  SELECT w FROM corpus ORDER BY total DESC, w LIMIT 1000
)
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN cnt ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       ROUND(SUM(CASE WHEN v.w IS NULL THEN cnt ELSE 0 END) * 1.0
             / SUM(cnt), 6) AS oov_rate,
       CAST(COUNT(CASE WHEN v.w IS NULL THEN 1 END) AS BIGINT)
         AS distinct_oov_words
FROM lw LEFT JOIN vocab v ON lw.w = v.w
GROUP BY lang ORDER BY lang
""",
)
def vocab_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: top-1000 corpus vocab (count desc,
    word asc — a deterministic cut), per-language OOV occurrence rate
    and distinct OOV words. The pre-training signal that a language
    will pay pathological tokenizer fertility. Token stream
    pre-aggregates to (lang, word) before the broadcast vocab join;
    top-k is TakeOrderedAndProject, never a global sort."""
    from bio_lakehouse_spark.operators.textops import vocab_oov_audit as op

    docs = load(spark, sf_dir, "documents")
    return op(docs, "lang", "text", vocab_size=1000)


@register(
    "ngram_novelty_curve",
    survey=("A1", "W9", "F9"),
    oracle=f"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(0, greatest(len(w) - 3, 0) + 1),
           i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS g
  FROM (SELECT doc_id, {_W} AS w FROM documents)
), firsts AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
), novel AS (
  SELECT first_doc AS doc_id, COUNT(*) AS n_novel FROM firsts GROUP BY 1
), mx AS (SELECT MAX(doc_id) AS m FROM documents)
SELECT CAST(FLOOR(doc_id * 10.0 / (mx.m + 1)) AS BIGINT) AS bucket,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(COALESCE(n_novel, 0)) AS BIGINT) AS novel_grams,
       ROUND(SUM(COALESCE(n_novel, 0)) * 1.0 / SUM(n_grams), 6)
         AS novelty_rate
FROM per_doc LEFT JOIN novel USING (doc_id), mx
GROUP BY 1 ORDER BY 1
""",
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty saturation: per ingestion decile (doc_id
    buckets), the fraction of its distinct 3-gram shingles never seen
    in ANY earlier document — the curve that says when additional
    crawl stops contributing new text (the dedup-planning signal
    behind 'diminishing data'). Shape: ONE gram aggregate produces
    both sides (novel counts come from grouping the gram→first-doc
    table by its own min — no gram-level join back to the stream);
    rollup is 10 rows. At 100 TB: two keyed aggregates, zero joins
    bigger than |docs|."""
    from bio_lakehouse_spark.operators.textops import word_ngrams, words

    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(words("text"), 3)).alias("g")
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    mx = docs.agg(F.max("doc_id").alias("m"))
    return (
        per_doc.join(novel, on="doc_id", how="left")
        .crossJoin(F.broadcast(mx))
        .groupBy(
            (F.col("doc_id") * 10 / (F.col("m") + 1))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum(F.coalesce(F.col("n_novel"), F.lit(0)))
            .cast("long")
            .alias("novel_grams"),
            R6(
                F.sum(F.coalesce(F.col("n_novel"), F.lit(0)))
                / F.sum("n_grams").cast("double")
            ).alias("novelty_rate"),
        )
        .orderBy("bucket")
    )


@register(
    "packing_efficiency_audit",
    survey=("A1", "F11"),
    oracle=f"""
WITH d AS (
  SELECT source, len(list_filter({_W}, x -> x <> '')) AS n FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(CEIL(n / 512.0) AS BIGINT) * 512 - n) AS BIGINT)
         AS pad_waste_tokens,
       ROUND(SUM(n) * 1.0
             / (SUM(CAST(CEIL(n / 512.0) AS BIGINT)) * 512), 6)
         AS per_doc_pack_efficiency,
       ROUND(SUM(n) * 1.0
             / (CAST(CEIL(SUM(n) / 512.0) AS BIGINT) * 512), 6)
         AS concat_pack_efficiency
FROM d GROUP BY source ORDER BY source
""",
)
def packing_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency per source at max_seq_len=512:
    pad-to-boundary waste under one-doc-per-sequence batching vs the
    concat-and-split upper bound — the planning numbers behind
    choosing a packing strategy (operators/packing.py implements the
    actual packers; this audits WHETHER they're worth running per
    source). Pure scan-level arithmetic + one map-side-combined
    groupBy over ≤ |sources| rows."""
    from bio_lakehouse_spark.operators.textops import words

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(F.filter(words("text"), lambda x: x != "")).alias("n"),
    )
    seqs_per_doc = F.ceil(F.col("n") / 512.0).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(seqs_per_doc * 512 - F.col("n"))
            .cast("long")
            .alias("pad_waste_tokens"),
            # try_divide (r12 ANSI audit): a source whose docs
            # are ALL empty packs zero sequences — efficiency of an
            # empty packing is undefined → NULL, not a job abort.
            R6(
                F.try_divide(
                    F.sum("n"),
                    (F.sum(seqs_per_doc) * 512).cast("double"),
                )
            ).alias("per_doc_pack_efficiency"),
            R6(
                F.try_divide(
                    F.sum("n"),
                    (F.ceil(F.sum("n") / 512.0).cast("long") * 512)
                    .cast("double"),
                )
            ).alias("concat_pack_efficiency"),
        )
        .orderBy("source")
    )


@register(
    "cross_source_overlap_matrix",
    survey=("A11", "J6", "F9"),
    oracle=f"""
WITH fp AS (
  SELECT md5(array_to_string(list_sort(list_distinct({_W})), ' ')) AS h,
         list_sort(list_distinct(list(source))) AS srcs
  FROM documents GROUP BY 1
), totals AS (
  SELECT source, COUNT(DISTINCT
           md5(array_to_string(list_sort(list_distinct({_W})), ' '))) AS tot
  FROM documents GROUP BY source
), pairs AS (
  SELECT srcs[i] AS source_a, srcs[j] AS source_b, COUNT(*) AS n_shared
  FROM fp,
       unnest(generate_series(1, len(srcs))) AS u(i),
       unnest(generate_series(1, len(srcs))) AS v(j)
  WHERE i < j GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, CAST(p.n_shared AS BIGINT) AS n_shared,
       ROUND(p.n_shared * 1.0 / least(ta.tot, tb.tot), 6)
         AS containment_rate
FROM pairs p
JOIN totals ta ON ta.source = p.source_a
JOIN totals tb ON tb.source = p.source_b
ORDER BY source_a, source_b
""",
)
def cross_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair content overlap: documents collapse to their
    bag fingerprint; every fingerprint shared by ≥ 2 sources
    contributes to each (source_a < source_b) cell; the rate is
    containment against the SMALLER source (mirror-site detection —
    the curation question 'is source B just a copy of A?'). Shape:
    one fingerprint groupBy, pair explosion bounded by |sources|² per
    fingerprint, totals broadcast — no doc-pair joins."""
    from bio_lakehouse_spark.operators.textops import fingerprint_bag

    docs = load(spark, sf_dir, "documents").select(
        fingerprint_bag("text").alias("h"), "source"
    )
    fp = docs.groupBy("h").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    totals = docs.groupBy("source").agg(
        F.count_distinct("h").alias("tot")
    )
    pairs = (
        explode_pairs(
            fp.filter(F.size("srcs") >= 2),
            "srcs",
            lambda a, b: [a.alias("source_a"), b.alias("source_b")],
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("tot").alias("tot_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("tot").alias("tot_b")
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long"),
            R6(
                F.col("n_shared")
                / F.least("tot_a", "tot_b").cast("double")
            ).alias("containment_rate"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "quantile_normalize_scores",
    survey=("W9", "A1", "F6"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source, {_QUALITY_EXPR} AS q
  FROM (SELECT doc_id, source, text, {_W} AS w FROM documents)
), bucketed AS (
  SELECT source, q,
         NTILE(20) OVER (PARTITION BY source ORDER BY q, doc_id) AS bucket
  FROM scored
), per_src AS (
  SELECT source, bucket, COUNT(*) AS n_docs, AVG(q) AS raw_mean
  FROM bucketed GROUP BY source, bucket
), ref AS (
  SELECT bucket, AVG(raw_mean) AS calibrated FROM per_src GROUP BY bucket
)
SELECT p.source, CAST(p.bucket AS BIGINT) AS bucket,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       ROUND(p.raw_mean, 6) AS raw_mean,
       ROUND(r.calibrated, 6) AS calibrated
FROM per_src p JOIN ref r USING (bucket)
ORDER BY source, bucket
""",
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration by quantile normalization
    (Bolstad et al. 2003, the microarray method applied to corpus
    quality scores): each source's scores rank into 20 NTILE buckets
    (ties broken on doc_id so the bucketing is deterministic in both
    engines), and the calibrated value for bucket k is the MEAN over
    sources of that bucket's per-source mean — after substitution,
    every source has the same score distribution, so a single global
    quality threshold stops favoring sources whose scorer runs hot.

    Scale shape: the only windows are PARTITIONED BY source (never a
    global sort); the reference table is 20 rows joined back
    broadcast. The thing quantile normalization naively needs — the
    global order statistics — is replaced by the cross-source mean of
    per-source bucket means, which is the actual algorithm."""
    from bio_lakehouse_spark.operators.textops import quality_metrics

    docs = load(spark, sf_dir, "documents")
    q = F.round(quality_metrics("text")["quality_score"], 6)
    scored = docs.select("doc_id", "source", q.alias("q"))
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    per_src = (
        scored.withColumn("bucket", F.ntile(20).over(w))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("q").alias("raw_mean"),
        )
    )
    ref = per_src.groupBy("bucket").agg(
        F.avg("raw_mean").alias("calibrated")
    )
    return (
        per_src.join(F.broadcast(ref), "bucket")
        .select(
            "source",
            F.col("bucket").cast("long"),
            F.col("n_docs").cast("long"),
            R6(F.col("raw_mean")).alias("raw_mean"),
            R6(F.col("calibrated")).alias("calibrated"),
        )
        .orderBy("source", "bucket")
    )


@register(
    "pii_pseudonymize_ids",
    survey=("F8", "A11", "P9"),
    oracle="""
WITH p AS (
  SELECT user_id,
         substr(sha256('train-v1:' || CAST(user_id AS VARCHAR)), 1, 16)
           AS user_pseudo,
         event_type
  FROM events
)
SELECT user_pseudo,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_source_ids
FROM p GROUP BY user_pseudo
""",
)
def pii_pseudonymize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed identifier pseudonymization (textops.pseudonymize):
    user_ids become stable sha256(key:id) pseudonyms, then the
    per-pseudonym rollup proves joins/groupBys survive the mapping
    and n_source_ids == 1 everywhere proves it's collision-free at
    this scale. The redaction twin for identifier COLUMNS (content
    redaction is pii_redaction); key rotation unlinks all historical
    exports at once. Scan-level expression + one groupBy."""
    from bio_lakehouse_spark.operators.textops import pseudonymize

    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            pseudonymize("user_id", key="train-v1").alias("user_pseudo"),
            "event_type",
        )
        .groupBy("user_pseudo")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").alias("n_types"),
            F.count_distinct("user_id").alias("n_source_ids"),
        )
    )


def _bpe_word_expr(word_sql: str = "word") -> str:
    """The DuckDB expression chain encoding one word under the fixed
    merges: each word becomes a DOUBLE-pipe-delimited token string
    ('abc' → '||a||b||c||'), and merge (a,b) is ONE string replace of
    '|a||b|' with '|ab|'. The doubled boundary is the point: each
    match consumes the left boundary's SECOND pipe and the right
    boundary's FIRST pipe, so the shared pipe between back-to-back
    matches ('erer' under (e,r)) survives for the next match and one
    replace() is an exact left-to-right NON-OVERLAPPING sweep — the
    same semantics as the Spark fold and the pandas encoder. (The r7
    single-pipe version consumed the shared boundary and under-merged
    adjacent repeats — green only because the fixture corpus lacked
    such words; tests/test_bpe.py::test_oracle_expr_adjacent_repeats
    pins it.) A pattern can never match inside a longer token: the
    '||' in the pattern only aligns to a real boundary, and the
    single-pipe anchors force a and b to be complete tokens.
    Token count = pipes/2 − 1."""
    from bio_lakehouse_spark.operators.bpe import PRETRAINED_MERGES_V1

    s = f"'||' || regexp_replace({word_sql}, '(.)', '\\1||', 'g')"
    for a, b in PRETRAINED_MERGES_V1:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return s


def _bpe_oracle_sql() -> str:
    """DuckDB oracle for the fixed-merge BPE encoder — an INDEPENDENT
    greedy-BPE implementation via boundary-anchored string replaces
    (see _bpe_word_expr)."""
    return f"""
WITH w AS (
  SELECT doc_id, unnest({_W}) AS word FROM documents
), enc AS (
  SELECT doc_id,
         {_bpe_word_expr()} AS s
  FROM w
)
SELECT doc_id,
       CAST(SUM((length(s) - length(replace(s, '|', ''))) / 2 - 1) AS BIGINT)
         AS n_bpe_tokens
FROM enc GROUP BY doc_id
"""


@register(
    "bpe_encode_fixed",
    survey=("F8", "F9", "A1"),
    oracle=_bpe_oracle_sql(),
)
def bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token counts under the shipped
    PRETRAINED_MERGES_V1 vocabulary (operators/bpe.py — from-scratch
    distributed BPE; training itself is golden-gated in
    tests/test_bpe.py since the merge loop is iterative, but the
    ENCODER is differentially certified here). Spark side: the
    JVM-side merge folds applied once per DISTINCT word + broadcast
    word→n_tokens join (type/token leverage — the corpus is scanned
    once and no per-occurrence work happens). Oracle: a completely
    independent greedy-BPE implementation via sequential
    boundary-anchored string replaces. Agreement certifies the merge
    semantics, not just the counts."""
    from bio_lakehouse_spark.operators.bpe import (
        PRETRAINED_MERGES_V1,
        bpe_token_counts,
    )

    docs = load(spark, sf_dir, "documents")
    return bpe_token_counts(docs, "doc_id", "text", PRETRAINED_MERGES_V1)


def _wordpiece_oracle_sql() -> str:
    """DuckDB oracle for the fixed-vocab WordPiece encoder — an
    INDEPENDENT greedy longest-match-first implementation as a
    recursive CTE: each word advances one piece per recursion step,
    the step's piece length is the MAX matching length from a
    correlated range scan, and a no-match state terminates the word
    as [UNK]. Encodes DISTINCT words once and joins counts back —
    the same type/token shape as the Spark side."""
    from bio_lakehouse_spark.operators.wordpiece import (
        _CONT,
        PRETRAINED_WORDPIECE_V1,
    )

    maxp = max(
        len(v) - (len(_CONT) if v.startswith(_CONT) else 0)
        for v in PRETRAINED_WORDPIECE_V1
    )
    vlist = "[" + ", ".join(
        "'" + v.replace("'", "''") + "'" for v in PRETRAINED_WORDPIECE_V1
    ) + "]"
    return f"""
WITH RECURSIVE w AS (
  SELECT doc_id, unnest({_W}) AS word FROM documents
), dw AS (
  SELECT DISTINCT word FROM w
), enc AS (
  SELECT word, 0 AS pos, 0 AS n, false AS unk FROM dw
  UNION ALL
  SELECT word,
         CASE WHEN best IS NULL THEN length(word) ELSE pos + best END,
         CASE WHEN best IS NULL THEN n ELSE n + 1 END,
         best IS NULL
  FROM (
    SELECT word, pos, n,
           (SELECT MAX(t.L)
            FROM (SELECT unnest(range(1, {maxp + 1})) AS L) t
            WHERE t.L <= length(word) - pos
              AND list_contains({vlist},
                    CASE WHEN pos = 0 THEN substr(word, 1, t.L)
                         ELSE '{_CONT}' || substr(word, pos + 1, t.L)
                    END)) AS best
    FROM enc WHERE pos < length(word) AND NOT unk
  )
), done AS (
  SELECT word,
         CASE WHEN unk THEN 1 ELSE n END AS n_tokens,
         CASE WHEN unk THEN 1 ELSE 0 END AS unk1
  FROM enc WHERE pos >= length(word)
)
SELECT doc_id,
       CAST(SUM(n_tokens) AS BIGINT) AS n_wp_tokens,
       CAST(SUM(unk1) AS BIGINT) AS n_unk_words
FROM w JOIN done USING (word)
GROUP BY doc_id
"""


@register(
    "wordpiece_encode_fixed",
    survey=("F8", "F9", "A1"),
    oracle=_wordpiece_oracle_sql(),
)
def wordpiece_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document WordPiece token + UNK-word counts under the
    shipped PRETRAINED_WORDPIECE_V1 vocabulary (operators/
    wordpiece.py — from-scratch distributed WordPiece; the
    likelihood-scored TRAINING is golden-gated in
    tests/test_wordpiece.py since the merge loop is iterative, but
    the greedy longest-match-first ENCODER is differentially
    certified here). The third tokenizer family next to BPE
    (merge-rank application) and unigram-LM (Viterbi DP) — WordPiece
    encoding ignores merge order and matches greedily against the
    final vocab, so its oracle is a genuinely different program: a
    DuckDB recursive CTE advancing one piece per step. Spark side:
    the greedy fold runs once per DISTINCT word (pure HOF
    expressions, vocab as an array literal) + broadcast
    word→counts join — the type/token leverage that makes encoding
    a single corpus pass at 100 TB. The trained alphabet happens to
    cover every word-initial char at the shipped SFs, so the corpus
    run never produces [UNK]; the UNK contract (whole word → one
    token) is pinned by unit parity tests
    (tests/test_wordpiece.py) on words outside the alphabet."""
    from bio_lakehouse_spark.operators.wordpiece import (
        PRETRAINED_WORDPIECE_V1,
        wordpiece_token_counts,
    )

    docs = load(spark, sf_dir, "documents")
    return wordpiece_token_counts(
        docs, "doc_id", "text", PRETRAINED_WORDPIECE_V1
    )


@register(
    "domain_mixture_weights",
    survey=("A6", "F11", "ST13"),
    oracle=f"""
WITH wds AS (
  SELECT source, unnest({_W}) AS wd FROM documents
), dw AS (
  SELECT source, wd, COUNT(*) AS c FROM wds GROUP BY 1, 2
), cw AS (
  SELECT wd, SUM(c) AS cw FROM dw GROUP BY 1
), per_d AS (
  SELECT d.source,
         SUM(d.c) AS nd,
         SUM(d.c * LN(d.c * 1.0 / cw.cw)) AS cross_term
  FROM dw d JOIN cw USING (wd)
  GROUP BY d.source
), kl AS (
  SELECT source, nd,
         cross_term / nd + LN(SUM(nd) OVER () * 1.0 / nd) AS kl,
         nd * 1.0 / SUM(nd) OVER () AS share
  FROM per_d
)
SELECT source, CAST(nd AS BIGINT) AS n_tokens,
       ROUND(share, 6) AS token_share,
       ROUND(kl, 6) AS kl_to_corpus,
       ROUND(EXP(kl) / SUM(EXP(kl)) OVER (), 6) AS weight
FROM kl
""",
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored static domain reweighting: each source's
    excess surprisal under the corpus-wide unigram LM vs its own —
    which is exactly KL(p_domain ‖ p_corpus) — softmaxed into
    mixture weights (distribution-shifted domains get upweighted,
    boilerplate-like domains that match the corpus average get
    downweighted). The KL factors as (Σ_w c·ln(c/cw))/n_d +
    ln(N/n_d), so the corpus total N enters only through the
    |domains|-row frame — the vocab-level work is ONE
    (source, word) aggregation plus ONE keyed join against the
    corpus word counts; no one-row broadcast, no global window
    beyond the domain frame."""
    from bio_lakehouse_spark.operators.textops import words

    docs = load(spark, sf_dir, "documents")
    wds = docs.select(
        "source", F.explode(words("text")).alias("wd")
    )
    dw = wds.groupBy("source", "wd").agg(F.count(F.lit(1)).alias("c"))
    cw = dw.groupBy("wd").agg(F.sum("c").alias("cw"))
    per_d = (
        dw.join(cw, "wd")
        .groupBy("source")
        .agg(
            F.sum("c").alias("nd"),
            F.sum(
                F.col("c") * F.log(F.col("c") * 1.0 / F.col("cw"))
            ).alias("cross_term"),
        )
    )
    w_all = Window.partitionBy()
    kl = per_d.select(
        "source",
        "nd",
        (
            F.col("cross_term") / F.col("nd")
            + F.log(F.sum("nd").over(w_all) * 1.0 / F.col("nd"))
        ).alias("kl"),
        (F.col("nd") * 1.0 / F.sum("nd").over(w_all)).alias("share"),
    )
    return kl.select(
        "source",
        F.col("nd").cast("long").alias("n_tokens"),
        R6("share").alias("token_share"),
        R6("kl").alias("kl_to_corpus"),
        # try_divide (r12 ANSI audit): deeply negative KL scores
        # can underflow EVERY exp to exactly 0 → softmax undefined →
        # NULL weights, not a job abort.
        R6(
            F.try_divide(
                F.exp("kl"), F.sum(F.exp("kl")).over(w_all)
            )
        ).alias("weight"),
    )


def _unigram_oracle(max_w: int = 16, max_len: int = 4) -> str:
    """Unrolled integer Viterbi DP over word positions — the
    independent SQL twin of operators/unigram_lm's JVM array fold.
    One CTE per position adds dp[i] = min over piece lengths of
    dp[i−l] + combined cost from a MAP literal of the frozen vocab
    (missing piece → a huge constant); per-word results join back to
    the per-doc word stream. ``max_w`` bounds unrollable word length
    (corpus max is 8; words longer than max_w would surface as a
    loud NULL mismatch, never a silent wrong count)."""
    from bio_lakehouse_spark.operators.unigram_lm import (
        _PIECES_SCALE,
        PRETRAINED_UNIGRAM_V1,
    )

    entries = ", ".join(
        f"'{p}': {b * _PIECES_SCALE + 1}" for p, b in PRETRAINED_UNIGRAM_V1
    )
    parts = [f"""WITH wpd AS (
  SELECT doc_id, unnest({_W}) AS word FROM documents
), wds AS (
  SELECT DISTINCT word FROM wpd WHERE length(word) > 0
), d0 AS (
  SELECT word, length(word) AS n, CAST(0 AS BIGINT) AS p0,
         MAP {{{entries}}} AS m
  FROM wds
)"""]
    for i in range(1, max_w + 1):
        terms = [
            f"p{i - l} + COALESCE(m[substr(word, {i - l + 1}, {l})][1],"
            " 1000000000000000)"
            for l in range(1, min(max_len, i) + 1)
        ]
        least = terms[0] if len(terms) == 1 else f"LEAST({', '.join(terms)})"
        parts.append(
            f", d{i} AS (SELECT *, CAST({least} AS BIGINT) AS p{i}"
            f" FROM d{i - 1})"
        )
    case = " ".join(f"WHEN {i} THEN p{i}" for i in range(1, max_w + 1))
    parts.append(f""", enc AS (
  SELECT word, CASE n {case} END AS dpn FROM d{max_w}
)
SELECT w.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(e.dpn % {_PIECES_SCALE}) AS BIGINT) AS n_tokens,
       CAST(SUM(e.dpn // {_PIECES_SCALE}) AS BIGINT) AS total_millibits
FROM wpd w JOIN enc e USING (word)
WHERE length(w.word) > 0
GROUP BY w.doc_id""")
    return "".join(parts)


@register(
    "unigram_encode_fixed",
    survey=("F8", "F9", "A1"),
    oracle=_unigram_oracle(),
)
def unigram_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM token counts + total code length under
    the shipped PRETRAINED_UNIGRAM_V1 vocabulary (operators/
    unigram_lm.py — from-scratch SentencePiece-style tokenizer,
    integer-millibit Viterbi). The Spark side is a pure JVM array
    fold over the DISTINCT-word table broadcast back onto one corpus
    pass (type/token leverage); the oracle re-implements the same
    integer DP as unrolled SQL — an INDEPENDENT implementation, so
    the differential certifies the encoder end to end, exactly like
    bpe_encode_fixed."""
    from bio_lakehouse_spark.operators.unigram_lm import (
        PRETRAINED_UNIGRAM_V1,
        unigram_token_counts,
    )

    docs = load(spark, sf_dir, "documents")
    return unigram_token_counts(
        docs, "doc_id", "text", PRETRAINED_UNIGRAM_V1
    )


@register(
    "ctfidf_cluster_terms",
    survey=("F9", "A6", "O4"),
    oracle=f"""
WITH lab AS (
  SELECT d.doc_id, e.label, d.text
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
), dw AS (
  SELECT label, unnest({_W}) AS w FROM lab
), dw2 AS (
  SELECT label, w FROM dw WHERE w <> ''
), ctf AS (
  SELECT label, w, COUNT(*) AS tf FROM dw2 GROUP BY 1, 2
), ctot AS (
  SELECT label, COUNT(*) AS tot FROM dw2 GROUP BY 1
), cf AS (
  SELECT w, COUNT(*) AS cf FROM dw2 GROUP BY 1
), a AS (
  SELECT COUNT(*) * 1.0 / COUNT(DISTINCT label) AS avg_tokens FROM dw2
), scored AS (
  SELECT t.label, t.w AS term, t.tf,
         (t.tf / (tot * 1.0)) * LN(1.0 + avg_tokens / cf) AS score
  FROM ctf t JOIN ctot USING (label) JOIN cf ON cf.w = t.w CROSS JOIN a
), ranked AS (
  SELECT label, term, tf, score,
         ROW_NUMBER() OVER (PARTITION BY label
           ORDER BY ROUND(score, 9) DESC, term) AS rnk
  FROM scored
)
SELECT label, term, tf, ROUND(score, 6) AS score, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 5 ORDER BY label, rnk
""",
)
def ctfidf_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF topic labels (the BERTopic c-TF-IDF recipe,
    Grootendorst'22): treat each embedding cluster as ONE meta-
    document, score terms by in-cluster rate × ln(1 + A/cf) (A = mean
    tokens per cluster, cf = corpus term frequency), and keep the
    top-5 terms per cluster — the human-readable labeling step after
    kmeans/IVF clustering. Clusters here are the embeddings' label
    column (the kmeans cell id is the drop-in at curation time).
    Shape: token stream → per-(cluster, term) counts (map-side
    combinable), tiny per-cluster totals join, vocab-keyed corpus-
    frequency join left to AQE, one-row A broadcast; the rank window
    partitions by cluster over the cluster-term frame (bounded by
    vocab, never corpus rows)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    dw = (
        docs.join(emb, "doc_id")
        .select("label", F.explode(words("text")).alias("w"))
        .filter(F.col("w") != "")
    )
    ctf = dw.groupBy("label", "w").agg(F.count(F.lit(1)).alias("tf"))
    ctot = dw.groupBy("label").agg(F.count(F.lit(1)).alias("tot"))
    cf = dw.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    # try_divide (r12 ANSI audit): tokens exist but EVERY label is
    # NULL → count_distinct = 0 → undefined per-class average → NULL.
    a = dw.agg(
        F.try_divide(
            F.count(F.lit(1)) * 1.0, F.count_distinct("label")
        ).alias("avg_tokens")
    )
    scored = (
        ctf.join(F.broadcast(ctot), "label")
        .join(cf, "w")
        .crossJoin(F.broadcast(a))
        .select(
            "label",
            F.col("w").alias("term"),
            "tf",
            (
                (F.col("tf") / (F.col("tot") * 1.0))
                * F.log(1.0 + F.col("avg_tokens") / F.col("cf"))
            ).alias("score"),
        )
    )
    wrk = Window.partitionBy("label").orderBy(
        F.round("score", 9).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wrk))
        .filter(F.col("rnk") <= 5)
        .select(
            "label", "term", "tf", R6(F.col("score")).alias("score"), "rnk"
        )
        .orderBy("label", "rnk")
    )


@register(
    "sp_model_roundtrip_encode",
    survey=("F8", "F9", "S1"),
    oracle=_unigram_oracle(),
)
def sp_model_roundtrip_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sentencepiece FILE seam certified end to end (r8,
    operators/tokenizer_files): the frozen PRETRAINED_UNIGRAM_V1
    vocab is exported as a REAL SentencePiece ``.model`` ModelProto
    (write_sentencepiece_model), parsed back by the dependency-free
    wire-format loader, converted score→millibits, and the corpus is
    encoded through the certified distributed Viterbi DP with the
    LOADED vocab — against the same independent unrolled-SQL oracle
    as ``unigram_encode_fixed``. A green row proves the protobuf
    writer/loader roundtrip is EXACT (any drift in a piece or its
    float32 score changes token counts and reds the hash); a
    vendor-trained .model drops into the identical path."""
    import os

    from bio_lakehouse_spark.operators.tokenizer_files import (
        load_sentencepiece_model,
        millibits_to_score,
        score_to_millibits,
        write_sentencepiece_model,
    )
    from bio_lakehouse_spark.operators.unigram_lm import (
        PRETRAINED_UNIGRAM_V1,
        unigram_token_counts,
    )
    from bio_lakehouse_spark.suite.pipeline_queries import fixture_path

    root = fixture_path("sp_model", sf_dir)
    os.makedirs(root, exist_ok=True)
    model_path = str(root / "unigram_v1.model")
    write_sentencepiece_model(
        model_path,
        [(p, millibits_to_score(mb)) for p, mb in PRETRAINED_UNIGRAM_V1],
    )
    loaded = [
        (p, score_to_millibits(s))
        for p, s in load_sentencepiece_model(model_path)
    ]
    if loaded != list(PRETRAINED_UNIGRAM_V1):
        raise AssertionError(
            "sentencepiece .model roundtrip drifted from the frozen vocab"
        )
    docs = load(spark, sf_dir, "documents")
    return unigram_token_counts(docs, "doc_id", "text", loaded)


@register(
    "tiktoken_roundtrip_encode",
    survey=("F8", "F9", "S1"),
    oracle=_bpe_oracle_sql(),
)
def tiktoken_roundtrip_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tiktoken FILE seam certified end to end — the BPE twin of
    ``sp_model_roundtrip_encode``: the frozen PRETRAINED_MERGES_V1
    list is converted to a rank table (alphabet bytes then merge
    products, the standard construction), exported as a REAL
    ``.tiktoken`` file (write_tiktoken_bpe — base64 token + rank
    lines, the format the tiktoken library loads), parsed back by
    load_tiktoken_bpe, and the MERGE LIST is recovered from ranks
    alone (merges_from_tiktoken, the HF-conversion construction:
    encode each multi-byte token under strictly-lower ranks → its
    two parts). The corpus is then encoded through the certified
    distributed merge folds with the RECOVERED merges — against the
    same independent boundary-replace oracle as ``bpe_encode_fixed``.
    A green row proves writer → loader → rank-to-merge recovery is
    EXACT (any drift reorders a merge and changes token counts); a
    vendor .tiktoken file drops into the identical path."""
    import os

    from bio_lakehouse_spark.operators.bpe import (
        PRETRAINED_MERGES_V1,
        bpe_token_counts,
    )
    from bio_lakehouse_spark.operators.tokenizer_files import (
        load_tiktoken_bpe,
        merges_from_tiktoken,
        tiktoken_ranks_from_merges,
        write_tiktoken_bpe,
    )
    from bio_lakehouse_spark.suite.pipeline_queries import fixture_path

    root = fixture_path("tiktoken_model", sf_dir)
    os.makedirs(root, exist_ok=True)
    path = str(root / "bpe_v1.tiktoken")
    write_tiktoken_bpe(
        path, tiktoken_ranks_from_merges(PRETRAINED_MERGES_V1)
    )
    recovered = merges_from_tiktoken(load_tiktoken_bpe(path))
    if recovered != list(PRETRAINED_MERGES_V1):
        raise AssertionError(
            ".tiktoken roundtrip drifted from the frozen merge list"
        )
    docs = load(spark, sf_dir, "documents")
    return bpe_token_counts(docs, "doc_id", "text", recovered)


@register(
    "heaps_law_audit",
    survey=("A1", "W3", "ST1"),
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest({_W}) AS wd FROM documents
), span AS (
  SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
), b AS (
  SELECT doc_id,
         CAST(((doc_id - lo) * 32) // (hi - lo + 1) AS INT) AS bk
  FROM documents, span
), tok AS (
  SELECT b.bk, CAST(COUNT(*) AS DOUBLE) AS n_tok
  FROM w JOIN b USING (doc_id) GROUP BY 1
), firsts AS (
  SELECT wd, MIN(doc_id) AS fd FROM w GROUP BY 1
), nw AS (
  SELECT b.bk, CAST(COUNT(*) AS DOUBLE) AS n_new
  FROM firsts JOIN b ON b.doc_id = firsts.fd GROUP BY 1
), curve AS (
  SELECT bk,
         SUM(n_tok) OVER (ORDER BY bk) AS cum_tokens,
         SUM(COALESCE(n_new, 0.0)) OVER (ORDER BY bk) AS cum_vocab
  FROM tok LEFT JOIN nw USING (bk)
), pts AS (
  SELECT LN(cum_tokens) AS x, LN(cum_vocab) AS y FROM curve
)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
       CAST((SELECT SUM(n_tok) FROM tok) AS BIGINT) AS total_tokens,
       CAST((SELECT COUNT(*) FROM firsts) AS BIGINT) AS vocab_size,
       ROUND((SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
             / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)), 6) + 0.0 AS beta,
       ROUND(SUM(y) / COUNT(*)
             - (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
               / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*))
               * SUM(x) / COUNT(*), 6) + 0.0 AS ln_k
FROM pts
""",
)
def heaps_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth audit — V(N) ≈ K·N^β, the
    companion of `zipf_slope_audit` and the curve every tokenizer /
    dedup capacity plan reads off first. DISTRIBUTED design that
    survives 100 TB: docs are bucketed into 32 fixed id-range
    buckets by pure integer arithmetic (no global sort), the
    corpus-scale passes are ONE token count per bucket and ONE
    first-occurrence-doc min per word; the cumulative curve and the
    log-log OLS slope β then live entirely on the 32-row frame. A
    per-doc cumulative window — the naive formulation — would be a
    corpus-sized single-partition sort; the bucket grain is the knob
    (more buckets = finer curve, same two scans). Honest caveat:
    this fixture corpus has a ~64-word vocabulary that saturates
    inside bucket 0, so beta is exactly 0 here - the audit
    certifies the machinery (and surfaced a summation-order
    +/-0.0 flake the strict gate caught); a real crawl gives the
    textbook beta of about 0.5."""
    from bio_lakehouse_spark.operators.textops import words

    docs = load(spark, sf_dir, "documents")
    span = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    b = docs.crossJoin(F.broadcast(span)).select(
        "doc_id",
        "text",
        F.expr("cast(((doc_id - lo) * 32) div (hi - lo + 1) as int)").alias(
            "bk"
        ),
    )
    w = b.select("doc_id", "bk", F.explode(words("text")).alias("wd"))
    tok = w.groupBy("bk").agg(
        F.count(F.lit(1)).cast("double").alias("n_tok")
    )
    firsts = w.groupBy("wd").agg(F.min("doc_id").alias("fd"))
    nw = (
        firsts.join(
            b.select("doc_id", "bk"), firsts["fd"] == F.col("doc_id")
        )
        .groupBy("bk")
        .agg(F.count(F.lit(1)).cast("double").alias("n_new"))
    )
    cw = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        tok.join(nw, "bk", "left")
        .select(
            "bk",
            F.sum("n_tok").over(cw).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0.0)))
            .over(cw)
            .alias("cum_vocab"),
        )
    )
    pts = curve.select(
        F.log("cum_tokens").alias("x"), F.log("cum_vocab").alias("y")
    )
    # try_divide (r12 ANSI audit): a vocabulary of ONE distinct
    # token gives a single-point (or x-constant) curve — zero x
    # variance, Heaps/Zipf slope undefined → NULL, not a job abort.
    slope = F.try_divide(
        F.sum(F.col("x") * F.col("y"))
        - F.sum("x") * F.sum("y") / F.count(F.lit(1)),
        F.sum(F.col("x") * F.col("x"))
        - F.sum("x") * F.sum("x") / F.count(F.lit(1)),
    )
    # + 0.0 normalizes IEEE -0.0: a saturated vocab curve makes the
    # slope numerator exactly ±epsilon, whose sign is summation-order
    # luck (caught by the strict preclose gate under a vanilla session)
    reg = pts.agg(
        (R6(slope) + F.lit(0.0)).alias("beta"),
        (
            R6(
                F.sum("y") / F.count(F.lit(1))
                - slope * F.sum("x") / F.count(F.lit(1))
            )
            + F.lit(0.0)
        ).alias("ln_k"),
    )
    totals = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).crossJoin(
        F.broadcast(
            tok.agg(F.sum("n_tok").cast("long").alias("total_tokens"))
        )
    ).crossJoin(
        F.broadcast(
            firsts.agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
        )
    )
    return totals.crossJoin(F.broadcast(reg)).select(
        "n_docs", "total_tokens", "vocab_size", "beta", "ln_k"
    )


def _tokenize_pack_oracle() -> str:
    """Composition oracle: the WordPiece recursive-CTE counts feed
    the per-shard packing cumsum and the export manifest rollup."""
    wp = _wordpiece_oracle_sql()
    chain = wp[: wp.rindex("\nSELECT doc_id,")]
    return chain + """, per_doc AS (
  SELECT doc_id, CAST(SUM(n_tokens) AS BIGINT) AS n_tok
  FROM w JOIN done USING (word) GROUP BY doc_id
), packed AS (
  SELECT doc_id % 8 AS shard, doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id % 8
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS start_off
  FROM per_doc
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST((SUM(n_tok) + 255) // 256 AS BIGINT) AS n_chunks,
       CAST((SUM(n_tok) + 255) // 256 * 256 - SUM(n_tok) AS BIGINT)
         AS pad_tokens,
       CAST(SUM(CASE WHEN start_off // 256
                     <> (start_off + greatest(n_tok, 1) - 1) // 256
                THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       ROUND(CAST(SUM(n_tok) AS DOUBLE)
             / ((SUM(n_tok) + 255) // 256 * 256), 6) AS efficiency
FROM packed GROUP BY shard ORDER BY shard
"""


@register(
    "tokenize_pack_manifest",
    survey=("F9", "W2", "A1", "S14"),
    oracle=_tokenize_pack_oracle(),
)
def tokenize_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data EXPORT accounting query — tokenizer →
    packing → manifest composed end to end, each stage individually
    certified elsewhere (`wordpiece_encode_fixed`,
    `sequence_packing`, `dataset_manifest`): REAL WordPiece token
    counts per document, concat-and-chunk packing into 256-token
    context windows across 8 shards, and the per-shard manifest a
    data loader consumes — docs, tokens, chunks, padding waste,
    boundary-split docs, packing efficiency. This is the number a
    pretraining run budgets GPU-hours from; certifying the
    composition pins that per-doc counts, the packing cumsum, and
    the ceil/padding arithmetic agree cross-engine SIMULTANEOUSLY.
    Corpus-scale work: one explode + the per-distinct-word encode +
    one per-shard window — no stage exceeds its standalone shape."""
    from bio_lakehouse_spark.operators.packing import pack_sequences
    from bio_lakehouse_spark.operators.wordpiece import (
        PRETRAINED_WORDPIECE_V1,
        wordpiece_token_counts,
    )

    docs = load(spark, sf_dir, "documents")
    counts = wordpiece_token_counts(
        docs, "doc_id", "text", PRETRAINED_WORDPIECE_V1
    )
    packed = pack_sequences(
        counts,
        "doc_id",
        F.col("n_wp_tokens").cast("bigint"),
        ctx=256,
        num_shards=8,
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    n_chunks_shard = F.ceil(F.sum("n_tok") / 256.0).cast("long")
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            n_chunks_shard.alias("n_chunks"),
            (n_chunks_shard * 256 - F.sum("n_tok"))
            .cast("long")
            .alias("pad_tokens"),
            F.sum(
                (F.col("chunk_first") != F.col("chunk_last")).cast("long")
            )
            .cast("long")
            .alias("n_split_docs"),
            # try_divide (r12 degenerate sweep): a shard of
            # zero-token docs packs zero chunks — efficiency of an
            # empty packing is undefined → NULL, not a job abort.
            R6(
                F.try_divide(
                    F.sum("n_tok").cast("double"),
                    n_chunks_shard * 256.0,
                )
            ).alias("efficiency"),
        )
        .orderBy("shard")
    )


@register(
    "binary_file_decode_scan",
    survey=("S7", "F9", "P4"),
    oracle="""
SELECT doc_id,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 11 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       CAST(54 + ((4 + doc_id % 13) * 3
                  + (4 - ((4 + doc_id % 13) * 3) % 4) % 4)
                 * (3 + doc_id % 11) AS BIGINT) AS n_bytes
FROM documents WHERE doc_id < 64
""",
)
def binary_file_decode_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``binaryFile`` source feeding the REAL media
    decoder, certified under the driver gate: 64 byte-exact BMP
    files (dimensions an arithmetic function of doc_id, rows padded
    to 4 bytes per the spec) are landed once per fixture, read back
    with ``spark.read.format("binaryFile")`` — the production
    ingestion path for raw media directories at 100 TB (each file
    one row: path, length, content; Spark parallelizes over files
    and prunes on path/length pushed filters) — and decoded through
    ``HeaderDecoder`` in the Arrow-batched mapInPandas stage. The
    oracle derives every expected (width, height, channels, bytes)
    from the SAME arithmetic over the documents table, so a green
    row certifies file write → binaryFile scan → header decode
    agree byte-for-byte on every file. Feature-vector math is pinned
    by tests/test_header_decoder.py; this pins the PLUMBING."""
    import os
    import struct as _struct

    from bio_lakehouse_spark.operators.multimodal import (
        HeaderDecoder,
        decode_batches,
    )
    from bio_lakehouse_spark.suite.pipeline_queries import fixture_path

    root = fixture_path("binfiles", sf_dir)
    done = root.parent / (root.name + "_DONE")
    if not done.exists():
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        ids = [
            r["doc_id"]
            for r in load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 64)
            .select("doc_id")
            .collect()
        ]
        for i in ids:
            w, h, px = 4 + i % 13, 3 + i % 11, i % 256
            row = bytes([px, px, px]) * w
            row += b"\x00" * ((4 - len(row) % 4) % 4)
            pixels = row * h
            hdr = b"BM" + _struct.pack(
                "<IHHI", 54 + len(pixels), 0, 0, 54
            )
            hdr += _struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels),
                2835, 2835, 0, 0,
            )
            with open(root / f"{i}.bmp", "wb") as fh:
                fh.write(hdr + pixels)
        done.touch()

    # Named empty-source contract (VERDICT r12 #6): a fully-empty
    # documents table lands zero BMPs and the binaryFile glob used to
    # die with a raw PATH_NOT_FOUND.
    from bio_lakehouse_spark.suite.registry import require_artifact

    require_artifact(
        any(root.glob("*.bmp")),
        "binary_file_decode_scan", "documents", "BMP fixture files",
    )
    raw = spark.read.format("binaryFile").load(str(root) + "/*.bmp")
    wrapped = raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bmp$", 1)
        .cast("long")
        .alias("doc_id"),
        "content",
        F.lit("image/bmp").alias("media_type"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )
    decoded = decode_batches(wrapped, decoder=HeaderDecoder())
    return decoded.select(
        "doc_id", "width", "height", "n_channels", "n_bytes"
    )


@register(
    "ece_calibration_audit",
    survey=("ST14", "A6", "F11"),
    oracle=_NB_SCORES_CTE
    + """, scored AS (
  SELECT y, 1.0 / (1.0 + EXP(-nb_logodds)) AS p FROM d
), bucketed AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS bucket, p, y
  FROM scored
), per_bucket AS (
  SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS n,
         AVG(p) AS conf, AVG(y) AS acc
  FROM bucketed GROUP BY bucket
)
SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       ROUND(SUM(n * ABS(acc - conf)) / SUM(n), 6) AS ece,
       ROUND(MAX(ABS(acc - conf)), 6) AS mce,
       ROUND((SELECT AVG((p - y) * (p - y)) FROM scored), 6) AS brier
FROM per_bucket
""",
)
def ece_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / Maximum Calibration Error of the NB quality
    classifier — the scalar summary a model card quotes from the
    reliability diagram (`nb_calibration_curve` is the per-bucket
    curve; this is its weighted rollup: ECE = Σ n_b/N·|acc_b −
    conf_b|, MCE = worst bucket, plus the global Brier score).
    Completes the calibration family (curve → isotonic recalibration
    → scalar gate): a corpus filter whose keep-threshold is a
    probability needs ECE under policy before the 100 TB pass. Same
    single classifier scan, a 10-row aggregate and its 1-row
    rollup."""
    from bio_lakehouse_spark.operators.textops import nb_quality_classifier

    docs = load(spark, sf_dir, "documents").withColumn(
        "__pos", F.col("lang") == "en"
    )
    out = nb_quality_classifier(docs, "doc_id", "text", "__pos", dim=4096)
    j = out.join(
        docs.select("doc_id", F.col("__pos").cast("int").alias("y")),
        "doc_id",
    )
    p = 1.0 / (1.0 + F.exp(-F.round("nb_logodds", 6)))
    scored = j.select(
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bucket"),
        p.alias("p"),
        "y",
    ).localCheckpoint()
    per_bucket = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("p").alias("conf"),
        F.avg("y").alias("acc"),
    )
    brier = scored.agg(
        R6(F.avg((F.col("p") - F.col("y")) ** 2)).alias("brier")
    )
    return (
        per_bucket.agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            R6(
                F.sum(F.col("n") * F.abs(F.col("acc") - F.col("conf")))
                / F.sum("n")
            ).alias("ece"),
            R6(F.max(F.abs(F.col("acc") - F.col("conf")))).alias("mce"),
        )
        .crossJoin(F.broadcast(brier))
        .select("n_docs", "n_buckets", "ece", "mce", "brier")
    )


@register(
    "rake_keyphrases",
    survey=("F8", "F9", "A6", "O4"),
    oracle=f"""
WITH pw AS (
  SELECT doc_id, g AS pos, w[g] AS wd
  FROM (SELECT doc_id, {_W} AS w FROM documents) t,
       unnest(generate_series(1, len(w))) AS u(g)
), flagged AS (
  SELECT doc_id, pos, wd,
         wd IN ('the', 'a', 'and', 'of', 'to', 'is', 'in', 'that')
           AS is_stop
  FROM pw
), isl0 AS (
  SELECT doc_id, pos, wd, is_stop,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
), isl AS (
  SELECT doc_id, pos, wd, island FROM isl0 WHERE NOT is_stop
), sized AS (
  SELECT doc_id, island, pos, wd,
         COUNT(*) OVER (PARTITION BY doc_id, island) AS plen
  FROM isl
), wscore AS (
  SELECT wd,
         CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS score
  FROM sized GROUP BY wd
), phrase AS (
  SELECT s.doc_id, s.island,
         STRING_AGG(s.wd, ' ' ORDER BY s.pos) AS phrase,
         SUM(ws.score) AS pscore
  FROM sized s JOIN wscore ws USING (wd)
  GROUP BY s.doc_id, s.island
)
SELECT phrase,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(MAX(pscore), 6) AS rake_score
FROM phrase GROUP BY phrase
ORDER BY rake_score DESC, phrase LIMIT 15
""",
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — the
    unsupervised multi-word keyphrase layer above the single-term
    scorers (tfidf_top_terms, collocations_pmi_topk): candidate
    phrases are maximal stopword-free word runs (islands via a
    cumulative stop-count window), each word scored
    degree/frequency where degree sums the lengths of every phrase
    containing it, each phrase scored by the sum of its word
    scores; top-15 phrase types with occurrence counts. All set
    operations: one posexplode pass, island windows partitioned by
    document, a vocab-sized word-score aggregate joined back
    broadcast — no per-phrase Python, no quadratic anything. The
    deterministic 8-word English stopword list is textops.STOPWORDS
    (production swaps in a fuller list — the plan shape is
    unchanged)."""
    from bio_lakehouse_spark.operators.textops import STOPWORDS, words

    docs = load(spark, sf_dir, "documents")
    pw = docs.select(
        "doc_id", F.posexplode(words("text")).alias("pos", "wd")
    )
    stop = F.col("wd").isin(*STOPWORDS["en"])
    isl = (
        pw.withColumn(
            "island",
            F.sum(stop.cast("int")).over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
        .filter(~stop)
    )
    sized = isl.withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "island")),
    )
    wscore = sized.groupBy("wd").agg(
        (F.sum("plen").cast("double") / F.count(F.lit(1))).alias("score")
    )
    phrase = (
        sized.join(F.broadcast(wscore), "wd")
        .groupBy("doc_id", "island")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "wd"))
                    ),
                    lambda s: s["wd"],
                ),
            ).alias("phrase"),
            F.sum("score").alias("pscore"),
        )
    )
    return (
        phrase.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            R6(F.max("pscore")).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(15)
    )
