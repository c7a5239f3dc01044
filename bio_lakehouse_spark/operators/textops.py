"""Text-analysis operators for training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting,
and document fingerprinting — all pure Column expressions over the
built-in string/array functions, so they run JVM-side inside codegen
at 100 TB with zero Python in the hot path. These extend the
reference's surface (it has no document processing) per the
training-pipeline mandate in BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.skew import spread

# Tiny deterministic stopword lists per language. Heuristic, not a
# model: language with the highest stopword hit count wins, ties break
# in STOPWORDS key order.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "that"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es": ("el", "la", "de", "y", "que", "los", "una"),
    "fr": ("le", "la", "de", "et", "les", "des", "une"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai"),
}

# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation.
TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def normalize_text(col: Column | str) -> Column:
    """Lowercase, strip non-alphanumerics to spaces, collapse runs —
    the canonical form used by dedup and fingerprinting."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", " "))


def words(col: Column | str) -> Column:
    """Whitespace tokenization of normalized text → array<string>."""
    return F.split(normalize_text(col), r" +")


def let(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per
    row and pass it to ``body`` as a bound lambda variable.

    Higher-order-function lambdas are interpreted (no whole-stage
    codegen, no common-subexpression elimination), so an expression
    referenced k times inside a lambda is re-evaluated k times *per
    element*. ``transform(array(v), x -> body(x))[1]`` forces a single
    evaluation of ``v`` — this turned a 30 s shingle computation at
    sf0.1 into ~1 s (the words array was being re-split per n-gram
    position).
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def word_ngram_stream(w: Column, n: int) -> Column:
    """Word n-grams WITH duplicates, from an already-bound words
    array. The cheap form for duplicate-insensitive consumers
    (min-wise hashing): skips the array_distinct sort/dedup pass.
    Documents shorter than ``n`` words yield their full text as one
    (possibly partial) gram — same fallback as ``word_ngrams``."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    # try_element_at, not element_at: the short-document fallback
    # (doc < n words -> one partial gram) reads past the array end,
    # which ANSI-mode element_at raises on instead of returning NULL.
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[
                F.try_element_at(w, (i + k + 1).cast("int"))
                for k in range(n)
            ],
        ),
    )


def word_ngrams(words_col: Column, n: int) -> Column:
    """Word n-gram shingles as a distinct set (for Jaccard/MinHash).

    Built with transform-over-sequence; the words array is let-bound
    so it is computed once per row, not once per (position, k) pair.
    Documents shorter than ``n`` words yield their full text as one
    shingle.
    """
    return let(
        words_col, lambda w: F.array_distinct(word_ngram_stream(w, n))
    )


def stopword_hits(words_col: Column, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang``."""
    sw = STOPWORDS[lang]
    return F.size(F.filter(words_col, lambda w: w.isin(*sw)))


def predicted_lang(words_col: Column) -> Column:
    """Argmax-stopword-count language with deterministic tie-breaks
    (first language in STOPWORDS order wins ties).

    A document with ZERO hits in every language also resolves to the
    first language via the ≥ tie-break — the ``otherwise('und')`` is
    defensively unreachable. This is the certified cross-engine
    semantics (the oracle's ``_langid_sql`` mirrors it; ~1% of the
    fixture docs are zero-hit). Changing zero-evidence docs to
    ``und`` would be the better heuristic but flips the langid-gated
    curation family's certified values in lockstep — do it only as a
    deliberate multi-query re-certification.

    r13: the L stopword-count scores are let-bound as one array so
    each language's filter pass over the words array runs ONCE per
    row. The old dict-of-columns form inlined every score into every
    when-branch (score_i plus greatest over the other L−1) — up to
    L² interpreted HOF passes per row, none sharable because HOF
    lambdas get no common-subexpression elimination. Same argmax,
    same ≥ tie-break order, identical values."""
    langs = list(STOPWORDS)

    def pick(s: Column) -> Column:
        expr = None
        for i, lang in enumerate(langs):
            others = [
                F.element_at(s, j + 1)
                for j in range(len(langs))
                if j != i
            ]
            cond = F.element_at(s, i + 1) >= F.greatest(*others)
            expr = (
                F.when(cond, lang) if expr is None else expr.when(cond, lang)
            )
        return expr.otherwise("und")

    return let(
        words_col,
        lambda w: let(
            F.array(*[stopword_hits(w, lang) for lang in langs]), pick
        ),
    )


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count_bpe_ish(col: Column | str) -> Column:
    """Regex token count approximating a BPE pre-tokenizer: letter
    runs + digit runs + punctuation singles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(TOKEN_REGEX), F.lit(0)))


# Pluggable real-tokenizer seam (the nl_sql.py LLMFn pattern): a
# TokenCounterFn maps a pandas Series of texts to a Series of int
# token counts — the adapter shape both sentencepiece and tiktoken
# fit in one line, e.g.
#     lambda s: s.map(lambda t: len(enc.encode(t)))
# The LIBRARIES aren't needed for their model FILES (r8,
# operators/tokenizer_files.py): `sentencepiece_token_counter(path)`
# parses a real .model protobuf and runs it through the certified
# unigram Viterbi DP; `tiktoken_token_counter(path)` parses a
# .tiktoken rank table and byte-BPE encodes — both dependency-free.
# The engine default stays the JVM-side regex proxy (zero Python in
# the hot path); a caller with a real tokenizer pays one Arrow-batched
# pandas UDF, never a row-at-a-time Python UDF.
from collections.abc import Callable  # noqa: E402
from typing import Any  # noqa: E402

# pandas.Series -> pandas.Series of int counts
TokenCounterFn = Callable[[Any], Any]


def token_counter(
    tokenizer: TokenCounterFn | None = None,
) -> Callable[[Column | str], Column]:
    """Column-factory for token counts: default = BPE-ish regex proxy
    (JVM-side); with ``tokenizer``, an Arrow-batched pandas UDF
    wrapping the real tokenizer. Null texts count 0 either way."""
    if tokenizer is None:
        return token_count_bpe_ish

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _count(s):  # pandas.Series[str] -> pandas.Series[int]
        filled = s.fillna("")
        return tokenizer(filled).astype("int64")

    def col_fn(col: Column | str) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        return _count(c)

    return col_fn


def token_fertility_by_lang(
    df,
    lang_col: str,
    text_col: str,
    tokenizer: TokenCounterFn | None = None,
):
    """Tokenizer fertility per language: (sub)tokens per whitespace
    word and chars per token — the metric that drives multilingual
    token budgets. One map-side-combined groupBy over ≤ |langs| rows
    at any scale. ``tokenizer`` plugs a real tokenizer (see
    ``token_counter``); default is the BPE-ish proxy."""
    count_tokens = token_counter(tokenizer)
    d = df.select(
        F.col(lang_col).alias("lang"),
        count_tokens(text_col).cast("long").alias("n_bpe"),
        token_count_ws(text_col).cast("long").alias("n_ws"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.sum("n_ws").alias("ws_tokens"),
            F.round(F.sum("n_bpe") / F.sum("n_ws"), 6).alias("fertility"),
            F.round(F.sum("n_chars") / F.sum("n_bpe"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


def vocab_oov_audit(
    df,
    lang_col: str,
    text_col: str,
    vocab_size: int = 1000,
):
    """Vocabulary-coverage / OOV-rate audit — the pre-training check
    that a tokenizer/vocab actually covers the corpus mix: build the
    top-``vocab_size`` corpus vocabulary (by occurrence count, ties
    on the word so the cut is deterministic), then report per
    language: total word occurrences, out-of-vocabulary occurrences,
    OOV rate, and distinct OOV words. A high per-lang OOV rate is the
    signal that a language is about to pay pathological fertility.

    Scale shape: the token stream pre-aggregates to (lang, word)
    counts BEFORE any join (bounds the join input at distinct-word
    cardinality, not corpus tokens); the vocabulary is top-k via
    orderBy+limit (TakeOrderedAndProject) and broadcasts back; final
    rollup is ≤ |langs| rows with map-side combine."""
    lw = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(words(text_col)).alias("w"),
    ).filter(F.col("w") != "")
    lang_word = lw.groupBy("lang", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    corpus = lang_word.groupBy("w").agg(F.sum("cnt").alias("total"))
    vocab = (
        corpus.orderBy(F.desc("total"), F.asc("w"))
        .limit(vocab_size)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    return (
        lang_word.join(F.broadcast(vocab), on="w", how="left")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("total_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("oov_tokens"),
            F.count_if(F.col("in_vocab").isNull()).alias(
                "distinct_oov_words"
            ),
        )
        .select(
            "lang",
            F.col("total_tokens").cast("long"),
            F.col("oov_tokens").cast("long"),
            F.round(
                F.col("oov_tokens") / F.col("total_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
            F.col("distinct_oov_words").cast("long"),
        )
        .orderBy("lang")
    )


def fingerprint_exact(col: Column | str) -> Column:
    """md5 of normalized text — exact-dup fingerprint."""
    return F.md5(normalize_text(col))


def fingerprint_bag(col: Column | str) -> Column:
    """md5 of the sorted distinct word set — word-order-insensitive
    fingerprint (catches shuffled near-dups)."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(words(col))), " ")
    )


def quality_metrics(col: Column | str) -> dict[str, Column]:
    """Length/stopword/digit-ratio quality signals + composite score
    (the heuristics production corpus filters use: too-short, low
    stopword density, digit-heavy docs are low-quality)."""
    c = F.col(col) if isinstance(col, str) else col
    w = words(col)
    n_words = F.size(w)
    n_chars = F.length(c)
    sw_ratio = stopword_hits(w, "en") / F.greatest(n_words, F.lit(1))
    digit_ratio = (
        F.length(F.regexp_replace(c, r"[^0-9]", ""))
        / F.greatest(n_chars, F.lit(1))
    )
    avg_word_len = (
        F.length(F.array_join(w, "")) / F.greatest(n_words, F.lit(1))
    )
    score = (
        F.when(n_words >= 20, 0.4).otherwise(0.0)
        + F.when((avg_word_len >= 3) & (avg_word_len <= 10), 0.3).otherwise(0.0)
        + F.when(sw_ratio >= 0.05, 0.2).otherwise(0.0)
        + F.when(digit_ratio <= 0.2, 0.1).otherwise(0.0)
    )
    return {
        "n_words": n_words,
        "avg_word_len": avg_word_len,
        "stopword_ratio": sw_ratio,
        "digit_ratio": digit_ratio,
        "quality_score": score,
    }


def repetition_profile(
    df: "DataFrame", id_col: str, text_col: str, n: int = 3
) -> "DataFrame":
    """Gopher-style repetition filters: per-doc duplicate-n-gram
    fraction, duplicate-word fraction, most-common-word share, mean
    word length (the repetition rules production corpus filters
    apply alongside length/stopword heuristics).

    Two shapes composed: the array-expressible metrics (distinct vs
    total words / n-grams, mean word length) are one row-wise
    projection over let-bound arrays; the most-common-word share
    needs a per-(doc, word) count, which no array expression gives
    without O(vocab·len) rescans — so it is explode → two partial-
    aggregated groupBys on doc_id, then a join back. Both sides are
    keyed on doc_id, and the row-wise side carries no arrays into the
    join (scalars only), so the join exchange is narrow.
    """
    # Spread: both consumers of `base` would otherwise run as one task
    # on a single-split input.
    base = spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("w")
    )
    rowwise = base.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct_words"),
        let(
            word_ngram_stream(F.col("w"), n),
            lambda g: F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(g)).cast("double")
                / F.greatest(F.size(g), F.lit(1)),
                6,
            ),
        ).alias("dup_3gram_frac"),
        F.round(
            F.length(F.array_join("w", "")).cast("double")
            / F.greatest(F.size("w"), F.lit(1)),
            6,
        ).alias("mean_word_len"),
    )
    top = (
        base.select("doc_id", F.explode("w").alias("wd"))
        .groupBy("doc_id", "wd")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.max("c").cast("double") / F.sum("c"), 6
            ).alias("top_word_frac")
        )
    )
    out = rowwise.join(top, "doc_id")
    keep = (F.col("dup_3gram_frac") <= 0.2) & (
        F.col("top_word_frac") <= 0.2
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "dup_3gram_frac",
        "mean_word_len",
        "top_word_frac",
        keep.alias("keep"),
    )


# PII redaction — the standard corpus-prep scrub before training-data
# release. Patterns are deliberately RE2-compatible (no lookbehind) so
# the DuckDB oracle applies the IDENTICAL regexes; all JVM-side
# regexp_replace/regexp_count, no Python in the row path.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # order matters: ssn before phone (both match ddd-dd-dddd-ish
    # shapes), email before ip (user@1.2.3.4 hosts).
    "email": (
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    "phone": (
        r"\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b",
        "<PHONE>",
    ),
    "ipv4": (
        r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
        "<IP>",
    ),
}


def redact_pii(col: Column | str) -> dict[str, Column]:
    """Chained regexp_replace over ``PII_PATTERNS`` plus per-type match
    counts (counted on the ORIGINAL text, before any replacement can
    shadow a later pattern). Returns {"redacted": .., "n_<type>": ..}.
    One projection, zero shuffles — the scan-level scrub shape that
    runs at 100 TB as a mapper."""
    c = F.col(col) if isinstance(col, str) else col
    out: dict[str, Column] = {}
    red = c
    for name, (pat, repl) in PII_PATTERNS.items():
        out[f"n_{name}"] = F.regexp_count(c, F.lit(pat)).cast("long")
        red = F.regexp_replace(red, pat, repl)
    out["redacted"] = red
    return out


def unigram_lm_score(df, id_col: str, text_col: str, ref=None,
                     top_v: int | None = None):
    """CCNet-style LM quality scoring: mean per-token negative log2
    probability under an add-one-smoothed unigram LM trained on a
    reference corpus (CCNet trains KenLM on Wikipedia and buckets web
    text head/middle/tail by perplexity; the unigram LM is the same
    contract with an oracle-checkable closed form).

    p(w) = (c_ref(w)+1)/(N+V+1) for in-vocab w, 1/(N+V+1) for OOV —
    so out-of-vocabulary tokens take the maximum surprisal and junk
    text scores high (worse). Returns (id, n_tok, mean_nll) with
    mean_nll in bits/token; perplexity proxy = 2^mean_nll.

    Shape at 100 TB: the vocab is a broadcast table (cap it with
    ``top_v`` most-frequent reference words — the standard LM vocab
    truncation — when the reference corpus is itself web-scale); the
    scoring side is explode → broadcast-left-join → one partial-
    aggregated groupBy on the doc id. The (N, V) scalar rides along
    as a one-row broadcast.
    """
    from pyspark.sql import DataFrame  # noqa: F401 — signature doc

    ref = df if ref is None else ref
    counts = (
        ref.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if top_v is not None:
        counts = counts.orderBy(F.desc("c"), F.asc("w")).limit(top_v)
    stats = counts.groupBy().agg(
        F.sum("c").alias("n_ref"), F.count(F.lit(1)).alias("v_ref")
    )
    denom = (F.col("n_ref") + F.col("v_ref") + 1).cast("double")
    vocab = counts.crossJoin(F.broadcast(stats)).select(
        "w", F.log2((F.col("c") + 1) / denom).alias("logp")
    )
    ex = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    scored = (
        ex.join(F.broadcast(vocab), on="w", how="left")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (-F.coalesce(F.col("logp"), F.log2(F.lit(1.0) / denom))).alias(
                "nll"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.avg("nll").alias("mean_nll"),
    )


def hashed_ngram_features(col: Column | str, dim: int = 4096) -> Column:
    """Unigram + word-bigram features hashed into ``dim`` buckets
    (the fastText feature map): array<long> of bucket ids, duplicates
    kept (term frequency matters to the NB likelihood). Hash is the
    md5-derived 60-bit bigint, so any engine computes identical
    buckets."""
    from bio_lakehouse_spark.operators.sketches import hash60

    c = F.col(col) if isinstance(col, str) else col
    return let(
        F.split(c, " "),
        lambda w: F.concat(
            F.transform(w, lambda t: hash60(t) % dim),
            F.transform(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                lambda t, i: hash60(
                    F.concat(t, F.lit(" "), F.element_at(w, i + 2))
                )
                % dim,
            ),
        ),
    )


def nb_quality_classifier(
    df, id_col: str, text_col: str, label_col: str, dim: int = 4096
):
    """Model-based quality filtering (the fastText/FineWeb-Edu stage)
    as a closed-form multinomial Naive Bayes over hashed n-gram
    features — trained AND applied inside the engine, no sklearn.

    Train: per-bucket positive/negative counts with add-one smoothing
    → per-bucket log-odds weight w(b) = log((c⁺+1)/(N⁺+dim)) −
    log((c⁻+1)/(N⁻+dim)). Apply: score(doc) = mean w over the doc's
    feature stream; label keep = score > 0. ``label_col`` is a
    boolean column marking the positive training examples (in
    production: LLM/human-labeled seed docs — the distilled-
    classifier seam; the pipeline is identical).

    Scale shape: the weight table is bounded by ``dim`` rows no
    matter the corpus (THE point of feature hashing) → broadcast;
    training is one groupBy(bucket) with map-side partial counts;
    scoring is explode → broadcast join → one keyed aggregate.
    Returns (id, n_feat, nb_logodds).
    """
    # Spread: on a single-split input the whole explode+hash feature
    # stream would run as one task.
    feats = spread(df, id_col).select(
        F.col(id_col),
        F.col(label_col).cast("boolean").alias("__pos"),
        F.explode(hashed_ngram_features(text_col, dim)).alias("b"),
    )
    counts = feats.groupBy("b").agg(
        F.count_if(F.col("__pos")).alias("cp"),
        F.count_if(~F.col("__pos")).alias("cn"),
    )
    totals = counts.groupBy().agg(
        F.sum("cp").alias("np"), F.sum("cn").alias("nn")
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("cp") + 1) / (F.col("np") + dim).cast("double"))
            - F.log((F.col("cn") + 1) / (F.col("nn") + dim).cast("double"))
        ).alias("w"),
    )
    return (
        feats.join(F.broadcast(weights), on="b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feat"),
            F.avg("w").alias("nb_logodds"),
        )
    )


# Fixed scoring alphabet for scan-level entropy: normalized corpora
# (lowercase + digits + space) cover it; symbols outside contribute
# length but no term, keeping the expression closed-form.
ENTROPY_ALPHABET = tuple("abcdefghijklmnopqrstuvwxyz0123456789 ")


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (bits) of the character distribution over the
    fixed alphabet — the repetitiveness signal quality filters use
    (near-zero → 'aaaa...' boilerplate; English text ≈ 4 bits). Pure
    scan-level expression, no explode, no shuffle.

    Shape: transform over the alphabet LITERAL + one aggregate fold,
    NOT 37 unrolled replace branches — the runtime work is identical
    (one replace-count per symbol) but the expression tree is
    constant-size, which measured 2× faster end-to-end at sf0.1
    because the unrolled tree's analysis/codegen dominated a 5 000-row
    scan. The fold runs in fixed alphabet order so engines agree
    bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    counts = F.transform(
        F.array(*[F.lit(ch) for ch in ENTROPY_ALPHABET]),
        lambda ch: (
            F.length(c) - F.length(F.replace(c, ch, F.lit("")))
        ).cast("double"),
    )
    return F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, cnt: acc
        + F.when(
            cnt > 0, -(cnt / n) * F.log2(cnt / n)
        ).otherwise(F.lit(0.0)),
    )


def dsir_importance(
    df,
    id_col: str,
    text_col: str,
    target_col: str,
    dim: int = 4096,
    feature_fn: Callable[[str], Column] | None = None,
):
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): score every document by the hashed-n-gram log importance
    ratio log p_target(doc) − log p_raw(doc), where both LMs are
    add-one-smoothed unigram+bigram bucket distributions (the paper's
    hashed n-gram generative model). ``target_col`` marks the target
    seed docs; the raw distribution is the WHOLE corpus (not the
    complement — that asymmetry is what distinguishes DSIR from the
    NB classifier above). Selection is then top-k by logw (the
    deterministic engine-side stand-in for the paper's Gumbel-noise
    resample, which a caller can add by jittering logw).

    Scale shape identical to nb_quality_classifier: bucket table
    bounded by ``dim`` → broadcast; one groupBy(bucket) to train, one
    keyed aggregate to score. Returns (id, n_feat, logw).

    ``feature_fn`` plugs a different featurizer (text col name →
    array<long> of bucket ids in [0, dim)) — e.g. a REAL tokenizer's
    ids hashed mod dim via an Arrow-batched pandas UDF. Default is
    the paper's hashed unigram+bigram map (engine-expressible, so the
    registry query keeps a DuckDB oracle)."""
    bucketize = feature_fn or (
        lambda c: hashed_ngram_features(c, dim)
    )
    # Spread: the explode+hash stream must not run as one task.
    feats = spread(df, id_col).select(
        F.col(id_col),
        F.col(target_col).cast("boolean").alias("__t"),
        F.explode(bucketize(text_col)).alias("b"),
    )
    counts = feats.groupBy("b").agg(
        F.count_if(F.col("__t")).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    totals = counts.groupBy().agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + dim).cast("double"))
            - F.log((F.col("cr") + 1) / (F.col("nr") + dim).cast("double"))
        ).alias("lw"),
    )
    return (
        feats.join(F.broadcast(weights), on="b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feat"),
            F.sum("lw").alias("logw"),
        )
    )


def pseudonymize(col: Column | str, key: str, length: int = 16) -> Column:
    """Deterministic keyed pseudonymization: sha256(key ‖ ':' ‖ value)
    truncated to ``length`` hex chars — the privacy op a training
    pipeline applies to user/session identifiers BEFORE any join or
    export: the mapping is stable (same id → same pseudonym, so joins
    and groupBys still work) but irreversible without the key, and
    rotating the key unlinks every historical export at once. Pure
    scan-level expression; PII *content* redaction is ``redact_pii``,
    this handles identifier COLUMNS."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(
        F.sha2(F.concat(F.lit(key), F.lit(":"), c.cast("string")), 256),
        1,
        length,
    )


def bigram_stream(df, id_col: str, text_col: str):
    """(id, w1, w2) adjacent-word-pair stream, formed entirely inside
    whole-stage codegen: split → indexed transform → filter → one
    explode. No window, no shuffle — pair formation is embarrassingly
    parallel per document, so the stream inherits the scan's
    partitioning at any scale."""
    pairs = F.expr(
        f"filter(transform(split({text_col}, ' '), (x, i) -> "
        f"named_struct('w1', x, 'w2', try_element_at(split({text_col},"
        " ' '), i + 2))), p -> p.w2 is not null)"
    )
    return df.select(
        F.col(id_col), F.explode(pairs).alias("bg")
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def kneser_ney_bigram_score(df, id_col: str, text_col: str, ref=None,
                            discount: float = 0.75):
    """Interpolated Kneser-Ney bigram LM scoring — the actual model
    family behind KenLM, which CCNet / CC-dedup pipelines use to
    perplexity-filter web text (unigram_lm_score is the closed-form
    proxy; this is the real bigram estimator with absolute
    discounting and continuation-probability backoff).

    Estimator (single discount D, two interpolation levels, uniform
    floor so every probability is strictly positive):

        P(w2|w1) = max(c(w1w2)-D,0)/c(w1·) + D·N1+(w1,·)/c(w1·) · Pc(w2)
        Pc(w2)   = max(N1+(·,w2)-D,0)/T    + D·V2/T · 1/V
        unseen context w1 → P(w2|w1) = Pc(w2)

    where c(w1·)=Σ_w2 c(w1w2), N1+(w1,·)=|{w2: c(w1w2)>0}|,
    N1+(·,w2)=|{w1: c(w1w2)>0}|, T = total bigram TYPES, V2 = distinct
    continuation words, V = ref vocabulary size.

    Scale shape: every model table is TYPE-keyed (vocab / vocab²
    bounded — independent of corpus token count). The two word-keyed
    tables and the 1-row scalar frame are broadcast; the bigram-count
    join is left as a plain equi-join on (w1,w2) so AQE broadcasts it
    at small vocab and falls back to a shuffle join when the bigram
    type table outgrows the broadcast threshold (web-scale vocab²).
    Returns (id, n_bigrams, mean_nll) in bits/bigram; docs with < 2
    tokens have no bigrams and drop out.
    """
    ref = df if ref is None else ref
    D = float(discount)
    rb = bigram_stream(ref, id_col, text_col)
    big = rb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1r")
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1l"))
    vocab = (
        ref.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    scal = big.agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.countDistinct("w2").cast("double").alias("v2"),
    ).crossJoin(F.broadcast(vocab))
    s = bigram_stream(df, id_col, text_col)
    j = (
        s.join(big, on=["w1", "w2"], how="left")
        .join(F.broadcast(ctx), on="w1", how="left")
        .join(F.broadcast(cont), on="w2", how="left")
        .crossJoin(F.broadcast(scal))
    )
    n1l = F.coalesce(F.col("n1l"), F.lit(0)).cast("double")
    # try_divide (r13 no-reference sweep): an empty reference slice
    # gives t = v = 0 and the 0/0 aborted under ANSI — an undefined
    # model scores every bigram NULL (mean_nll NULL, n_bigrams still
    # counted), the same contract as unigram_lm_score's NULL denom.
    p_cont = F.try_divide(
        F.greatest(n1l - D, F.lit(0.0)), F.col("t")
    ) + F.try_divide(D * F.col("v2"), F.col("t") * F.col("v"))
    c12 = F.coalesce(F.col("c12"), F.lit(0)).cast("double")
    c1 = F.col("c1").cast("double")
    p = F.when(
        F.col("c1").isNotNull(),
        F.greatest(c12 - D, F.lit(0.0)) / c1
        + D * F.col("n1r") / c1 * p_cont,
    ).otherwise(p_cont)
    return (
        j.select(id_col, (-F.log2(p)).alias("nll"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("nll").alias("mean_nll"),
        )
    )
