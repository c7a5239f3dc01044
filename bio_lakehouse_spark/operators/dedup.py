"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-pipeline dedup at corpus scale. Strategy ladder:

- **exact**: md5 of normalized text, one groupBy — O(n), always first.
- **n-gram Jaccard (blocked)**: exact set similarity inside small
  blocks (language/source) — quadratic per block, exact answer.
- **MinHash + LSH**: the 100 TB path — per-doc signature (k xxhash64
  minhashes), banding → candidate pairs via a groupBy on the band
  bucket (one shuffle keyed on the hash value, never a cross join),
  then exact Jaccard verification of candidates only. Miss
  probability per pair with jaccard s is (1-s)^k (k single-row
  bands) — k=16 gives 1.5e-5 at s=0.5.
- **SimHash**: 32-bit signature whose hamming distance tracks cosine
  similarity of the shingle sets; pairs compared inside blocks via
  xor/bit_count.

SimHash derives from md5 hex strings so the DuckDB oracle reproduces
signatures bit-for-bit; MinHash signatures are internal-only (the LSH
oracle is the brute-force Jaccard scan), so they use the cheaper
built-in xxhash64.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.joins import explode_pairs
from bio_lakehouse_spark.operators.skew import spread
from bio_lakehouse_spark.operators.textops import word_ngrams, words

DEFAULT_NUM_HASHES = 16


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text
    with the kept (minimum) id and the duplicate count."""
    from bio_lakehouse_spark.operators.textops import fingerprint_exact

    return (
        df.select(
            F.col(id_col), fingerprint_exact(text_col).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles) — distinct word n-gram sets. The input is
    spread first (``skew.spread``) so a single-split corpus does not
    run the whole shingle pipeline on one core; the shuffle moves
    only raw text."""
    return spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        word_ngrams(words(text_col), n).alias("shingles"),
    )


def _jaccard(a, b):
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    )


def _doc_pair(a: Column, b: Column) -> list[Column]:
    return [a.alias("doc_a"), b.alias("doc_b")]


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact blocked pairwise Jaccard: quadratic only inside each
    block (the blocking key bounds the join fan-out; at scale the
    blocks shuffle independently)."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        *block_cols,
        word_ngrams(words(text_col), n).alias("shingles"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = _jaccard(F.col("a.shingles"), F.col("b.shingles"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures_raw(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(doc_id, mh_0..k-1) straight from raw text — the signature hot
    path: one narrow projection, ZERO exchanges.

    MIN is duplicate-insensitive, so the distinct-shingle-SET build
    (array_distinct's per-row sort/dedup — the dominant cost of
    ``shingle_sets`` at corpus scale) is unnecessary for signatures: a
    duplicated gram stream has the same mins. The whole signature is
    one nested let-bound expression — words and the gram stream are
    each evaluated once per row (see ``textops.let``: HOF lambdas have
    no common-subexpression elimination, and emitting grams as a
    separate select risks CollapseProject inlining it into all k min
    columns — measured 2.5× slower), then k array_min/transform passes
    over the in-memory array. No explode, no window, no groupBy: the
    scan → signature stage is embarrassingly parallel, the shape that
    survives 100 TB. Each mh_j equals the minimum of xxhash64(j, ·)
    over the gram set ``shingle_sets`` builds (same short-doc
    full-text fallback) — verified by the brute-force oracle."""
    from bio_lakehouse_spark.operators.textops import let, word_ngram_stream

    def mins(grams: Column) -> Column:
        def hash_j(j: int):
            return lambda s: F.xxhash64(F.lit(j), s)

        return F.struct(
            *[
                F.array_min(F.transform(grams, hash_j(j))).alias(f"mh_{j}")
                for j in range(num_hashes)
            ]
        )

    sig = let(
        words(text_col), lambda w: let(word_ngram_stream(w, n), mins)
    )
    # Spread so the per-row signature work uses every core (moves
    # only raw text).
    return spread(df, id_col).select(
        F.col(id_col).alias("doc_id"), sig.alias("_sig")
    ).select(
        "doc_id",
        *[F.col(f"_sig.mh_{j}").alias(f"mh_{j}") for j in range(num_hashes)],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    threshold: float = 0.5,
    min_band_matches: int = 2,
    max_bucket_size: int = 256,
    return_stats: bool = False,
    eager_checkpoint: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """MinHash LSH candidate generation + exact verification.

    Candidates = pairs sharing at least ``min_band_matches`` of the
    ``num_hashes`` single-row bands, found by exploding (band, value),
    one groupBy on the bucket, and expanding per-bucket pairs — a
    single shuffle keyed on the hash value, the shape that survives
    100 TB (no cross join anywhere). Candidates then get exact Jaccard
    on their shingle sets; only >= threshold survive.

    Recall: with r=1 bands a pair with true jaccard s matches a given
    band with probability s, so P(fewer than 2 of 16 bands) =
    (1-s)^16 + 16·s·(1-s)^15 ≈ 2.6e-4 at s=0.5 and falls steeply
    above it. ``min_band_matches=2`` cuts the candidate set ~12×
    (most 1-band pairs are hash coincidences at s≈1/16) — verified
    to return the identical pair set as the brute-force scan at
    sf0.01 and sf0.1. Set ``min_band_matches=1`` for the max-recall
    variant.

    Cost structure: signatures come from the zero-exchange row-wise
    path (``minhash_signatures_raw``) — the distinct shingle-SET
    arrays, formerly built and checkpointed for the whole corpus, are
    now built ONLY for docs that appear in a candidate pair (exact
    Jaccard needs the sets; nothing else does). That candidate-doc
    table is localCheckpoint'ed once for the two verify-join sides —
    on a cluster this stage would be a written table; the checkpoint
    is the single-app analog.

    Hot-bucket cap: a (band, value) bucket of b docs expands to
    b·(b−1)/2 candidate pairs — boilerplate-heavy corpora (constant
    headers/footers, licence blocks) create buckets of millions of
    docs whose expansion is quadratic and would OOM an executor long
    before 100 TB. Buckets larger than ``max_bucket_size`` are
    DROPPED before expansion (cap 256 → ≤32 640 pairs/bucket). Safe
    at the default: a pair whose only collisions are in oversized
    buckets shares nothing but corpus-wide boilerplate — true
    near-dups collide in their content bands too, and byte-identical
    docs belong to the exact-dedup pass. Set
    ``return_stats=True`` to get ``(pairs, stats)`` where stats has
    one row per multi-doc bucket (band, value, size, dropped) so a
    pipeline can monitor how much the cap bit.
    """
    sig = minhash_signatures_raw(df, id_col, text_col, n, num_hashes)
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"), F.col(f"mh_{j}").alias("value")
            )
            for j in range(num_hashes)
        ]
    )
    exploded = sig.select(
        "doc_id", F.explode(bands).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.value").alias("value"))
    # Pair generation via ONE aggregation on the bucket key instead of
    # a bucket self-join: a self-join evaluates the whole signature
    # lineage twice and shuffles both sides; groupBy scans it once.
    # The bucket-size window runs on the SAME partitioning the groupBy
    # needs, so Spark inserts one exchange for both: oversized buckets
    # are filtered row-wise BEFORE collect_list ever materializes
    # their id arrays — the hot bucket never exists as an array, let
    # alone as b²/2 pairs.
    from pyspark.sql import Window

    sized = exploded.withColumn(
        "bsize",
        F.count(F.lit(1)).over(Window.partitionBy("band", "value")),
    )
    stats = None
    if return_stats:
        # Stats share the sized lineage via one checkpoint so the
        # signature pipeline isn't recomputed for monitoring.
        sized = sized.localCheckpoint()
        stats = (
            sized.groupBy("band", "value")
            .agg(F.max("bsize").alias("size"))
            .filter(F.col("size") > 1)
            .withColumn("dropped", F.col("size") > max_bucket_size)
        )
    buckets = (
        sized.filter(
            (F.col("bsize") > 1) & (F.col("bsize") <= max_bucket_size)
        )
        .groupBy("band", "value")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    cand = (
        explode_pairs(buckets, "ids", _doc_pair)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= min_band_matches)
        .select("doc_a", "doc_b")
    )
    # Eager cut: the candidate set is tiny but its lineage holds
    # the whole signature pipeline — without this, the two verify
    # consumers and the id projection would re-run it three times.
    # (eager_checkpoint=False keeps the full lineage visible for
    # plan-shape tests.)
    if eager_checkpoint:
        cand = cand.localCheckpoint()
    # One scan of cand (explode, not a two-branch union); no distinct
    # — the left_semi probe dedups by construction.
    cand_ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    )
    shingled = shingle_sets(
        df.join(cand_ids, id_col, "left_semi"), id_col, text_col, n
    ).withColumn("sz", F.size("shingles"))
    if eager_checkpoint:
        shingled = shingled.localCheckpoint()
    # |A∪B| = |A| + |B| − |A∩B| with precomputed set sizes — avoids
    # materializing the union array per candidate pair.
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
    verified = (
        cand.join(
            shingled.toDF("doc_a", "sh_a", "sz_a"),
            on="doc_a",
        )
        .join(
            shingled.toDF("doc_b", "sh_b", "sz_b"),
            on="doc_b",
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    if return_stats:
        return verified, stats
    return verified


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """The stored LSH index: one (doc_id, band, value) row per band
    per doc — what an ingestion pipeline persists (partitioned or
    bucketed by (band, value) at scale) so incremental dedup never
    recomputes corpus signatures."""
    sig = minhash_signatures_raw(df, id_col, text_col, n, num_hashes)
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"), F.col(f"mh_{j}").alias("value")
            )
            for j in range(num_hashes)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"),
        F.col("b.value").alias("value"),
    )


def lsh_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_bands: int = 4,
    rows_per_band: int = 4,
    truth_threshold: float = 0.4,
) -> DataFrame:
    """MEASURED MinHash-LSH candidate recall by true-Jaccard decile —
    the dedup twin of ``ann_ivf_recall``'s "audit the approximation"
    posture. Every LSH docstring in this module argues recall from
    the (1 − (1 − s^r)^b) curve; this operator measures it, so a
    pipeline choosing (b, r) for a 100 TB dedup pass can see the
    curve on ITS corpus instead of trusting the formula.

    Ground truth = the exact prefix-filter join (recall 1 by
    pigeonhole, no probability) at ``truth_threshold``; approximate
    side = banded minhash candidates with r = ``rows_per_band`` rows
    per band (md5-ordered minhash — string min over md5("j|"+shingle)
    — so a SQL oracle reproduces every signature bit-for-bit; the
    production xxhash64 path in ``minhash_signatures_raw`` is ~10×
    cheaper but not oracle-mirrorable). Truth pairs are bucketed by
    floor(jaccard·10)/10 (1.0 folded into the 0.9 bucket) and each
    bucket reports measured recall next to the closed-form expectation
    at the bucket midpoint.

    Deliberately NO hot-bucket cap: the point is to measure what
    banding ALONE recalls; the production cap's recall cost is
    monitored separately via ``minhash_lsh_pairs(return_stats=True)``.
    Measuring uncapped is affordable because the audit NEVER
    materializes the candidate pair set at all — a truth pair is
    "found" iff its two docs agree on ≥ 1 band, which two keyed joins
    of the BOUNDED truth table against the per-doc band table answer
    directly. A hot boilerplate bucket therefore costs the audit
    nothing (the b²/2 expansion that forces the production cap simply
    never happens here), and the measured set is identical to
    candidate-set membership by construction.

    Scale shape: signatures are a row-wise projection; truth is the
    PPJoin prefix filter (output-bounded); found-ness is
    truth ⋈ bands(doc_a) ⋈ bands(doc_b) on (pair, band) — every join
    keyed, fan-out ≤ n_bands per truth pair; the final aggregate is
    ≤ 7 bucket rows.
    """
    k = n_bands * rows_per_band

    # Factory, NOT `lambda s, j=j: ...`: a two-parameter lambda makes
    # F.transform pass (element, index) — the default arg is shadowed
    # by the array-index Column and F.lit(f"{j}|") stringifies that
    # Column object, silently hashing a garbage-but-deterministic
    # prefix instead of the band-hash index. sf0.01 passed by luck
    # (every truth pair recalled under both hash families); the r10
    # sf0.1 strict sweep caught the 2-pair divergence.
    def _mh(j: int):
        pre = f"{j}|"
        return lambda s: F.md5(F.concat(F.lit(pre), s))

    sets = shingle_sets(df, id_col, text_col, n=n)
    mins = [
        F.array_min(F.transform(F.col("shingles"), _mh(j))).alias(f"mh{j}")
        for j in range(k)
    ]
    sig = sets.select("doc_id", *mins)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("value"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_arr).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.value").alias("value")
    )
    # Both found-ness join sides read the band table, and the truth
    # table feeds both the hit probe and the final bucket join. No
    # checkpoint: the duplicated subplans sit behind shuffle
    # boundaries, so AQE's ReusedExchange computes each once —
    # measured faster than either eager (extra materialization jobs)
    # or lazy (no intra-job dedup) localCheckpoints here.
    truth = prefix_filter_pairs(
        df, id_col, text_col, n=n, threshold=truth_threshold
    )
    ba = bands.select(
        F.col("doc_id").alias("doc_a"), "band",
        F.col("value").alias("va"),
    )
    bb = bands.select(
        F.col("doc_id").alias("doc_b"), "band",
        F.col("value").alias("vb"),
    )
    hits = (
        truth.select("doc_a", "doc_b")
        .join(ba, "doc_a")
        .join(bb, ["doc_b", "band"])
        .filter(F.col("va") == F.col("vb"))
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = hits
    bucket = F.least(F.floor(F.col("jaccard") * 10) / 10.0, F.lit(0.9))
    # Expected recall at the bucket midpoint via REPEATED MULTIPLY
    # (bit-exact IEEE on both engines; pow() may differ by a ULP
    # across libm implementations and flip a 6-decimal rounding).
    mid = F.col("bucket_lo") + F.lit(0.05)
    p_band = mid
    for _ in range(rows_per_band - 1):
        p_band = p_band * mid
    miss = F.lit(1.0) - p_band
    p_miss_all = miss
    for _ in range(n_bands - 1):
        p_miss_all = p_miss_all * miss
    expected = F.lit(1.0) - p_miss_all
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .withColumn("bucket_lo", bucket)
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count("hit").alias("n_found"),
        )
        .select(
            "bucket_lo",
            "n_truth",
            "n_found",
            F.round(F.col("n_found") / F.col("n_truth"), 6).alias("recall"),
            F.round(expected, 6).alias("expected_recall"),
        )
        .orderBy("bucket_lo")
    )


def minhash_incremental_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    threshold: float = 0.5,
    min_band_matches: int = 2,
    max_bucket_size: int = 256,
    corpus_bands: DataFrame | None = None,
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup — today's crawl against the corpus
    without rescanning the corpus (the minhash twin of the exact
    fingerprint-store anti-join). Pass ``corpus_bands`` — the stored
    (doc_id, band, value) index the ingestion pipeline maintains — to
    skip recomputing corpus signatures entirely; without it the index
    is derived from ``corpus`` (same zero-exchange projection).

    Candidates = (batch × corpus∪batch) pairs sharing ≥
    ``min_band_matches`` bands, found by broadcasting the (small) new
    batch's band table against the corpus band table — at production
    scale the corpus side IS the stored (band, value, doc_id) index
    maintained by the ingestion pipeline (here derived from
    ``corpus``; the derivation is the same zero-exchange signature
    projection). The corpus TEXT is touched only for docs that appear
    in a candidate pair (left-semi probe), so per-batch cost is
    O(batch + candidates), never O(corpus). Hot corpus buckets
    (boilerplate band values) are dropped at ``max_bucket_size``
    before the join, same rationale — and same recall caveat — as
    ``minhash_lsh_pairs``: a true near-dup pair whose only matching
    bands live in oversized buckets is missed. ``return_stats=True``
    returns ``(pairs, stats)`` with one row per dropped corpus bucket
    so the pipeline can see how much the cap bit.
    Output pairs are oriented (doc_a < doc_b with doc_b in the
    batch); verification is exact Jaccard ≥ ``threshold``."""
    if corpus_bands is None:
        corpus_bands = minhash_band_table(
            corpus, id_col, text_col, n, num_hashes
        )
    corpus_bands = corpus_bands.withColumn(
        "bsize",
        F.count(F.lit(1)).over(Window.partitionBy("band", "value")),
    )
    stats = None
    if return_stats:
        corpus_bands = corpus_bands.localCheckpoint()
        stats = (
            corpus_bands.groupBy("band", "value")
            .agg(F.max("bsize").alias("size"))
            .filter(F.col("size") > max_bucket_size)
            .withColumn("dropped", F.lit(True))
        )
    corpus_bands = corpus_bands.filter(
        F.col("bsize") <= max_bucket_size
    ).drop("bsize")
    # r13: the batch band table feeds both the union's left arm and
    # the broadcast probe side — materialize the batch-sized frame
    # once instead of running the signature pipeline twice.
    batch_bands = minhash_band_table(
        batch, id_col, text_col, n, num_hashes
    ).localCheckpoint()
    left = corpus_bands.select(
        F.col("doc_id").alias("doc_a"), "band", "value",
        F.lit(False).alias("a_new"),
    ).unionByName(
        batch_bands.select(
            F.col("doc_id").alias("doc_a"), "band", "value",
            F.lit(True).alias("a_new"),
        )
    )
    right = F.broadcast(
        batch_bands.select(
            F.col("doc_id").alias("doc_b"), "band", "value"
        )
    )
    cand = (
        left.join(right, on=["band", "value"])
        # corpus-batch keeps every pair; batch-batch oriented a < b.
        .filter(
            (~F.col("a_new")) | (F.col("doc_a") < F.col("doc_b"))
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= min_band_matches)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    all_docs = corpus.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).unionByName(
        batch.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
        )
    )
    cand_ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    shingled = shingle_sets(
        all_docs.join(cand_ids, "doc_id", "left_semi"),
        "doc_id", "__text", n,
    ).withColumn("sz", F.size("shingles")).localCheckpoint()
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
    verified = (
        cand.join(shingled.toDF("doc_a", "sh_a", "sz_a"), on="doc_a")
        .join(shingled.toDF("doc_b", "sh_b", "sz_b"), on="doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    if return_stats:
        return verified, stats
    return verified


def simhash32(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """32-bit SimHash over word n-gram shingles.

    Bit p of the signature is the sign of Σ over shingles of ±1,
    where +1 iff the p-th hex nibble of md5(shingle) has its top bit
    set. Engine-portable for the same reason as minhash: everything
    derives from md5 hex characters.
    """
    from bio_lakehouse_spark.operators.textops import let

    sh = shingle_sets(df, id_col, text_col, n)

    def vote_bits(h):
        # ±1 vote per bit position: +1 iff hex nibble p has its top
        # bit set (chars 8-f).
        return F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda p: F.when(
                F.substring(h, p.cast("int"), 1).isin(*"89abcdef"), F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    def signature(hashes):
        # One pass over the shingle hashes accumulating all 32 vote
        # counters (vs 32 separate aggregates re-walking the array).
        votes = F.aggregate(
            hashes,
            F.array_repeat(F.lit(0), 32),
            lambda acc, h: F.zip_with(acc, vote_bits(h), lambda a, v: a + v),
        )
        powers = F.array(*[F.lit(2**p).cast("long") for p in range(32)])
        return F.aggregate(
            F.zip_with(
                votes,
                powers,
                lambda v, pw: F.when(v > 0, pw).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    hashes_expr = F.transform(F.col("shingles"), lambda s: F.md5(s))
    return sh.select(
        "doc_id", let(hashes_expr, signature).alias("simhash")
    )


def simhash64(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """64-bit SimHash as TWO 32-bit halves (sim_hi, sim_lo) — the
    Manku/Jain/Sarma web-dedup signature width (Detecting
    Near-Duplicates for Web Crawling, WWW'07: 64-bit simhash,
    hamming ≤ 3), kept as two ints so neither engine needs unsigned
    64-bit arithmetic. Bit p of the HI half votes on the top bit
    (mask 8) of md5-hex nibble p+1; the LO half votes on the second
    bit (mask 4) of the same nibble — 64 independent votes from one
    md5 per shingle, one aggregate pass."""
    from bio_lakehouse_spark.operators.textops import let

    sh = shingle_sets(df, id_col, text_col, n)

    def vote_bits(h, charset: str):
        return F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda p: F.when(
                F.substring(h, p.cast("int"), 1).isin(*charset), F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    powers = F.array(*[F.lit(2**p).cast("long") for p in range(32)])

    def half(hashes, charset: str):
        votes = F.aggregate(
            hashes,
            F.array_repeat(F.lit(0), 32),
            lambda acc, h: F.zip_with(
                acc, vote_bits(h, charset), lambda a, v: a + v
            ),
        )
        return F.aggregate(
            F.zip_with(
                votes,
                powers,
                lambda v, pw: F.when(v > 0, pw).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    hashes_expr = F.transform(F.col("shingles"), lambda s: F.md5(s))
    return sh.select(
        "doc_id",
        let(hashes_expr, lambda h: half(h, "89abcdef")).alias("sim_hi"),
        let(hashes_expr, lambda h: half(h, "4567cdef")).alias("sim_lo"),
    )


def _band_specs(n_bands: int) -> list[tuple[str, int, int]]:
    """Split the 64-bit (sim_hi, sim_lo) signature into ``n_bands``
    disjoint bit ranges that never cross the 32-bit half boundary
    (so each band value is one shift+mask on one half): returns
    (half, shift, width) triples. hi gets ceil(n/2) bands, lo the
    rest; widths within a half differ by at most one bit."""
    if not 2 <= n_bands <= 32:
        raise ValueError("n_bands must be in [2, 32]")
    specs: list[tuple[str, int, int]] = []
    for half, k in (("hi", (n_bands + 1) // 2), ("lo", n_bands // 2)):
        offset = 0
        for i in range(k):
            width = 32 // k + (1 if i < 32 % k else 0)
            specs.append((half, offset, width))
            offset += width
    return specs


def simhash_pairs_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 3,
    max_bucket_size: int = 256,
    return_stats: bool = False,
    n_bands: int = 4,
    block_cols: Sequence[str] = (),
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """SimHash near-dup pairs WITHOUT a blocked self-join — the
    100 TB path, per Manku/Jain/Sarma (WWW'07): 64-bit signature,
    hamming ≤ 3, split into 4 × 16-bit bands. Pigeonhole: a pair
    within hamming ≤ 3 differs in at most 3 bands, so it matches
    exactly on at least one band; a random pair collides on a 16-bit
    band with p = 2⁻¹⁶, so candidates stay near-linear in corpus
    size. The pigeonhole argument gives recall 1 ONLY while no
    matching band bucket exceeds ``max_bucket_size``: buckets larger
    than the cap are dropped before pair expansion (boilerplate
    protection, same as the MinHash path), so a true hamming≤3 pair
    whose every matching band lands in an oversized bucket is missed.
    ``return_stats=True`` returns ``(pairs, stats)`` with one row per
    oversized bucket so a pipeline can monitor that boundary instead
    of assuming it away. Candidates come from one explode +
    (band, value)-keyed aggregation — the same single-exchange shape
    as the MinHash LSH path — then exact xor+bit_count verification.
    A blocked self-join would instead be quadratic within its
    blocking column, unusable when blocks are corpus-sized (an 'en'
    block IS the corpus).

    Generalized pigeonhole (r7): a pair within hamming ≤ h differs in
    at most h of the ``n_bands`` disjoint bit ranges, so it matches
    exactly on ≥ n_bands − h of them — requires ``n_bands ≥
    max_hamming + 1`` (the 4-band default keeps the classic h ≤ 3
    WWW'07 configuration). Wider thresholds use more, narrower bands
    (h = 6 → 7 bands of 8–11 bits: random collision 2⁻⁸…2⁻¹¹ per band
    — more candidates than 16-bit bands, still near-linear with the
    bucket cap). ``block_cols`` joins the blocking attributes into
    the bucket key (band collisions only pair within a block) — the
    scalable replacement for the blocked quadratic self-join."""
    if max_hamming + 1 > n_bands:
        raise ValueError(
            f"pigeonhole needs n_bands ≥ max_hamming+1 "
            f"({n_bands} < {max_hamming + 1})"
        )
    sig = simhash64(df, id_col, text_col, n).localCheckpoint()
    bcols = list(block_cols)
    keyed = sig
    if bcols:
        keyed = sig.join(
            df.select(F.col(id_col).alias("doc_id"), *bcols), on="doc_id"
        )
    halves = {"hi": F.col("sim_hi"), "lo": F.col("sim_lo")}
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(halves[half], shift)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("value"),
            )
            for j, (half, shift, width) in enumerate(_band_specs(n_bands))
        ]
    )
    exploded = keyed.select(
        "doc_id", *bcols, F.explode(bands).alias("__sband")
    ).select(
        "doc_id",
        *bcols,
        F.col("__sband.band").alias("band"),
        F.col("__sband.value").alias("value"),
    )
    bucket_key = [*bcols, "band", "value"]
    sized = exploded.withColumn(
        "bsize",
        F.count(F.lit(1)).over(Window.partitionBy(*bucket_key)),
    )
    stats = None
    if return_stats:
        sized = sized.localCheckpoint()
        stats = (
            sized.groupBy(*bucket_key)
            .agg(F.max("bsize").alias("size"))
            .filter(F.col("size") > max_bucket_size)
            .withColumn("dropped", F.lit(True))
        )
    buckets = (
        sized.filter(
            (F.col("bsize") > 1) & (F.col("bsize") <= max_bucket_size)
        )
        .groupBy(*bucket_key)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    cand = explode_pairs(buckets, "ids", _doc_pair).distinct()
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    verified = (
        cand.join(sig.toDF("doc_a", "hi_a", "lo_a"), on="doc_a")
        .join(sig.toDF("doc_b", "hi_b", "lo_b"), on="doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    if return_stats:
        return verified, stats
    return verified


def ngram_overlap_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an evaluation corpus.

    The standard train/eval overlap check LLM pipelines run before
    training (n-gram collision against held-out benchmarks). Shape:
    the eval corpus's distinct n-grams are SMALL by construction
    (benchmarks are thousands of docs, not billions) — broadcast them
    and probe with the exploded training grams, so the training side
    never shuffles: scan → explode → broadcast-hash-join → groupBy
    partial-aggregated on doc_id. Returns one row per contaminated
    doc: n_overlap (distinct shared grams), contamination_frac
    (share of the doc's distinct grams found in eval).
    """
    ev = (
        eval_df.select(
            F.explode(word_ngrams(words(text_col), n)).alias("g")
        )
        .distinct()
    )
    tr = train.select(
        F.col(id_col).alias("doc_id"),
        word_ngrams(words(text_col), n).alias("grams"),
    )
    exploded = tr.select(
        "doc_id", F.size("grams").alias("n_grams"), F.explode("grams").alias("g")
    )
    return (
        exploded.join(F.broadcast(ev), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_grams"), 6
            ).alias("contamination_frac"),
        )
    )


def remove_frequent_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words_per_seg: int = 8,
    min_docs: int = 2,
    delim: str | None = None,
) -> DataFrame:
    """Corpus-frequency segment removal — the RefinedWeb/CCNet
    line-level dedup shape: split every document into segments, count
    how many DISTINCT documents each segment appears in corpus-wide,
    strip segments above the threshold, and reassemble the remaining
    text in original order.

    ``delim`` splits on a literal delimiter (newline for real web
    text); ``delim=None`` chunks the word stream into fixed
    ``words_per_seg``-word segments (the deterministic stand-in when
    the corpus has no line structure). Removal is decided on
    ``xxhash64(segment)`` so the frequency shuffle and the frequent
    set carry 8-byte keys, never segment text.

    Shape at 100 TB: three keyed exchanges of the segment table and
    nothing quadratic — (1) explode → groupBy(seg_hash) with map-side
    partial aggregation for the distinct-doc count, (2) the frequent
    set (count ≥ min_docs) is the heavy-hitter MINORITY of segments,
    broadcast back as a left join flag (fallback: drop the hint and
    let AQE pick a shuffle join if a pathological corpus makes it
    large), (3) groupBy(doc) to reassemble. Fully-removed documents
    return clean_text NULL (not ''), matching SQL string_agg FILTER.

    Returns (id_col, n_segs, n_removed, clean_text).
    """
    base = df.select(F.col(id_col), F.col(text_col).alias("__text"))
    if delim is not None:
        segs = F.split(F.col("__text"), F.lit(delim).cast("string"))
    else:
        w = F.split(F.col("__text"), " ")
        n_chunks = F.ceil(F.size(w) / F.lit(words_per_seg)).cast("int")
        segs = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda g: F.array_join(
                F.slice(w, g * words_per_seg + 1, words_per_seg), " "
            ),
        )
    ex = base.select(
        id_col, F.posexplode(segs).alias("pos", "seg")
    ).withColumn("h", F.xxhash64("seg"))
    hot = (
        ex.groupBy("h")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h", F.lit(True).alias("rm"))
    )
    flagged = ex.join(F.broadcast(hot), on="h", how="left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.count("rm").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rm").isNull(),
                                F.struct("pos", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("__clean"),
        )
        .select(
            id_col,
            "n_segs",
            "n_removed",
            F.nullif(F.col("__clean"), F.lit("")).alias("clean_text"),
        )
    )


def repeated_window_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span detection — the exact-substring
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") re-expressed for Spark: a span of
    ≥ ``window`` tokens duplicated anywhere in the corpus shows up as
    stride-1 token windows shared across documents, at ANY alignment
    (the property disjoint-chunk dedup like remove_frequent_segments
    cannot see — their chunker only matches aligned copies; the
    reference paper uses suffix arrays, which need a global order a
    cluster cannot cheaply maintain).

    Cost is explicit and linear: |corpus tokens| window rows, the
    same envelope as the decontamination gram explode. Windows group
    by xxhash64 (8-byte exchange keys, text never shuffles); windows
    seen in ≥ ``min_docs`` distinct docs come back as a broadcast
    flag. Returns per doc (id, n_windows, n_shared, shared_frac,
    flagged) — flagged docs contain at least one span also present
    verbatim in another document.
    """
    from bio_lakehouse_spark.operators.textops import let

    # Spread so both gram passes (frequency build + flag join) use
    # every core.
    df = spread(df, id_col)

    # Window strings via ONE slice+array_join per position instead of
    # `window` element_at calls (HOF lambdas are interpreted — 16
    # per-element lookups per window cost ~4× the single slice;
    # measured 3.1 s → 0.9 s at sf0.01). Short docs yield their full
    # text as one partial window, same as word_ngram_stream.
    wcol = F.split(F.col(text_col), " ")
    stream = let(
        wcol,
        lambda w: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - window, F.lit(0))),
            lambda i: F.array_join(F.slice(w, i + 1, window), " "),
        ),
    )
    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(stream)).alias("g"),
    ).withColumn("h", F.xxhash64("g"))
    hot = (
        grams.groupBy("h")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h", F.lit(True).alias("shared"))
    )
    return (
        grams.join(F.broadcast(hot), on="h", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("shared").alias("n_shared"),
        )
        .select(
            id_col,
            "n_windows",
            "n_shared",
            F.round(
                F.col("n_shared") / F.col("n_windows").cast("double"), 6
            ).alias("shared_frac"),
            (F.col("n_shared") > 0).alias("flagged"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(A→B) = |A∩B| / |A|
    over word n-gram shingle sets. The quote/embedding case Jaccard
    structurally misses — a 50-word doc pasted verbatim inside a
    2000-word doc has Jaccard ≈ 0.025 but containment ≈ 1.0 (Broder's
    original resemblance/containment pair, STOC'97 framing). Kept as
    the blocked exact form (quadratic within a block, like
    ngram_jaccard_pairs); at corpus scale candidates come from the
    same LSH band machinery with a lowered band-match bar, then this
    measure verifies.

    Returns pairs (doc_a < doc_b) where EITHER direction's
    containment clears ``threshold``, with both directions reported.
    """
    # Materialize the shingle table once: a self-join duplicates the
    # lineage, so without this every pair pays the words/array_distinct
    # build TWICE (measured 6.6 s → ~4 s at sf0.1). shingle_sets'
    # input-spread applies for single-split corpora.
    sh = shingle_sets(df, id_col, text_col, n=n)
    blocks = df.select(
        F.col(id_col).alias("doc_id"), *block_cols
    )
    sh = sh.join(blocks, on="doc_id").localCheckpoint()
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(
        F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
    ).cast("double")
    c_ab = inter / F.size(F.col("a.shingles"))
    c_ba = inter / F.size(F.col("b.shingles"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
    )


def canonical_keep_verdicts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: Column | None = None,
    fingerprint: str = "bag",
) -> DataFrame:
    """Canonical-copy selection — the "which duplicate do we KEEP"
    step after dedup grouping: within each duplicate group, rank
    copies by quality (default: textops.quality_metrics composite,
    rounded to 6 so cross-engine float noise can't flip a rank; ties
    on id ascending) and emit one verdict row per copy in every
    multi-copy group: (doc_id, text_hash, n_copies, rnk,
    is_canonical).

    ``fingerprint``: "bag" (default) groups by the word-order-
    insensitive sorted-distinct-word fingerprint — catches shuffled
    copies, where quality ranking matters most; "exact" groups by
    md5(normalized text). Either way the copies differ in raw bytes
    and min-id would keep an arbitrary one. Scale shape: one shuffle
    on the fingerprint, per-group window over tiny groups (duplicate
    multiplicity, not corpus size)."""
    from bio_lakehouse_spark.operators.textops import (
        fingerprint_bag,
        fingerprint_exact,
        quality_metrics,
    )

    fp = (
        fingerprint_bag(text_col)
        if fingerprint == "bag"
        else fingerprint_exact(text_col)
    )
    q = quality_col if quality_col is not None else (
        quality_metrics(text_col)["quality_score"]
    )
    scored = df.select(
        F.col(id_col),
        fp.alias("text_hash"),
        F.round(q, 6).alias("__q"),
    )
    wcount = Window.partitionBy("text_hash")
    wrank = Window.partitionBy("text_hash").orderBy(
        F.desc("__q"), F.asc(id_col)
    )
    return (
        scored.withColumn("n_copies", F.count(F.lit(1)).over(wcount))
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("n_copies") >= 2)
        .select(
            id_col,
            "text_hash",
            F.col("n_copies").cast("long"),
            F.col("rnk").cast("long"),
            (F.col("rnk") == 1).alias("is_canonical"),
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (CDC) duplicate-chunk audit — the
    variable-length, shift-resistant complement to fixed n-gram span
    dedup (Lee et al. spans break under a single inserted word; CDC
    boundaries re-synchronize because they depend on content, not
    position — the rsync/LBFS chunking idea applied to token
    streams).

    A word is a chunk BOUNDARY iff hash60(word) % divisor == 0
    (expected chunk length = divisor words); a chunk is the word run
    ending at a boundary (remainder words form the final chunk).
    Emits per document: n_chunks, n_dup_chunks (chunks whose hash
    also appears in ANOTHER document), dup_chunk_frac.

    Scale shape: per-doc chunk ids are an entity-partitioned window
    (prefix count of boundaries); the cross-doc frequency pass
    exchanges 8-byte chunk hashes only, grouped with map-side
    combine. No doc-pair joins anywhere."""
    from bio_lakehouse_spark.operators.sketches import hash60
    from bio_lakehouse_spark.operators.textops import words

    toks = df.select(
        F.col(id_col),
        F.posexplode(words(text_col)).alias("pos", "w"),
    ).withColumn(
        "is_b", (hash60(F.col("w")) % divisor == 0).cast("int")
    )
    wchunk = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = (
        toks.withColumn(
            "chunk_id", F.coalesce(F.sum("is_b").over(wchunk), F.lit(0))
        )
        .groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("chunk_text")
        )
        .select(
            id_col, F.md5(F.col("chunk_text")).alias("chunk_hash")
        )
    )
    freq = chunks.groupBy("chunk_hash").agg(
        F.count_distinct(id_col).alias("ndocs")
    )
    return (
        chunks.join(freq, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_if(F.col("ndocs") >= 2).alias("n_dup_chunks"),
        )
        .select(
            id_col,
            F.col("n_chunks").cast("long"),
            F.col("n_dup_chunks").cast("long"),
            F.round(
                F.col("n_dup_chunks") / F.col("n_chunks").cast("double"), 6
            ).alias("dup_chunk_frac"),
        )
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Scalable EXACT containment join — same semantics as
    ``ngram_containment_pairs`` (either-direction C ≥ t) but with
    prefix-filter candidate generation instead of a within-block
    quadratic self-join, so a corpus-sized block no longer explodes.

    The asymmetric prefix lemma (PPJoin family adapted to overlap/
    containment joins): for a qualifying pair, WLOG |A| ≤ |B|. Either
    direction of containment ≥ t implies overlap ≥ ⌈t·|A|⌉ (C(A→B)
    gives it directly; C(B→A) gives overlap ≥ t·|B| ≥ t·|A|). Order
    A's shingles by global rarity (df asc, token); only ⌈t·|A|⌉ − 1
    of A's tokens lie outside its first |A| − ⌈t·|A|⌉ + 1, so at
    least one OVERLAP token sits in that prefix — i.e. the SMALLER
    doc's prefix always intersects the larger doc's FULL shingle set.
    Candidates are therefore prefix-tokens-of-smaller ⋈ all-tokens-
    of-larger on (block, token): recall exactly 1, no probability.

    Scale shape: token df is one aggregate; the rarest-first order
    pushes frequent tokens out of every prefix, so join buckets stay
    small without a cap; verification (array_intersect containment,
    both directions) touches candidate pairs only. The probe side is
    the full token table — linear, not quadratic, in block size."""
    sh = shingle_sets(df, id_col, text_col, n=n)
    blocks = df.select(F.col(id_col).alias("doc_id"), *block_cols)
    sh = (
        sh.join(blocks, on="doc_id")
        .withColumn("sz", F.size("shingles"))
        .localCheckpoint()
    )
    # 8-byte hashed tokens as all exchange/join keys (the
    # dedup_frequent_lines discipline): a hash collision can only ADD
    # a false candidate, which exact verification discards — recall
    # is untouched because equal tokens always hash equal.
    toks = sh.select(
        "doc_id",
        *block_cols,
        "sz",
        F.explode(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("__cptok"),
    )
    dfreq = toks.groupBy("__cptok").agg(F.count(F.lit(1)).alias("df"))
    # Only the PREFIX branch needs the rarity sort; the probe and
    # verify branches read the checkpointed shingle table directly.
    prefix_len = F.col("sz") - F.ceil(
        F.lit(float(threshold)) * F.col("sz")
    ).cast("int") + 1
    prefixes = (
        toks.join(dfreq, "__cptok")
        .groupBy("doc_id", *block_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df", "__cptok"))
            ).alias("ord")
        )
        .withColumn("sz", F.size("ord"))
        .select(
            "doc_id",
            *block_cols,
            "sz",
            F.explode(
                F.transform(
                    F.slice(F.col("ord"), 1, prefix_len),
                    lambda s: s["__cptok"],
                )
            ).alias("__cptok"),
        )
    )
    probe = toks
    p, q = prefixes.alias("p"), probe.alias("q")
    cond = F.col("p.__cptok") == F.col("q.__cptok")
    for c in block_cols:
        cond = cond & (F.col(f"p.{c}") == F.col(f"q.{c}"))
    # p must be the (size, id)-lexicographically smaller doc — the
    # side whose prefix the lemma covers; equal sizes tie-break on id
    # so each pair is generated from exactly one direction.
    cond = cond & (
        (F.col("p.sz") < F.col("q.sz"))
        | (
            (F.col("p.sz") == F.col("q.sz"))
            & (F.col("p.doc_id") < F.col("q.doc_id"))
        )
    )
    cand = (
        p.join(q, cond)
        .select(
            F.least("p.doc_id", "q.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "q.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / F.size("sh_a")).alias("cont_a_in_b"),
            (inter / F.size("sh_b")).alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact set-similarity join by prefix filtering (PPJoin family —
    Xiao et al. WWW'08, Chaudhuri et al. ICDE'06): all pairs with
    shingle Jaccard ≥ ``threshold``, with RECALL EXACTLY 1 — the
    deterministic complement to MinHash-LSH's probabilistic candidate
    generation, for when a dedup decision must be provably complete.

    Why it works: order every document's shingles by a GLOBAL
    rarity order (ascending document frequency, ties on the token).
    If Jaccard(x, y) ≥ t then |x∩y| ≥ ⌈t·|x|⌉, so x's first
    p = |x| − ⌈t·|x|⌉ + 1 tokens under that order cannot ALL miss y's
    prefix — two qualifying docs always share a prefix token
    (pigeonhole, no probability involved).

    Scale shape: shingle df is one aggregate; candidates are an
    equi-join on PREFIX token only — and because the order is
    rarest-first, prefix tokens are systematically the low-df ones,
    which is what keeps buckets small without a cap (the frequent
    tokens that would explode a bucket sort to the END of every
    document and never enter short prefixes). A length filter
    (|y| ≥ t·|x|) prunes before exact verification; verification
    touches candidates only.

    The global rarity order is (df, token) ASC applied PER DOCUMENT
    via sort_array over (df, token) structs — there is deliberately
    NO global row_number window: ranks were only ever used as
    equi-join keys, and the token itself serves identically. The
    rank version forced every distinct shingle through a single
    partition (Window.orderBy with no partitionBy — a
    one-core sort of |distinct shingles| rows that measured 10-25 s
    of the old sf0.1 runtime and would be an outright straggler at
    100 TB); the struct sort is per-row, embarrassingly parallel.
    The verify sets are reconstructed from the SAME sorted arrays
    (transform to token), so the shingle pipeline isn't recomputed
    on a second branch.
    """
    sets = shingle_sets(df, id_col, text_col, n=n).select(
        F.col("doc_id"), F.col("shingles")
    )
    toks = sets.select(
        "doc_id", F.explode("shingles").alias("tok")
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    doc_ord = (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df", "tok"))
            ).alias("ord")
        )
        .withColumn("sz", F.size("ord"))
        # r13 note: a localCheckpoint here (to share the table across
        # the four plan branches) was tried and MEASURED SLOWER at
        # sf0.1 (dedup_prefix_filter 3.0 s -> 8.3 s, ngram_jaccard
        # 3.5 s -> 9.5 s): serializing the shingle arrays costs more
        # than recomputing them from the columnar scan, and the eager
        # cut serializes what AQE otherwise runs as parallel branches.
    )
    prefix_len = F.col("sz") - F.ceil(
        F.lit(float(threshold)) * F.col("sz")
    ).cast("int") + 1
    prefixes = doc_ord.select(
        "doc_id",
        "sz",
        F.explode(
            F.transform(
                F.slice(F.col("ord"), 1, prefix_len), lambda s: s["tok"]
            )
        ).alias("ptok"),
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(b, on=F.col("a.ptok") == F.col("b.ptok"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: Jaccard >= t forces t*max(size) <= min(size)
        .filter(
            F.least("a.sz", "b.sz")
            >= F.lit(float(threshold)) * F.greatest("a.sz", "b.sz")
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    doc_sets = doc_ord.select(
        "doc_id",
        F.transform("ord", lambda s: s["tok"]).alias("sh"),
    )
    sa = doc_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sb = doc_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.size("sh_a") + F.size("sh_b")
        - F.size(F.array_intersect("sh_a", "sh_b"))
    ).cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
