"""Similarity-search queries over the `embeddings` table.

Brute-force exact top-k (the baseline), IVF coarse-quantized top-k
(the scale path), and blocked cosine near-dup pairs. Dot products are
fold-left double arithmetic in both engines so the oracle reproduces
scores to float precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    ivf_topk,
)
from bio_lakehouse_spark.operators.skew import spread
from bio_lakehouse_spark.operators.stats import safe_corr
from bio_lakehouse_spark.suite.registry import REGISTRY, load, register

R6 = lambda c: F.round(c, 6)  # noqa: E731

# DuckDB double-precision cosine between two float lists.
_COS = (
    "(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))))"
)


@register(
    "ann_cosine_topk",
    survey=("O4", "F9", "W9"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_COS.format(a='q.qv', b='c.embedding')} AS cos_sim
  FROM embeddings c, q
  WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, ROUND(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 per query (queries = every 50th
    vector): broadcast query set × one corpus scan, per-partition
    top-k merge via the rank window. The exactness baseline every ANN
    variant is judged against."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", R6(F.col("cos_sim")).alias("cos_sim")
    )


# IVF cells: every 25th vector seeds one, its vec_id the cell id.
_IVF_CENT_CTE = """
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 25 = 0
)"""

# Each vector's nearest cell and each query's 3 nearest cells (ties to
# the lower cell id): the probe both IVF top-5 oracles score.
_IVF_PROBE_CTE = _IVF_CENT_CTE + f""", assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT v.vec_id, v.embedding, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.embedding', b='cent.cv')} DESC, cent.centroid_id) AS rn
    FROM embeddings v, cent
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
), probed AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_COS.format(a='q.qv', b='cent.cv')} DESC, cent.centroid_id) AS rn
    FROM q, cent
  ) WHERE rn <= 3
)"""


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Spark twin of ``_IVF_CENT_CTE``: (centroid_id, embedding)."""
    return emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )


@register(
    "ann_ivf_topk",
    survey=("O4", "F9", "J5"),
    oracle=_IVF_PROBE_CTE + f""", scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_COS.format(a='p.qv', b='a.embedding')} AS cos_sim
  FROM probed p JOIN assigned a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, ROUND(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 5
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: every 25th vector seeds a cell, vectors
    assign to their nearest centroid (broadcast), queries probe the 3
    nearest cells — candidate join is an equi-join on centroid_id, so
    at 100 TB the search cost is nprobe/ncells of brute force and the
    shuffle is keyed, never a cross join. Deterministic pipeline →
    exactly reproduced by the SQL oracle."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = ivf_topk(emb, queries, centroids, k=5, nprobe=3)
    return out.select(
        "query_id", "neighbor_id", "rank", R6(F.col("cos_sim")).alias("cos_sim")
    )


@register(
    "embedding_neardup",
    survey=("J6", "F9"),
    oracle=f"""
SELECT vec_a, vec_b, ROUND(cos_raw, 6) AS cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_COS.format(a='a.embedding', b='b.embedding')} AS cos_raw
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < b.vec_id AND a.label = b.label
) WHERE cos_raw >= 0.35
""",
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by label (cos ≥ 0.35):
    the semantic-dedup primitive; at scale the label block becomes an
    LSH/IVF bucket with the identical join shape."""
    emb = load(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(
        emb, block_col="label", threshold=0.35
    )
    return out.select("vec_a", "vec_b", R6(F.col("cos_sim")).alias("cos_sim"))


# Unrolled-Lloyd oracle: a FIXED iteration count is SQL-expressible by
# unrolling each (assign → coordinate-mean → carry-forward) step as a
# CTE triple. Squared L2 is fold-left double arithmetic in both
# engines (Spark F.aggregate / DuckDB list_sum over the transformed
# list), so assignments agree exactly; means are ROUND(6)-stable.
_L2 = (
    "list_sum(list_transform(list_zip(v.vec, c.cv),"
    " p -> (p[1]-p[2])*(p[1]-p[2])))"
)


def _lloyd_oracle(k: int, iters: int) -> str:
    parts = [
        f"""WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vec AS cv
  FROM (SELECT vec_id, vec FROM v ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f""", a{i} AS (
  SELECT vec_id, vec, cid FROM (
    SELECT v.vec_id, v.vec, c.cid,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY {_L2} ASC, c.cid ASC) AS rn
    FROM v CROSS JOIN c{i-1} c) WHERE rn = 1
), g{i} AS (
  SELECT cid, list(m ORDER BY pos) AS cv_new, MAX(n) AS n_new FROM (
    SELECT cid, pos, SUM(x)/COUNT(*) AS m, COUNT(*) AS n FROM (
      SELECT cid, unnest(vec) AS x, generate_subscripts(vec, 1) AS pos
      FROM a{i}
    ) GROUP BY cid, pos
  ) GROUP BY cid
), c{i} AS (
  SELECT c.cid, COALESCE(g.cv_new, c.cv) AS cv,
         CAST(COALESCE(g.n_new, 0) AS BIGINT) AS n_members
  FROM c{i-1} c LEFT JOIN g{i} g ON c.cid = g.cid
)""")
    parts.append(f"""
SELECT cid AS centroid_id, ROUND(cv[1], 6) AS c0, ROUND(cv[2], 6) AS c1,
       ROUND(cv[3], 6) AS c2, n_members
FROM c{iters}""")
    return "".join(parts)


@register(
    "kmeans_ivf_centroids", survey=("ST14",), oracle=_lloyd_oracle(8, 3)
)
def kmeans_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's KMeans (k=8, 3 iterations, deterministic
    init) over the embedding corpus — the iterative-algorithm shape on
    DataFrames and the trainer for real IVF centroids (upgrade path
    from ann_ivf_topk's id-sampled cells). Two shuffles per iteration
    independent of corpus size. Hash-gated: the fixed iteration count
    unrolls into CTE triples (_lloyd_oracle), so the full trainer —
    init, argmin assignment, empty-cluster carry-forward, final
    membership counts — is verified against DuckDB end to end; also
    pinned against a numpy twin in tests/test_streaming_multimodal.py."""
    from bio_lakehouse_spark.operators.similarity import kmeans_lloyd

    emb = load(spark, sf_dir, "embeddings")
    out = kmeans_lloyd(emb, k=8, n_iters=3)
    return out.select(
        "centroid_id",
        F.round(F.element_at("centroid", 1), 6).alias("c0"),
        F.round(F.element_at("centroid", 2), 6).alias("c1"),
        F.round(F.element_at("centroid", 3), 6).alias("c2"),
        "n_members",
    )


# Element-wise int8 dequantization error, identical expression tree in
# both engines so the doubles match bit-for-bit: dq = lo + round_half_up(
# (x-lo)*255/rng)*rng/255, via floor(v+0.5) because Spark ROUND is
# HALF_UP while DuckDB's is half-away-from-zero.
_SQERR = (
    "(CAST(x AS DOUBLE) - (lo + floor((CAST(x AS DOUBLE) - lo) * 255.0"
    " / (hi - lo) + 0.5) * (hi - lo) / 255.0))"
)


@register(
    "embedding_int8_quantization",
    survey=("F9", "A1"),
    oracle=f"""
WITH v AS (
  SELECT label, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS lo,
         CAST(list_max(embedding) AS DOUBLE) AS hi
  FROM embeddings
), e AS (
  SELECT label, hi - lo AS rng,
         CASE WHEN hi = lo THEN 0.0
              ELSE list_sum(list_transform(embedding,
                     x -> {_SQERR} * {_SQERR})) / len(embedding)
         END AS mse
  FROM v
)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(AVG(mse), 9) AS avg_mse,
       ROUND(MAX(mse), 9) AS max_mse,
       ROUND(AVG(rng), 6) AS avg_range
FROM e GROUP BY label
""",
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (min/max affine, 256
    levels) with reconstruction-error audit per label — the 4×
    vector-compression step before shipping embeddings to an ANN
    index, here measured rather than assumed: avg/max MSE and the
    value range that sets the step size. Quantize+dequantize is a
    pure array expression (no UDF, no shuffle beyond the label agg);
    theoretical MSE is step²/12, visible in the output."""
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        "embedding",
        F.array_min("embedding").cast("double").alias("lo"),
        F.array_max("embedding").cast("double").alias("hi"),
    )
    lo, hi = F.col("lo"), F.col("hi")

    def sqerr(x):
        xd = x.cast("double")
        dq = lo + F.floor((xd - lo) * 255.0 / (hi - lo) + 0.5) * (hi - lo) / 255.0
        return (xd - dq) * (xd - dq)

    e = v.select(
        "label",
        (hi - lo).alias("rng"),
        F.when(hi == lo, F.lit(0.0))
        .otherwise(
            # try_divide (r12 ANSI audit): an EMPTY embedding
            # array gives NULL min/max, routing past the hi==lo
            # guard into this branch with size 0 — NULL mse, not a
            # job abort.
            F.try_divide(
                F.aggregate(
                    F.transform("embedding", sqerr),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                F.size("embedding"),
            )
        )
        .alias("mse"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("mse"), 9).alias("avg_mse"),
        F.round(F.max("mse"), 9).alias("max_mse"),
        F.round(F.avg("rng"), 6).alias("avg_range"),
    )


@register(
    "embedding_neardup_ivf",
    survey=("J6", "F9", "J5"),
    oracle=_IVF_CENT_CTE + f""", assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.embedding', b='cent.cv')} DESC, cent.centroid_id) AS rn
    FROM embeddings v, cent
  ) WHERE rn <= 2
), pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ROUND(cos_raw, 6) AS cos_sim FROM (
  SELECT p.vec_a, p.vec_b,
         {_COS.format(a='ea.embedding', b='eb.embedding')} AS cos_raw
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b
) WHERE cos_raw >= 0.35
""",
)
def embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by IVF cells (every 25th
    vector seeds a cell, multi-probe nprobe=2) with exact-cosine
    verification at 0.35 — the scale path when no blocking column
    exists. `embedding_neardup` (label-blocked exact) is the
    correctness twin; the deterministic cell pipeline is reproduced
    end-to-end by the SQL oracle."""
    from bio_lakehouse_spark.operators.similarity import ivf_neardup_pairs

    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    out = ivf_neardup_pairs(emb, centroids, threshold=0.35, nprobe=2)
    return out.select("vec_a", "vec_b", R6(F.col("cos_sim")).alias("cos_sim"))


_L2SQ = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))"
)


@register(
    "kmeans_assign_audit",
    survey=("ST14", "F9", "J5"),
    oracle=f"""
WITH cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
), assigned AS (
  SELECT vec_id, cid, dist FROM (
    SELECT v.vec_id, cent.cid,
           {_L2SQ.format(a='v.embedding', b='cent.cv')} AS dist,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_L2SQ.format(a='v.embedding', b='cent.cv')}, cent.cid) AS rn
    FROM embeddings v, cent
  ) WHERE rn = 1
)
SELECT CAST(cid AS BIGINT) AS centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(SUM(dist), 6) AS inertia
FROM assigned GROUP BY cid
""",
)
def kmeans_assign_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-HASHABLE audit of the Lloyd assignment step (the half of
    kmeans_lloyd a non-iterative oracle CAN check): deterministic
    centroids (first 8 vectors by id), squared-L2 argmin with cid
    tie-break — exactly the trainer's per-iteration assignment — and
    per-cell membership + inertia. Spark side uses the same packed-
    broadcast row-local argmin as kmeans_lloyd (zero corpus shuffle);
    the full trainer is ALSO hash-gated now (kmeans_ivf_centroids,
    unrolled-Lloyd oracle); this audit pins the inner step alone so a
    trainer regression localizes to assign vs update."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    cents = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("long")
            .alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "cv"
            ),
        )
    )
    packed = F.broadcast(
        cents.agg(
            F.sort_array(F.collect_list(F.struct("cid", "cv"))).alias(
                "cents"
            )
        )
    )
    dist_structs = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    c["cv"],
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.array_min(dist_structs)
    return (
        load(spark, sf_dir, "embeddings")
        .crossJoin(packed)
        .select(best["cid"].alias("centroid_id"), best["dist"].alias("dist"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            R6(F.sum("dist")).alias("inertia"),
        )
    )


@register(
    "ann_ivf_indexed",
    survey=("O4", "F9", "J5"),
    # Identical semantics to ann_ivf_topk — the persisted index must
    # not change a single result row, so it shares the oracle.
    oracle=REGISTRY["ann_ivf_topk"].oracle,
)
def ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 served from the PERSISTED index (build_ivf_index /
    ivf_topk_indexed): assigned corpus written partitioned by cell,
    probe reads only the nprobe probed partition directories (Hive
    pruning at file listing). Same centroids/nprobe as ann_ivf_topk →
    the driver hash must match the same oracle exactly."""
    from pathlib import Path

    from bio_lakehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )
    from bio_lakehouse_spark.suite.pipeline_queries import fixture_path

    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb).withColumn(
        "centroid_id", F.col("centroid_id").cast("int")
    )
    idx = str(fixture_path("ivf_index", sf_dir))
    if not Path(idx + "_DONE").exists():
        build_ivf_index(emb, centroids, idx)
        Path(idx + "_DONE").touch()
    # Named empty-source contract (VERDICT r12 #6): an empty
    # embeddings table writes an index with no parquet splits and the
    # read-back used to die with a raw UNABLE_TO_INFER_SCHEMA.
    from bio_lakehouse_spark.suite.registry import require_artifact

    # cells/ specifically: partitionBy on 0 rows writes no files,
    # while _centroids/ always gets one schema-bearing (empty) split.
    require_artifact(
        any(Path(idx, "cells").rglob("*.parquet")),
        "ann_ivf_indexed", "embeddings", "persisted IVF cell files",
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = ivf_topk_indexed(spark, idx, queries, k=5, nprobe=3)
    return out.select(
        "query_id", "neighbor_id", "rank",
        R6(F.col("cos_sim")).alias("cos_sim"),
    )


@register(
    "ann_ivf_recall",
    survey=("O4", "J6", "A1"),
    oracle=_IVF_PROBE_CTE + f""", ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
             ORDER BY {_COS.format(a='p.qv', b='a.embedding')} DESC, a.vec_id) AS rank
    FROM probed p JOIN assigned a ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> p.query_id
  ) WHERE rank <= 5
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_COS.format(a='q.qv', b='c.embedding')} DESC, c.vec_id) AS rank
    FROM embeddings c, q
    WHERE c.vec_id <> q.query_id
  ) WHERE rank <= 5
)
SELECT e.query_id,
       COUNT(i.neighbor_id) AS n_hits,
       ROUND(COUNT(i.neighbor_id) / 5.0, 6) AS recall_at_5
FROM exact e LEFT JOIN ivf i USING (query_id, neighbor_id)
GROUP BY e.query_id
""",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness: recall@5 of the IVF index (nprobe=3)
    against the exact brute-force ranking, per query — the metric an
    ANN deployment is tuned on (nprobe/ncells trade recall for the
    scan fraction). Both rankings reuse the production operators;
    the comparison is one equi-join on (query, neighbor)."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(emb, queries, centroids, k=5, nprobe=3).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / F.lit(5.0), 6).alias("recall_at_5"),
        )
    )


_SUB_L2 = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1]-p[2])*(p[1]-p[2])))"
)


@register(
    "pq_adc_topk",
    survey=("O4", "F9", "J5"),
    oracle=f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), samp AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, vec
  FROM (SELECT vec_id, vec FROM v WHERE vec_id % 60 = 0
        ORDER BY vec_id LIMIT 8)
), cb AS (
  SELECT s, j, vec[s*16+1 : s*16+16] AS cw
  FROM samp, unnest([0, 1, 2, 3]) AS t(s)
), enc AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT v.vec_id, cb.s, cb.j,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id, cb.s ORDER BY
        {_SUB_L2.format(a='v.vec[cb.s*16+1 : cb.s*16+16]', b='cb.cw')},
        cb.j) AS rn
    FROM v CROSS JOIN cb
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id % 50 = 0
), lut AS (
  SELECT q.query_id, cb.s, cb.j,
         {_SUB_L2.format(a='q.qv[cb.s*16+1 : cb.s*16+16]', b='cb.cw')} AS d
  FROM q CROSS JOIN cb
), scored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         list_sum(list(l.d ORDER BY l.s)) AS adc
  FROM enc e JOIN lut l ON l.s = e.s AND l.j = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(adc, 6) AS adc_dist
FROM (
  SELECT query_id, neighbor_id, adc,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY adc ASC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric-distance top-5 (Jégou et al.
    TPAMI'11): 4 subspaces × 8 id-sampled codewords compress each
    64-dim float vector to 4 code bytes (16× memory cut — what lets a
    100 TB embedding corpus serve from RAM); queries precompute a 4×8
    sub-distance LUT against the packed broadcast codebook and the
    scan costs 4 array lookups per candidate, touching no float
    vectors. Distance accumulates in ascending-subspace fold order so
    both engines agree bit-for-bit before the ROUND."""
    from bio_lakehouse_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook_sampled,
        pq_encode,
    )

    emb = load(spark, sf_dir, "embeddings")
    # r13: the codebook feeds BOTH pq_encode and the ADC LUT build —
    # each packs it into its own broadcast row, re-running the sampled
    # window subtree; materialize the 32-row frame once.
    cb = pq_codebook_sampled(emb, m=4, k=8, stride=60, dim=64).localCheckpoint()
    codes = pq_encode(emb, cb, m=4, dim=64)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = pq_adc_topk(codes, queries, cb, k_results=5, m=4, k=8, dim=64)
    return out.select(
        "query_id",
        "neighbor_id",
        "rank",
        R6(F.col("adc_dist")).alias("adc_dist"),
    )


@register(
    "pq_rerank_topk",
    survey=("O4", "F9", "J5"),
    oracle=f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), samp AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, vec
  FROM (SELECT vec_id, vec FROM v WHERE vec_id % 60 = 0
        ORDER BY vec_id LIMIT 8)
), cb AS (
  SELECT s, j, vec[s*16+1 : s*16+16] AS cw
  FROM samp, unnest([0, 1, 2, 3]) AS t(s)
), enc AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT v.vec_id, cb.s, cb.j,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id, cb.s ORDER BY
        {_SUB_L2.format(a='v.vec[cb.s*16+1 : cb.s*16+16]', b='cb.cw')},
        cb.j) AS rn
    FROM v CROSS JOIN cb
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id % 50 = 0
), lut AS (
  SELECT q.query_id, cb.s, cb.j,
         {_SUB_L2.format(a='q.qv[cb.s*16+1 : cb.s*16+16]', b='cb.cw')} AS d
  FROM q CROSS JOIN cb
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT l.query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY l.query_id
             ORDER BY list_sum(list(l.d ORDER BY l.s)) ASC,
                      e.vec_id) AS crank
    FROM enc e JOIN lut l ON l.s = e.s AND l.j = e.code
    WHERE e.vec_id <> l.query_id
    GROUP BY l.query_id, e.vec_id
  ) WHERE crank <= 20
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos_sim, 6) AS cos_sim
FROM (
  SELECT c.query_id, c.neighbor_id,
         {_COS.format(a='q.qv', b='n.vec')} AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY c.query_id
           ORDER BY {_COS.format(a='q.qv', b='n.vec')} DESC,
                    c.neighbor_id) AS rank
  FROM cand c JOIN q ON q.query_id = c.query_id
              JOIN v n ON n.vec_id = c.neighbor_id
) WHERE rank <= 5
""",
)
def pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN serving pattern:
    PQ-ADC prefilter to 20 candidates per query (4 LUT lookups per
    candidate, no float vectors touched), then exact-cosine rerank of
    only those candidates to top-5. The rerank joins float vectors
    for |Q|·20 rows instead of |Q|·N — the stage split that makes
    RAM-resident codes + disk-resident vectors serve at 100 TB."""
    from bio_lakehouse_spark.operators.similarity import (
        dot,
        norm,
        pq_adc_topk,
        pq_codebook_sampled,
        pq_encode,
    )

    emb = load(spark, sf_dir, "embeddings")
    # r13: the codebook feeds BOTH pq_encode and the ADC LUT build —
    # each packs it into its own broadcast row, re-running the sampled
    # window subtree; materialize the 32-row frame once.
    cb = pq_codebook_sampled(emb, m=4, k=8, stride=60, dim=64).localCheckpoint()
    codes = pq_encode(emb, cb, m=4, dim=64)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cand = pq_adc_topk(
        codes, queries, cb, k_results=20, m=4, k=8, dim=64
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qn"),
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        norm(F.col("embedding")).alias("nn"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.join(F.broadcast(qv), on="query_id")
        .join(nv, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            # try_divide (r12 ANSI audit): a zero-norm vector
            # (all-zero embedding is legal input) zeroes qn·nn —
            # cosine undefined → NULL; desc ordering parks NULLs
            # last, so degenerate vectors simply never rank.
            F.try_divide(
                dot(F.col("qv"), F.col("nv")),
                F.col("qn") * F.col("nn"),
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "rank", R6(F.col("cos_sim")).alias("cos_sim")
        )
    )


@register(
    "bitext_mining_mutual",
    survey=("J6", "O4", "W9"),
    oracle=f"""
WITH a AS (
  SELECT vec_id AS a_id, embedding AS av FROM embeddings WHERE label = 0
), b AS (
  SELECT vec_id AS b_id, embedding AS bv FROM embeddings WHERE label = 1
), scored AS (
  SELECT a.a_id, b.b_id,
         {_COS.format(a='a.av', b='b.bv')} AS cos_sim
  FROM a, b
), ranked AS (
  SELECT a_id, b_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY a_id
           ORDER BY cos_sim DESC, b_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY b_id
           ORDER BY cos_sim DESC, a_id) AS rb
  FROM scored
), da AS (
  SELECT a_id, AVG(cos_sim) AS knn_a FROM ranked WHERE ra <= 4 GROUP BY a_id
), db AS (
  SELECT b_id, AVG(cos_sim) AS knn_b FROM ranked WHERE rb <= 4 GROUP BY b_id
)
SELECT r.a_id, r.b_id, ROUND(r.cos_sim, 6) AS cos_sim,
       ROUND(r.cos_sim / ((da.knn_a + db.knn_b) / 2.0), 6) AS margin
FROM ranked r JOIN da USING (a_id) JOIN db USING (b_id)
WHERE r.ra = 1 AND r.rb = 1
  AND r.cos_sim / ((da.knn_a + db.knn_b) / 2.0) > 1.0
""",
)
def bitext_mining_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk ACL'19, the
    CCMatrix/LASER parallel-corpus pipeline): mutual nearest
    neighbors between the label-0 and label-1 embedding sets (proxy
    for two languages), scored by the ratio margin cos / mean-kNN-cos
    that suppresses hub vectors. Per-side rank windows + one
    mutuality equi-join; at corpus scale candidate generation swaps
    to the IVF/PQ index with identical downstream shape."""
    from bio_lakehouse_spark.operators.similarity import (
        bitext_mine_mutual,
    )

    emb = load(spark, sf_dir, "embeddings")
    out = bitext_mine_mutual(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") == 1),
        k_margin=4,
        margin_threshold=1.0,
    )
    return out.select(
        "a_id",
        "b_id",
        R6(F.col("cos_sim")).alias("cos_sim"),
        R6(F.col("margin")).alias("margin"),
    )


def _rrf_oracle() -> str:
    from bio_lakehouse_spark.suite.text_queries import _bm25_sql

    return f"""
WITH bm AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rb
  FROM ({_bm25_sql()})
), er AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS re
  FROM (
    SELECT c.vec_id AS doc_id,
           {_COS.format(a='q.qv', b='c.embedding')} AS cos
    FROM embeddings c,
         (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
    WHERE c.vec_id <> 0
    ORDER BY cos DESC, c.vec_id LIMIT 15
  )
)
SELECT doc_id,
       CAST(COALESCE(rb, -1) AS INT) AS bm25_rank,
       CAST(COALESCE(re, -1) AS INT) AS emb_rank,
       ROUND(COALESCE(1.0 / (60 + rb), 0)
           + COALESCE(1.0 / (60 + re), 0), 6) AS rrf_score
FROM bm FULL OUTER JOIN er USING (doc_id)
ORDER BY rrf_score DESC, doc_id
LIMIT 10
"""


@register(
    "hybrid_rrf_fusion",
    survey=("O4", "J1", "W9"),
    oracle=_rrf_oracle(),
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09, k=60): the lexical BM25 top-15 and the dense embedding
    top-15 (query = vector 0, same id space) fuse as
    Σ 1/(60 + rank) — rank-based, so the two scorers' incomparable
    scales never need calibration; docs surfaced by only one ranker
    keep that single term. The modern search stack's default fusion;
    both input rankings are the production operators, the fusion is
    one tiny full-outer join on 15-row frames."""
    from pyspark.sql import Window as W

    from bio_lakehouse_spark.suite.registry import REGISTRY as _R

    bm = _R["text_bm25_topk"].fn(spark, sf_dir)
    wb = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    bm_rank = bm.select(
        "doc_id", F.row_number().over(wb).alias("rb")
    )
    emb = load(spark, sf_dir, "embeddings")
    er = cosine_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=15
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("re"))
    fused = bm_rank.join(er, on="doc_id", how="full_outer").select(
        "doc_id",
        F.coalesce(F.col("rb"), F.lit(-1)).cast("int").alias("bm25_rank"),
        F.coalesce(F.col("re"), F.lit(-1)).cast("int").alias("emb_rank"),
        F.round(
            F.coalesce(1.0 / (60 + F.col("rb")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("re")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


def _mmr_oracle() -> str:
    cos = _COS.format
    return f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT c.vec_id AS cid, c.embedding AS cv,
         {cos(a='c.embedding', b='q.qv')} AS rel
  FROM embeddings c, q WHERE c.vec_id <> 0
  ORDER BY rel DESC, cid LIMIT 10
), w1 AS (
  SELECT cid, cv, 0.7 * rel - (1 - 0.7) * 0.0 AS mmr FROM cand
  ORDER BY mmr DESC, cid LIMIT 1
), r1 AS (
  SELECT c.cid, c.cv, c.rel, {cos(a='c.cv', b='w.cv')} AS sim0
  FROM cand c, w1 w WHERE c.cid <> w.cid
), w2 AS (
  SELECT cid, cv, 0.7 * rel - (1 - 0.7) * sim0 AS mmr FROM r1
  ORDER BY mmr DESC, cid LIMIT 1
), r2 AS (
  SELECT r.cid, r.rel, r.sim0, {cos(a='r.cv', b='w.cv')} AS sim1
  FROM r1 r, w2 w WHERE r.cid <> w.cid
), w3 AS (
  SELECT cid, 0.7 * rel - (1 - 0.7) * greatest(sim0, sim1) AS mmr FROM r2
  ORDER BY mmr DESC, cid LIMIT 1
)
SELECT CAST(1 AS INT) AS pick, cid AS id, ROUND(mmr, 6) AS mmr_score FROM w1
UNION ALL SELECT 2, cid, ROUND(mmr, 6) FROM w2
UNION ALL SELECT 3, cid, ROUND(mmr, 6) FROM w3
"""


@register(
    "mmr_diversified_topk",
    survey=("O4", "W9", "J6"),
    oracle=_mmr_oracle(),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (Carbonell & Goldstein SIGIR'98, λ=0.7):
    greedy re-rank of the cosine top-10 for query vector 0, each step
    maximizing λ·relevance − (1−λ)·max-similarity-to-selected — the
    anti-redundancy stage of the retrieval stack. Greedy is
    inherently sequential but every step is a TakeOrdered over the
    10-row candidate frame with the winner broadcast back; the fixed
    selection count unrolls to CTEs exactly like the Lloyd and
    PageRank oracles."""
    from bio_lakehouse_spark.operators.similarity import mmr_select

    emb = load(spark, sf_dir, "embeddings")
    out = mmr_select(
        emb.filter(F.col("vec_id") != 0),
        emb.filter(F.col("vec_id") == 0),
        k_candidates=10,
        k_select=3,
        lam=0.7,
    )
    return out.select(
        F.col("pick").cast("int").alias("pick"),
        "id",
        F.round("mmr_score", 6).alias("mmr_score"),
    )


@register(
    "semdedup_verdicts",
    survey=("A11", "J6"),
    oracle=_IVF_CENT_CTE + f""", assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT v.vec_id, v.embedding, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.embedding', b='cent.cv')} DESC, cent.centroid_id) AS rn
    FROM embeddings v, cent) WHERE rn = 1
), dups AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id > b.vec_id
  WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= 0.35
)
SELECT s.vec_id, s.centroid_id,
       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM assigned s LEFT JOIN dups d ON d.vec_id = s.vec_id
ORDER BY s.vec_id
""",
)
def semdedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-then-dedup semantic
    near-dup removal — clusters bound the quadratic check, verdicts
    join back by id. The embedding-space sibling of MinHash-LSH:
    same capped-block shape, geometric similarity
    (operators/similarity.semdedup)."""
    from bio_lakehouse_spark.operators.similarity import semdedup

    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    out = semdedup(emb, centroids, threshold=0.35)
    return out.select("vec_id", "centroid_id", "is_dup").orderBy("vec_id")


@register(
    "hard_negative_mining",
    survey=("O4", "F9", "J6"),
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id % 25 = 0
), assigned AS (
  SELECT vec_id, embedding, clabel, centroid_id FROM (
    SELECT v.vec_id, v.embedding, v.label AS clabel, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.embedding', b='cent.cv')} DESC,
                      cent.centroid_id) AS rn
    FROM embeddings v, cent
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id % 50 = 0
), probed AS (
  SELECT query_id, qv, qlabel, centroid_id FROM (
    SELECT q.query_id, q.qv, q.qlabel, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_COS.format(a='q.qv', b='cent.cv')} DESC,
                      cent.centroid_id) AS rn
    FROM q, cent
  ) WHERE rn <= 3
), scored AS (
  SELECT p.query_id, a.vec_id AS neg_id,
         {_COS.format(a='p.qv', b='a.embedding')} AS cos_sim
  FROM probed p JOIN assigned a ON a.centroid_id = p.centroid_id
  WHERE a.clabel <> p.qlabel AND a.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neg_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neg_id) AS rank
  FROM scored
)
SELECT query_id, neg_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= 3
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    SimCSE negative sampler): per query, the top-3 most-similar
    vectors whose LABEL differs — maximally confusable negatives.
    Candidates come from the IVF probe (same centroids/nprobe as
    ann_ivf_topk) with the label-mismatch predicate riding the
    candidate equi-join — cost is nprobe/ncells of the old
    corpus×queries broadcast scorer (29 s → ~1 s at sf0.1), and the
    shuffle stays keyed by cell. The oracle replicates the probe
    semantics exactly (deterministic centroid-id tie-breaks), so
    this is hash-gated ANN, not rows-only."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        "vec_id", "embedding", F.col("label").alias("qlabel")
    )
    corpus = emb.select(
        "vec_id", "embedding", F.col("label").alias("clabel")
    )
    out = ivf_topk(
        corpus,
        queries,
        centroids,
        k=3,
        nprobe=3,
        carry_query=("qlabel",),
        carry_corpus=("clabel",),
        predicate=F.col("clabel") != F.col("qlabel"),
    )
    return out.select(
        F.col("query_id"),
        F.col("neighbor_id").alias("neg_id"),
        "rank",
        R6(F.col("cos_sim")).alias("cos_sim"),
    )


# Bounded pair sample shared by the two quantization-fidelity audits.
_PAIRS_CTE = f"""
WITH a AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 40 = 0
), b AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb,
         {_COS.format(a='a.embedding', b='b.embedding')} AS cos_full
  FROM a, b WHERE a.vec_id < b.vec_id
)
"""


def _pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bio_lakehouse_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_full", cosine(F.col("va"), F.col("vb")))
    )


@register(
    "embedding_sign_hamming_audit",
    survey=("F9", "A7"),
    oracle=_PAIRS_CTE
    + """, agreed AS (
  SELECT cos_full,
         list_sum(list_transform(range(1, len(va) + 1),
           i -> CASE WHEN (va[i] >= 0) = (vb[i] >= 0)
                     THEN 1.0 ELSE 0.0 END)) / len(va) AS agreement
  FROM pairs
)
SELECT COUNT(*) AS n_pairs,
       ROUND(CORR(cos_full, agreement), 6) AS corr_cos_agreement,
       ROUND(AVG(agreement), 6) AS avg_agreement,
       ROUND(AVG(ABS((1.0 - ACOS(GREATEST(LEAST(cos_full, 1.0), -1.0))
                      / PI()) - agreement)), 6) AS avg_srp_gap
FROM agreed
""",
)
def embedding_sign_hamming_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) quantization fidelity audit: per sampled pair,
    the fraction of agreeing sign bits vs true cosine — including the
    mean gap from the SRP identity E[agreement] = 1 − θ/π (Charikar
    2002), which is exactly what justifies Hamming-space candidate
    generation over sign-quantized embeddings (32× compression).
    Pure zip_with/aggregate expressions over a bounded broadcast
    pair sample; no UDF."""
    pairs = _pair_frame(spark, sf_dir)
    agree = F.zip_with(
        "va",
        "vb",
        lambda x, y: F.when(
            (x >= 0) == (y >= 0), F.lit(1.0)
        ).otherwise(F.lit(0.0)),
    )
    agreed = pairs.select(
        "cos_full",
        # try_divide (r12 ANSI audit): empty sign vector → size 0.
        F.try_divide(
            F.aggregate(agree, F.lit(0.0), lambda acc, v: acc + v),
            F.size("va"),
        ).alias("agreement"),
    )
    srp = 1.0 - F.acos(
        F.greatest(F.least(F.col("cos_full"), F.lit(1.0)), F.lit(-1.0))
    ) / F.lit(3.141592653589793)
    return agreed.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        # safe_corr (r12 ANSI audit): all-identical pairs make
        # agreement constant → F.corr raises under ANSI.
        R6(safe_corr("cos_full", "agreement")).alias("corr_cos_agreement"),
        R6(F.avg("agreement")).alias("avg_agreement"),
        R6(F.avg(F.abs(srp - F.col("agreement")))).alias("avg_srp_gap"),
    )


@register(
    "embedding_truncation_fidelity",
    survey=("F9", "A7"),
    oracle=_PAIRS_CTE
    + f""", trunc AS (
  SELECT cos_full,
         {_COS.format(a='va[1:16]', b='vb[1:16]')} AS cos_16
  FROM pairs
)
SELECT COUNT(*) AS n_pairs,
       ROUND(CORR(cos_full, cos_16), 6) AS corr_full_trunc,
       ROUND(AVG(ABS(cos_full - cos_16)), 6) AS mae,
       ROUND(AVG(cos_full), 6) AS avg_cos_full
FROM trunc
""",
)
def embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit (Kusupati et al. 2022): how
    much similarity structure survives keeping only the first 16 of
    64 dims (4× cheaper scoring) — Pearson between full and truncated
    cosines plus MAE, on the same bounded pair sample as the sign
    audit. The measurement that licenses prefix-truncated prefilters
    in a two-stage retrieval cascade (pq_rerank_topk shape)."""
    from bio_lakehouse_spark.operators.similarity import cosine

    pairs = _pair_frame(spark, sf_dir)
    trunc = pairs.select(
        "cos_full",
        cosine(
            F.slice(F.col("va"), 1, 16), F.slice(F.col("vb"), 1, 16)
        ).alias("cos_16"),
    )
    return trunc.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        # safe_corr (r12 ANSI audit): constant truncated-cosine
        # column (duplicate-heavy pair sample) → F.corr raises.
        R6(safe_corr("cos_full", "cos_16")).alias("corr_full_trunc"),
        R6(F.avg(F.abs(F.col("cos_full") - F.col("cos_16")))).alias("mae"),
        R6(F.avg("cos_full")).alias("avg_cos_full"),
    )


@register(
    "embedding_drift_psi",
    survey=("P10", "A6"),
    oracle=_IVF_CENT_CTE + f""", split AS (
  SELECT vec_id, embedding,
         CASE WHEN (CAST(concat('0x', substr(md5(concat('edrift:',
                    CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT)
                    / 1152921504606846976.0) < 0.5
              THEN 'ref' ELSE 'cur' END AS half
  FROM embeddings
), assigned AS (
  SELECT vec_id, half, centroid_id FROM (
    SELECT v.vec_id, v.half, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.embedding', b='cent.cv')} DESC, cent.centroid_id) AS rn
    FROM split v, cent) WHERE rn = 1
), counts AS (
  SELECT c.centroid_id,
         CAST(COALESCE(SUM(CASE WHEN a.half = 'ref' THEN 1 END), 0)
              AS BIGINT) AS n_ref,
         CAST(COALESCE(SUM(CASE WHEN a.half = 'cur' THEN 1 END), 0)
              AS BIGINT) AS n_cur
  FROM cent c LEFT JOIN assigned a USING (centroid_id)
  GROUP BY c.centroid_id
), tot AS (
  SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc, COUNT(*) AS k FROM counts
), shares AS (
  SELECT c.centroid_id, c.n_ref, c.n_cur,
         (c.n_ref + 1.0) / (t.tr + t.k) AS p_ref,
         (c.n_cur + 1.0) / (t.tc + t.k) AS p_cur
  FROM counts c CROSS JOIN tot t
)
SELECT centroid_id, n_ref, n_cur,
       ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
       ROUND((p_cur - p_ref) * LN(p_cur / p_ref), 6) AS psi_term
FROM shares ORDER BY centroid_id
""",
)
def embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: Population Stability Index over
    IVF cell occupancy between a reference and a current split
    (hash-determined here; in production, yesterday's corpus vs
    today's). Laplace-smoothed shares keep empty cells finite. This
    is the scalar-PSI drift idea (psi_drift_monitor) lifted into
    embedding space — the check that tells you the ANN index's cell
    balance (and any model consuming the embeddings) is seeing a
    shifted distribution. Cost: one assign pass + a |cells| frame.
    """
    from bio_lakehouse_spark.operators.sampling import hash_unit
    from bio_lakehouse_spark.operators.similarity import assign_cells

    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    half = F.when(
        hash_unit(F.col("vec_id"), salt="edrift:") < 0.5, "ref"
    ).otherwise("cur")
    assigned = assign_cells(
        emb.withColumn("half", half), centroids
    ).join(
        emb.select("vec_id", half.alias("half")), "vec_id"
    )
    counts = (
        centroids.select("centroid_id")
        .join(assigned, "centroid_id", "left")
        .groupBy("centroid_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("half") == "ref", 1)), F.lit(0)
            ).alias("n_ref"),
            F.coalesce(
                F.sum(F.when(F.col("half") == "cur", 1)), F.lit(0)
            ).alias("n_cur"),
        )
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    shares = counts.select(
        "centroid_id",
        "n_ref",
        "n_cur",
        (
            (F.col("n_ref") + 1.0)
            / (F.sum("n_ref").over(wall) + F.count(F.lit(1)).over(wall))
        ).alias("p_ref"),
        (
            (F.col("n_cur") + 1.0)
            / (F.sum("n_cur").over(wall) + F.count(F.lit(1)).over(wall))
        ).alias("p_cur"),
    )
    return shares.select(
        "centroid_id",
        "n_ref",
        "n_cur",
        R6(F.col("p_ref")).alias("p_ref"),
        R6(F.col("p_cur")).alias("p_cur"),
        R6(
            (F.col("p_cur") - F.col("p_ref"))
            * F.log(F.col("p_cur") / F.col("p_ref"))
        ).alias("psi_term"),
    ).orderBy("centroid_id")


@register(
    "d4_prototype_prune",
    survey=("A11", "W9", "J6"),
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id % 25 = 0
), assigned AS (
  SELECT vec_id, centroid_id, cos AS proto_sim FROM (
    SELECT v.vec_id, cent.centroid_id,
           {_COS.format(a='v.embedding', b='cent.cv')} AS cos,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {_COS.format(a='v.embedding', b='cent.cv')} DESC,
                      cent.centroid_id) AS rn
    FROM embeddings v, cent) WHERE rn = 1
), ranked AS (
  SELECT vec_id, centroid_id, proto_sim,
         ROW_NUMBER() OVER (PARTITION BY centroid_id
           ORDER BY proto_sim DESC, vec_id) AS proto_rank,
         COUNT(*) OVER (PARTITION BY centroid_id) AS cell_size
  FROM assigned
)
SELECT vec_id, centroid_id, ROUND(proto_sim, 6) AS proto_sim,
       CAST(proto_rank AS BIGINT) AS proto_rank,
       CAST(cell_size AS BIGINT) AS cell_size,
       proto_rank <= CAST(CEIL(0.2 * cell_size) AS BIGINT) AS is_pruned
FROM ranked ORDER BY vec_id
""",
)
def d4_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4's SSL-prototypes half (Tirumala et al. 2023): per centroid
    cell, the 20% most prototypical vectors (highest cosine to their
    centroid — least marginal information) are marked pruned.
    Complements semdedup_verdicts (near-copies) — together they are
    the full D4 curation pass. Cell-partitioned windows only;
    centroid assignment is the broadcast map-side argmax
    (operators/similarity.prototype_prune)."""
    from bio_lakehouse_spark.operators.similarity import prototype_prune

    emb = load(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(emb)
    out = prototype_prune(emb, centroids, prune_frac=0.2)
    return out.select(
        "vec_id",
        "centroid_id",
        R6(F.col("proto_sim")).alias("proto_sim"),
        F.col("proto_rank").cast("long"),
        F.col("cell_size").cast("long"),
        "is_pruned",
    ).orderBy("vec_id")


@register(
    "retrieval_eval_ndcg",
    survey=("O4", "W9", "F9"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS q_label
  FROM embeddings WHERE vec_id % 50 = 0
), scored AS (
  SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id,
         c.label AS n_label,
         {_COS.format(a='q.qv', b='c.embedding')} AS cos_sim
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, q_label, n_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
), per_q AS (
  SELECT query_id, q_label,
         SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS hits,
         SUM(CASE WHEN n_label = q_label
                  THEN 1.0 / log2(rank + 1) ELSE 0 END) AS dcg,
         MIN(CASE WHEN n_label = q_label THEN rank END) AS first_rel
  FROM ranked WHERE rank <= 10 GROUP BY 1, 2
), pool AS (
  SELECT label, COUNT(*) - 1 AS n_rel FROM embeddings GROUP BY 1
)
SELECT p.query_id, CAST(p.hits AS BIGINT) AS n_rel_at_k,
       ROUND(p.hits / 10.0, 6) AS precision_at_10,
       ROUND(COALESCE(1.0 / p.first_rel, 0.0), 6) AS mrr_at_10,
       ROUND(p.dcg / (SELECT SUM(1.0 / log2(i + 1))
                      FROM unnest(generate_series(1,
                        CAST(LEAST(10, pool.n_rel) AS BIGINT))) AS t(i)),
             6) AS ndcg_at_10
FROM per_q p JOIN pool ON pool.label = p.q_label
""",
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR-metric evaluation of the dense retriever: NDCG@10, MRR@10,
    precision@10 per query (queries = every 50th vector; graded
    relevance = label match — the standard proxy-relevance eval for
    embedding quality regressions in a retrieval pipeline). Rankings
    come from the exact broadcast cosine scorer; relevance joins are
    keyed on neighbor id against the |queries|·k top-k frame; the
    ideal-DCG normalizer folds a closed-form sequence HOF over
    min(k, |same-label pool| − 1), with the pool table broadcast.
    Nothing after the scorer touches the corpus again."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    topk = cosine_topk(emb, queries, k=10)
    qlab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
    )
    t = topk.join(F.broadcast(qlab), "query_id").join(
        F.broadcast(nlab), "neighbor_id"
    )
    rel = (F.col("n_label") == F.col("q_label")).cast("int")
    per_q = t.groupBy("query_id", "q_label").agg(
        F.sum(rel).alias("hits"),
        F.sum(
            rel.cast("double") / F.log2(F.col("rank") + F.lit(1.0))
        ).alias("dcg"),
        F.min(F.when(rel == 1, F.col("rank"))).alias("first_rel"),
    )
    pool = emb.groupBy(F.col("label").alias("q_label")).agg(
        (F.count(F.lit(1)) - 1).alias("n_rel")
    )
    m = F.least(F.lit(10), F.col("n_rel"))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
    )
    return (
        per_q.join(F.broadcast(pool), "q_label")
        .select(
            "query_id",
            F.col("hits").cast("long").alias("n_rel_at_k"),
            R6(F.col("hits") / 10.0).alias("precision_at_10"),
            R6(
                F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0))
            ).alias("mrr_at_10"),
            # Lazy when-guard (r12 ANSI audit): a SINGLETON label
            # gives n_rel=0, and sequence(1, 0) infers step -1 →
            # [1, 0] — the i=0 term divides by log2(1)=0 and aborts
            # the job. nDCG over an empty ideal ranking is undefined
            # → NULL (the when's otherwise), evaluated lazily so the
            # bad sequence never runs.
            R6(
                F.try_divide(
                    F.col("dcg"),
                    F.when(F.col("n_rel") >= 1, idcg),
                )
            ).alias("ndcg_at_10"),
        )
    )


def _jl_signs(k: int = 16, d: int = 64) -> list[list[int]]:
    """Deterministic Rademacher (±1) projection matrix — a seeded
    xorshift-free LCG so the SAME literals are inlined into the Spark
    expression and the DuckDB oracle (no engine hash functions, whose
    implementations differ)."""
    state = 0x2545F491
    rows = []
    for _ in range(k):
        row = []
        for _ in range(d):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(1 if state & 1 else -1)
        rows.append(row)
    return rows


_JL_K, _JL_D = 16, 64
_JL_ROWS = _jl_signs(_JL_K, _JL_D)
# 1/sqrt(k) scaling: k=16 → exact /4.0 in both engines.
_JL_SPARK_MAT = "array(" + ", ".join(
    "array(" + ", ".join(f"{s}.0D" for s in row) + ")" for row in _JL_ROWS
) + ")"
_JL_DUCK_MAT = "[" + ", ".join(
    "[" + ", ".join(f"{s}.0" for s in row) + "]" for row in _JL_ROWS
) + "]"


@register(
    "random_projection_jl_audit",
    survey=("F9", "ST6"),
    oracle=f"""
WITH proj AS (
  SELECT vec_id,
         embedding,
         list_transform({_JL_DUCK_MAT}, r ->
           list_sum(list_transform(range(1, {_JL_D} + 1),
             i -> embedding[i]::DOUBLE * r[i])) / 4.0) AS p
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, {_JL_D} + 1), i ->
           (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)
           * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)))
           AS orig_d2,
         list_sum(list_transform(range(1, {_JL_K} + 1), j ->
           (a.p[j] - b.p[j]) * (a.p[j] - b.p[j]))) AS proj_d2
  FROM proj a JOIN proj b ON a.vec_id + 1 = b.vec_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(proj_d2 / orig_d2), 6) AS avg_ratio,
       ROUND(MIN(proj_d2 / orig_d2), 6) AS min_ratio,
       ROUND(MAX(proj_d2 / orig_d2), 6) AS max_ratio,
       CAST(SUM(CASE WHEN proj_d2 / orig_d2 BETWEEN 0.5 AND 1.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_half
FROM pairs WHERE orig_d2 > 0
""",
)
def random_projection_jl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection audit: project the
    64-dim embeddings to 16 dims with a fixed Rademacher ±1 matrix
    (Achlioptas'03 — the database-friendly JL construction) and
    measure pairwise squared-distance distortion on the consecutive-id
    pair set. Everything is JVM higher-order functions on the scan —
    transform/zip_with/aggregate folds, no Python, no shuffle except
    the bounded consecutive-pair equi-join — and the projection
    matrix literals are shared verbatim with the oracle. The scale
    story: this is the cheap dimensionality step in front of the IVF/
    PQ family (project once at ingest; distance work drops 4×), and
    the audit certifies the distortion the JL lemma promises."""
    emb = load(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id",
        "embedding",
        F.expr(
            f"transform({_JL_SPARK_MAT}, r -> "
            "aggregate(zip_with(embedding, r,"
            " (x, s) -> cast(x as double) * s),"
            " cast(0.0 as double), (a, v) -> a + v) / 4.0)"
        ).alias("p"),
    )
    a, b = proj.alias("a"), proj.alias("b")
    d2 = (
        "aggregate(zip_with(a.embedding, b.embedding, (x, y) ->"
        " (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    p2 = (
        "aggregate(zip_with(a.p, b.p, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    pairs = a.join(
        b, F.col("a.vec_id") + 1 == F.col("b.vec_id")
    ).select(
        F.expr(d2).alias("orig_d2"), F.expr(p2).alias("proj_d2")
    )
    r = F.col("proj_d2") / F.col("orig_d2")
    return pairs.where(F.col("orig_d2") > 0).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        R6(F.avg(r)).alias("avg_ratio"),
        R6(F.min(r)).alias("min_ratio"),
        R6(F.max(r)).alias("max_ratio"),
        F.sum(
            F.when((r >= 0.5) & (r <= 1.5), 1).otherwise(0)
        ).cast("long").alias("n_within_half"),
    )


@register(
    "silhouette_label_clusters",
    survey=("ST14", "F9"),
    oracle="""
WITH longf AS (
  SELECT label, i, embedding[i]::DOUBLE AS x
  FROM embeddings, range(1, 65) r(i)
), cent AS (
  SELECT label, i, AVG(x) AS c FROM longf GROUP BY label, i
), cent_arr AS (
  SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label
), dists AS (
  SELECT e.vec_id, e.label AS plabel, ca.label AS clabel,
         list_sum(list_transform(range(1, 65), i ->
           (e.embedding[i]::DOUBLE - ca.cv[i])
           * (e.embedding[i]::DOUBLE - ca.cv[i]))) AS d2
  FROM embeddings e, cent_arr ca
), ab AS (
  SELECT vec_id, plabel,
         MIN(CASE WHEN clabel = plabel THEN d2 END) AS a,
         MIN(CASE WHEN clabel <> plabel THEN d2 END) AS b
  FROM dists GROUP BY 1, 2
), sil AS (
  SELECT plabel AS label,
         CASE WHEN GREATEST(a, b) > 0.0 THEN (b - a) / GREATEST(a, b)
              ELSE 0.0 END AS s
  FROM ab
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(s), 6) AS avg_silhouette
FROM sil GROUP BY label ORDER BY label
""",
)
def silhouette_label_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the embedding corpus
    grouped by its label column — the clustering-quality audit next
    to kmeans_assign_audit. Centroids via ONE posexplode +
    groupBy(label, dim) (shuffle bounded by k×d), packed into a
    single broadcast row; per point, distance-to-every-centroid, own
    (a) and nearest-other (b) cluster distances, and
    s=(b−a)/max(a,b) are all ROW-LOCAL higher-order functions — the
    kmeans packed-centroid idiom, zero corpus shuffle — then one tiny
    per-label aggregate. Hollander's full silhouette needs all
    pairwise distances (quadratic); the centroid form is the
    standard scale substitute."""
    emb = load(spark, sf_dir, "embeddings")
    longf = emb.select(
        "label", F.posexplode("embedding").alias("i", "x")
    )
    cent = longf.groupBy("label", "i").agg(
        F.avg(F.col("x").cast("double")).alias("c")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    packed = F.broadcast(
        cent_arr.agg(
            F.sort_array(
                F.collect_list(F.struct("label", "cv"))
            ).alias("cents")
        )
    )
    pt = emb.crossJoin(packed)
    dists = (
        "transform(cents, c -> struct("
        "aggregate(zip_with(embedding, c.cv, (x, y) ->"
        " (cast(x as double) - y) * (cast(x as double) - y)),"
        " cast(0.0 as double), (acc, v) -> acc + v) as d2,"
        " c.label as clabel))"
    )
    sil = pt.select(
        "label",
        # get(), not [0] (r13 all-NULL sweep): a NULL-label point
        # matches NO centroid (NULL = NULL filters to empty) and the
        # 0-index used to abort with INVALID_ARRAY_INDEX — get()
        # yields a NULL struct → NULL a → NULL silhouette, skipped
        # by the per-label average.
        F.expr(
            f"get(filter({dists}, d -> d.clabel = label), 0).d2"
        ).alias("a"),
        F.expr(
            f"array_min(transform(filter({dists},"
            " d -> d.clabel != label), d -> d.d2))"
        ).alias("b"),
    ).select(
        "label",
        F.when(
            F.greatest("a", "b") > 0.0,
            (F.col("b") - F.col("a")) / F.greatest("a", "b"),
        )
        .otherwise(0.0)
        .alias("s"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R6(F.avg("s")).alias("avg_silhouette"),
        )
        .orderBy("label")
    )


@register(
    "knn_label_accuracy",
    survey=("O4", "ST14"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv, label AS tl
  FROM embeddings WHERE vec_id % 5 = 0
), scored AS (
  SELECT q.qid, q.tl, c.label AS pl,
         ROW_NUMBER() OVER (PARTITION BY q.qid
           ORDER BY {_COS.format(a='q.qv', b='c.embedding')} DESC,
                    c.vec_id) AS rn
  FROM embeddings c, q
  WHERE c.vec_id <> q.qid
)
SELECT tl AS label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN pl = tl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(SUM(CASE WHEN pl = tl THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS accuracy
FROM scored WHERE rn = 1 GROUP BY tl ORDER BY tl
""",
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label accuracy over a deterministic 20%
    probe sample (vec_id % 5): the embedding-space sanity check a
    training pipeline runs before trusting vectors for curation —
    if nearest neighbors don't share labels, neither SemDeDup nor
    hard-negative mining can. Reuses the broadcast-query cosine
    scorer (same plan family as ann_cosine_topk; the IVF-probed
    variant is the drop-in at full corpus width), then one tiny
    label join + per-label aggregate."""
    emb = load(spark, sf_dir, "embeddings")
    labels = emb.select(
        F.col("vec_id").alias("nid"), F.col("label").alias("pl")
    )
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    nn = cosine_topk(emb, queries, k=1).where(F.col("rank") == 1)
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("tl")
    )
    j = nn.join(F.broadcast(truth), "query_id").join(
        F.broadcast(labels), nn["neighbor_id"] == labels["nid"]
    )
    hit = F.when(F.col("pl") == F.col("tl"), 1).otherwise(0)
    return (
        j.groupBy(F.col("tl").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(hit).cast("long").alias("n_correct"),
            R6(F.sum(hit) * 1.0 / F.count(F.lit(1))).alias("accuracy"),
        )
        .orderBy("label")
    )


def _pca_oracle(iters: int = 3, d: int = 64) -> str:
    """Unrolled-SQL twin of the covariance power iteration: per-dim
    means, (i, j) covariance entries from one grouped sum, then
    ``iters`` matrix-vector products with L2 normalization — each a
    CTE pair over the d²-bounded frame."""
    sql = f"""
WITH m AS (
  SELECT i, AVG(embedding[i + 1]::DOUBLE) AS mv
  FROM embeddings, range(0, {d}) r(i) GROUP BY i
), n AS (
  SELECT COUNT(*) * 1.0 AS n FROM embeddings
), cov AS (
  SELECT a.i AS i, b.i AS j,
         SUM((e.embedding[a.i + 1]::DOUBLE - a.mv)
             * (e.embedding[b.i + 1]::DOUBLE - b.mv)) / n.n AS c
  FROM embeddings e, m a, m b, n
  GROUP BY a.i, b.i, n.n
), v0 AS (
  SELECT i, 0.125 AS val FROM range(0, {d}) r(i)
)"""
    prev = "v0"
    for k in range(1, iters + 1):
        sql += f""", u{k} AS (
  SELECT cov.i AS i, SUM(cov.c * v.val) AS uv
  FROM cov JOIN {prev} v ON v.i = cov.j GROUP BY cov.i
), z{k} AS (SELECT SQRT(SUM(uv * uv)) AS z FROM u{k}),
v{k} AS (SELECT i, uv / z AS val FROM u{k}, z{k})"""
        prev = f"v{k}"
    sql += f"""
SELECT i AS dim, ROUND(val, 6) AS loading,
       ROUND((SELECT z FROM z{iters}), 6) AS eigenvalue
FROM v{iters} ORDER BY i
"""
    return sql


@register(
    "pca_power_iteration_audit",
    survey=("ST14", "F9"),
    oracle=_pca_oracle(3),
)
def pca_power_iteration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the 64-dim embedding covariance by
    3 power iterations — distributed numerical linear algebra in the
    shape that scales: the covariance build is ONE flattened
    outer-product explode + groupBy(i, j) whose map-side combine
    reduces every task to ≤ d² partial sums (the shuffle is
    d²-bounded no matter the corpus), the per-dim mean vector rides
    in as a broadcast one-row array, and each iteration is a keyed
    (d²) ⋈ (d) join + a one-row L2 norm — never touching the corpus
    again. The eigenvalue is ‖Cv‖ at the last step. Deterministic
    uniform init (each engine runs the SAME 3 truncated steps, so
    the oracle match is exact regardless of spectral gap). The
    embedding-audit family's variance lens next to the JL distortion
    and int8/truncation audits."""
    emb = load(spark, sf_dir, "embeddings")
    d = 64
    longf = emb.select(F.posexplode("embedding").alias("i", "x"))
    mrow = F.broadcast(
        longf.groupBy("i")
        .agg(F.avg(F.col("x").cast("double")).alias("mv"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "mv"))),
                lambda s: s["mv"],
            ).alias("mean_arr")
        )
    )
    n_row = F.broadcast(
        emb.agg((F.count(F.lit(1)) * 1.0).alias("n"))
    )
    # single-split fixture → the 2080-structs-per-row explode below
    # would run as ONE task; spread to session parallelism first
    # (no-op on a multi-split production input)
    centered = spread(emb, "vec_id", barrier=True).crossJoin(mrow).select(
        F.expr(
            "zip_with(embedding, mean_arr,"
            " (x, m) -> cast(x as double) - m)"
        ).alias("cvec")
    )
    # Upper triangle only (r8, after the tail sweep flagged 6 s at
    # sf0.1): the outer-product explode was the whole cost — d² = 4096
    # structs per row; symmetry halves it to d(d+1)/2 = 2080 and the
    # mirror happens AFTER aggregation on the d²-bounded frame.
    prods = centered.select(
        F.explode(
            F.expr(
                "flatten(transform(cvec, (xi, i) ->"
                " transform(slice(cvec, i + 1, size(cvec) - i),"
                " (xj, dj) ->"
                " struct(i as i, i + dj as j, xi * xj as p))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.p")
    tri = (
        prods.groupBy("i", "j")
        .agg(F.sum("p").alias("ps"))
        .crossJoin(n_row)
        .select("i", "j", (F.col("ps") / F.col("n")).alias("c"))
    )
    cov = tri.unionByName(
        tri.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    )
    # All 3 power iterations as HOF expressions over ONE row holding
    # the packed row-major covariance (d² doubles) — the one-row
    # parameter-frame pattern (Cox/GMM/logistic). One tiny
    # checkpointed job per step: the checkpoint is load-bearing, NOT
    # just plan hygiene — without it project-collapse inlines step
    # k−1's vector into step k's per-element lambdas and the
    # interpreted cost multiplies by d per step (measured: >300 s for
    # the fully-nested 3-step expression vs milliseconds stepped).
    cmat_row = cov.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "j", "c"))),
            lambda s: s["c"],
        ).alias("cmat")
    )
    dims = f"sequence(0, {d - 1})"
    row = cmat_row.select(
        "cmat", F.expr(f"transform({dims}, i -> 0.125d)").alias("v")
    ).localCheckpoint()
    # Named empty-source contract (VERDICT r12 #6): an empty
    # embeddings table collapses the covariance collect_list to [],
    # and cmat[i*d+j] used to die with a raw INVALID_ARRAY_INDEX.
    # The frame is one already-checkpointed row, so the probe costs
    # one local read.
    from bio_lakehouse_spark.suite.registry import require_artifact

    probe = row.select(F.size("cmat").alias("s")).first()
    require_artifact(
        probe is not None and probe["s"] > 0,
        "pca_power_iteration_audit", "embeddings", "covariance entries",
    )
    mat_u = (
        f"transform({dims}, i -> aggregate({dims}, 0d,"
        f" (acc, j) -> acc + cmat[i * {d} + j] * v[j]))"
    )
    z_of_u = "sqrt(aggregate(u, 0d, (acc, x) -> acc + x * x))"
    for _ in range(3):
        row = (
            row.select("cmat", F.expr(mat_u).alias("u"))
            .select(
                "cmat",
                # try_divide (r12 ANSI audit): an all-identical
                # corpus zeroes the covariance, so u = 0 and its norm
                # z = 0 — the leading eigenvector is undefined → NULL
                # loadings, not a job abort.
                F.expr(
                    f"transform(u, x -> try_divide(x, {z_of_u}))"
                ).alias("v"),
                F.expr(z_of_u).alias("z"),
            )
            .localCheckpoint()
        )
    return row.select(
        F.posexplode("v").alias("dim", "loading"), "z"
    ).select(
        "dim",
        R6(F.col("loading")).alias("loading"),
        R6(F.col("z")).alias("eigenvalue"),
    ).orderBy("dim")
