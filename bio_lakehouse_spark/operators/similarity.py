"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Broadcast the (small) query set against the corpus: one scan, no
  shuffle of the corpus, per-partition top-k then global merge.
- ``embedding_neardup_pairs``: blocked pairwise near-dup scan.
- ``ivf_topk``: the scale path — coarse quantization (IVF): assign
  every vector to its nearest centroid (broadcast centroids), probe
  only the ``nprobe`` nearest cells per query. Search cost drops from
  O(N) to O(N · nprobe / ncells) per query; the cell assignment is a
  deterministic argmax so an external oracle can replicate it exactly.

Dot products use fold-left double arithmetic (zip_with + aggregate) —
built-in higher-order functions, JVM-side, no UDF — in a FIXED
left-to-right order so the DuckDB oracle reproduces scores bit-for-bit
(ranking ties would otherwise flip neighbors between engines).

Norms are precomputed once per VECTOR in a projection before any
join: higher-order lambdas are interpreted (no CSE), so a norm left
inline in the pair expression is re-evaluated once per PAIR — at 5k
vectors that's 12.5M redundant 64-element folds. Same value, same
formula (dot / (norm_a · norm_b)), ~3× less interpreted work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.skew import spread


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision via zip_with + left-fold."""
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
    """Per-pair cosine (norms inline — prefer the precomputed-norm
    call sites below for anything joined).

    try_divide (r12 degenerate sweep): an ALL-ZERO embedding has zero
    norm — cosine is undefined → NULL (ranks last under desc), where
    the raw division aborted the whole job under ANSI. One zero
    vector in a 100 TB corpus is a certainty, and this helper sits
    under a dozen ANN/dedup/eval operators."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (brute force baseline).

    The query side is broadcast with its norms precomputed; corpus
    norms are computed once per corpus row in the scan projection.
    Ranking is a window partitioned by query id with a deterministic
    (cosine desc, neighbor id) order.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # try_divide (r12 degenerate sweep): zero-norm vector
            # → cosine undefined → NULL, ranks last — never aborts.
            F.try_divide(
                dot(F.col("q_vec"), F.col("c_vec")),
                F.col("q_norm") * F.col("c_norm"),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.35,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, blocked to bound
    the quadratic join (at scale: replace the block with LSH buckets —
    same join shape, hashed key)."""
    cols = [
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("vnorm"),
    ]
    if block_col:
        cols.append(F.col(block_col).alias("block"))
    v = spread(df, id_col).select(*cols)
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a.vid") < F.col("b.vid")
    if block_col:
        cond = cond & (F.col("a.block") == F.col("b.block"))
    # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
    sim = F.try_divide(
        dot(F.col("a.vec"), F.col("b.vec")),
        F.col("a.vnorm") * F.col("b.vnorm"),
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (argmax with
    deterministic centroid-id tie-break). Centroids broadcast; the
    corpus streams through once with its norm computed in the scan
    projection.

    The argmax is ``max_by`` over a (sim, -centroid_id) ordering
    struct, NOT a row_number window: the corpus×centroid rows come
    out of the broadcast join clustered by corpus row, so map-side
    partial aggregation collapses them to ONE row per vector before
    the exchange — the shuffle carries |corpus| rows, where a window
    would shuffle and sort |corpus|·|centroids|. Same assignment,
    verified identical (ties: equal sims pick the smaller id in both
    forms)."""
    cent = centroids.select(
        F.col(centroid_id),
        F.col(vec_col).alias("cent_vec"),
        norm(F.col(vec_col)).alias("cent_norm"),
    )
    scored = spread(corpus, id_col).withColumn(
        "_vnorm", norm(F.col(vec_col))
    ).crossJoin(
        F.broadcast(cent)
    ).select(
        F.col(id_col),
        vec_col,
        *carry,
        centroid_id,
        # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
        F.try_divide(
            dot(F.col(vec_col), F.col("cent_vec")),
            F.col("_vnorm") * F.col("cent_norm"),
        ).alias("cent_sim"),
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(centroid_id, vec_col, *carry),
            F.struct(F.col("cent_sim"), -F.col(centroid_id)),
        ).alias("_m")
    )
    return best.select(
        id_col,
        F.col(f"_m.{vec_col}").alias(vec_col),
        *[F.col(f"_m.{c}").alias(c) for c in carry],
        F.col(f"_m.{centroid_id}").alias(centroid_id),
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index: the assigned corpus written as parquet
    PARTITIONED BY centroid_id, plus the centroid table under
    ``<path>/_centroids``. Serving then never scans the corpus — a
    query probing ``nprobe`` cells reads exactly those partition
    directories (Hive partition pruning at the file-listing level,
    before any footer is opened). This is the production ANN layout:
    index build is one pass (assign + shuffle on cell), search cost is
    nprobe/ncells of the data regardless of corpus size."""
    assigned = assign_cells(corpus, centroids, id_col, vec_col)
    (
        assigned.repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/cells")
    )
    centroids.select("centroid_id", vec_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/_centroids")


def append_ivf_index(
    spark,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental IVF index maintenance: assign a NEW batch against
    the index's EXISTING centroid table and append into the
    partitioned cells layout — the probe path (``ivf_topk_indexed``)
    picks the rows up on its next listing with ZERO rebuild, because
    partition directories just gain files. Cost is one pass over the
    batch (assign + shuffle on cell), never the indexed corpus — the
    same incremental contract as ``dedup_incremental_minhash``.

    Returns drift stats for the recluster decision: per-append cell
    histogram max share and the global max share after the append. A
    hot cell (share ≫ 1/ncells) means the frozen centroids no longer
    describe the data — time to retrain + rebuild (centroid drift is
    the known failure mode of append-only IVF; the index stays
    CORRECT meanwhile, just slower on hot cells)."""
    cent = spark.read.parquet(f"{index_path}/_centroids")
    assigned = assign_cells(new_vectors, cent, id_col, vec_col)
    (
        assigned.repartition(F.col("centroid_id"))
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{index_path}/cells")
    )
    n_cells = cent.count()
    sizes = (
        spark.read.parquet(f"{index_path}/cells")
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("total"),
            F.max("n").alias("biggest"),
        )
        .collect()[0]
    )
    batch_n = assigned.count()
    return {
        "appended": batch_n,
        "n_cells": n_cells,
        "index_rows": int(sizes["total"]),
        "max_cell_share": float(sizes["biggest"] / sizes["total"]),
        "balanced_share": 1.0 / max(n_cells, 1),
    }


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """Serve ANN top-k from a persisted IVF index (see
    ``build_ivf_index``): probe cells are decided from the (tiny)
    centroid table, then the cell scan carries an ``isin`` partition
    filter, so only nprobe of ncells partition DIRECTORIES are listed
    and read — `.explain` shows the pruned ``PartitionFilters``. The
    probed-cell ids are collected from the centroid table (k·nprobe
    rows — a driver-side constant, not corpus data)."""
    cent = spark.read.parquet(f"{index_path}/_centroids").select(
        "centroid_id",
        F.col(vec_col).alias("cent_vec"),
        norm(F.col(vec_col)).alias("cent_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    q_cells = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "q_vec", "q_norm", "centroid_id",
        # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
        F.try_divide(
            dot(F.col("q_vec"), F.col("cent_vec")),
            F.col("q_norm") * F.col("cent_norm"),
        ).alias("cent_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim"), F.asc("centroid_id")
    )
    probed = (
        q_cells.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", "centroid_id")
    )
    # The probe set is tiny (|queries|·nprobe cell ids); collecting the
    # DISTINCT cell ids lets the cell scan prune partitions at file
    # listing — a join predicate would not push below the scan.
    cells = [
        r["centroid_id"]
        for r in probed.select("centroid_id").distinct().collect()
    ]
    cell_scan = spark.read.parquet(f"{index_path}/cells")
    if dict(cell_scan.dtypes).get("centroid_id") == "string":
        # partitionColumnTypeInference off (session default) leaves
        # partition values as strings: filter on the string form so
        # the predicate prunes at file listing, THEN restore the type.
        corpus_cells = cell_scan.filter(
            F.col("centroid_id").isin([str(c) for c in cells])
        ).withColumn("centroid_id", F.col("centroid_id").cast("int"))
    else:
        corpus_cells = cell_scan.filter(F.col("centroid_id").isin(cells))
    cand = probed.join(
        corpus_cells.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_norm"),
            "centroid_id",
        ),
        on="centroid_id",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", "neighbor_id",
        # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
        F.try_divide(
            dot(F.col("q_vec"), F.col("c_vec")),
            F.col("q_norm") * F.col("c_norm"),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 3,
    carry_query: tuple[str, ...] = (),
    carry_corpus: tuple[str, ...] = (),
    predicate=None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest cells per
    query, exact cosine rank within the probed cells. The
    candidate join is an equi-join on centroid_id — shuffle keyed by
    cell, never a full cross join.

    ``carry_query`` / ``carry_corpus`` name extra columns (already
    distinctly named on each side) to ride along to the candidate
    join, where ``predicate`` (a Column over them) filters candidates
    BEFORE scoring — e.g. hard-negative mining's label-mismatch
    filter runs inside the probed cells, not over the corpus."""
    assigned = assign_cells(
        corpus, centroids, id_col, vec_col, carry=carry_corpus
    )
    cent = centroids.select(
        "centroid_id",
        F.col(vec_col).alias("cent_vec"),
        norm(F.col(vec_col)).alias("cent_norm"),
    )
    q_cells = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("q_norm"),
            *carry_query,
        )
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "q_vec",
            "q_norm",
            *carry_query,
            "centroid_id",
            # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
            F.try_divide(
                dot(F.col("q_vec"), F.col("cent_vec")),
                F.col("q_norm") * F.col("cent_norm"),
            ).alias("cent_sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim"), F.asc("centroid_id")
    )
    probed = (
        q_cells.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", *carry_query, "centroid_id")
    )
    cand = probed.join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_norm"),
            *carry_corpus,
            "centroid_id",
        ),
        on="centroid_id",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    if predicate is not None:
        cand = cand.filter(predicate)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
        F.try_divide(
            dot(F.col("q_vec"), F.col("c_vec")),
            F.col("q_norm") * F.col("c_norm"),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's KMeans over an embedding column — the
    iterative-algorithm shape on DataFrames (and the trainer for real
    IVF centroids, replacing the deterministic id-sampled ones).

    Per iteration: centroids broadcast → nearest-centroid assignment
    by squared L2 (argmin via one structured min_by aggregate) →
    per-cluster coordinate means via ONE posexplode + groupBy — two
    shuffles per iteration regardless of corpus size. Initialization
    is deterministic (first k by id), so the result is reproducible.
    Returns (centroid_id, centroid array<double>, n_members).
    """
    v = spread(corpus, id_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    # Deterministic init: first k rows by id. Centroids live as a
    # k-row DataFrame for the whole loop — NEVER as k×dim literals in
    # the plan (at k=1024·dim=512 literal embedding makes a
    # multi-hundred-MB plan and kills codegen) and never collected to
    # the driver between iterations.
    wid = Window.orderBy("vid")
    cents_df = (
        v.orderBy("vid")
        .limit(k)
        .select(
            (F.row_number().over(wid) - 1).alias("cid"),
            F.transform("vec", lambda x: x.cast("double")).alias("cv"),
            F.lit(0).cast("long").alias("n_members"),
        )
        .localCheckpoint()
    )
    for _ in range(n_iters):
        # Pack the k centroids into ONE row and broadcast it onto the
        # corpus: assignment stays a row-local argmin (array_min over
        # (dist, cid) structs — lexicographic min, cid tie-break),
        # zero corpus shuffle.
        packed = F.broadcast(
            cents_df.agg(
                F.sort_array(
                    F.collect_list(F.struct("cid", "cv"))
                ).alias("cents")
            )
        )
        dist_structs = F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("vec"),
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
        assigned = v.crossJoin(packed).select(
            "vid", "vec", F.array_min(dist_structs)["cid"].alias("cid")
        )
        # Per-cluster coordinate means: one posexplode + groupBy.
        # Empty clusters keep their previous centroid (left join +
        # coalesce). The tiny k-row result is localCheckpoint'ed:
        # cuts the per-iteration lineage so the plan doesn't grow
        # exponentially across iterations.
        new = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", (F.col("s") / F.col("n")).alias("m"))
                    )
                ).alias("coords"),
                F.first("n").alias("n_new"),
            )
            .select(
                "cid",
                F.transform("coords", lambda c: c["m"]).alias("cv_new"),
                "n_new",
            )
        )
        cents_df = (
            cents_df.join(new, on="cid", how="left")
            .select(
                "cid",
                F.coalesce("cv_new", "cv").alias("cv"),
                F.coalesce("n_new", F.lit(0)).cast("long").alias(
                    "n_members"
                ),
            )
            .localCheckpoint()
        )
    return cents_df.select(
        F.col("cid").cast("int").alias("centroid_id"),
        F.col("cv").alias("centroid"),
        "n_members",
    ).orderBy("centroid_id")


def ivf_neardup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    threshold: float = 0.35,
    nprobe: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs blocked by IVF cells — the geometric
    scale path for `embedding_neardup_pairs` when no natural blocking
    column exists: candidate pairs are vectors sharing any of their
    ``nprobe`` nearest cells, verified with exact cosine ≥ threshold.

    Multi-probe assignment (each vector lands in its top-``nprobe``
    cells) recovers pairs that straddle a cell boundary — the standard
    IVF recall lever. Join shape at 100 TB: centroids broadcast, one
    keyed self-equi-join on centroid_id (quadratic only within a
    cell), id-distinct candidates, then two keyed joins to fetch
    vectors for verification — no cross join anywhere. SRP-style
    hyperplane LSH is the wrong tool at low thresholds (bit-agreement
    0.61 vs 0.5 background at cos 0.35 — no band scheme separates
    them); data-derived cells do separate cluster structure.
    """
    cent = centroids.select(
        F.col(centroid_id),
        F.col(vec_col).alias("cent_vec"),
        norm(F.col(vec_col)).alias("cent_norm"),
    )
    scored = (
        spread(corpus, id_col)
        .withColumn("_vnorm", norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cent))
        .select(
            F.col(id_col),
            centroid_id,
            # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
            F.try_divide(
                dot(F.col(vec_col), F.col("cent_vec")),
                F.col("_vnorm") * F.col("cent_norm"),
            ).alias("cent_sim"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("cent_sim"), F.asc(centroid_id)
    )
    assigned = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(id_col, centroid_id)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.{centroid_id}") == F.col(f"b.{centroid_id}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
        )
        .distinct()
    )
    emb = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("vnorm"),
    )
    # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
    sim = F.try_divide(
        dot(F.col("va.vec"), F.col("vb.vec")),
        F.col("va.vnorm") * F.col("vb.vnorm"),
    )
    return (
        pairs.join(
            emb.alias("va"), F.col("vec_a") == F.col(f"va.{id_col}")
        )
        .join(emb.alias("vb"), F.col("vec_b") == F.col(f"vb.{id_col}"))
        .select("vec_a", "vec_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Fold-left squared L2 between two double arrays — sequential
    element order, so engines agree bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebook_sampled(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    stride: int = 60,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebook (Jégou et al. TPAMI'11): the
    ``dim``-dim space splits into ``m`` subspaces of dim/m; codewords
    are the sub-vectors of ``k`` deterministic id-sampled corpus
    vectors (the same sampled-seed convention as ann_ivf_topk's
    centroids — swap in kmeans_lloyd per subspace for trained
    codebooks, identical downstream shape). Returns (s, j, cw)."""
    dsub = dim // m
    w = Window.orderBy(id_col)
    samp = (
        corpus.filter(F.col(id_col) % stride == 0)
        .orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("j"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "vec"
            ),
        )
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("vec", s * dsub + 1, dsub).alias("cw"),
            )
            for s in range(m)
        ]
    )
    return samp.select("j", F.explode(subs).alias("c")).select(
        F.col("c.s").alias("s"), "j", F.col("c.cw").alias("cw")
    )


def _packed_codebook(codebook: DataFrame) -> DataFrame:
    """ONE broadcast row with the codebook sorted by (s, j) — index
    s*k + j addresses it; never k·m literals in the plan."""
    return F.broadcast(
        codebook.groupBy().agg(
            F.sort_array(
                F.collect_list(F.struct("s", "j", "cw"))
            ).alias("cb")
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """PQ encoding: per subspace, the argmin-L2 codeword id (tie →
    smaller j). dim·log2(k)·m bits per vector instead of dim·32 — the
    4-16× memory cut that lets a 100 TB embedding corpus serve from
    RAM. Codebook rides as one packed broadcast row; encoding is a
    row-local projection, zero shuffles. Returns (id, codes[m])."""
    dsub = dim // m
    v = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "vec"
        ),
    ).crossJoin(_packed_codebook(codebook))

    def code_for(s: int) -> Column:
        cwords = F.filter(F.col("cb"), lambda c: c["s"] == F.lit(s))
        sub = F.slice("vec", s * dsub + 1, dsub)
        return F.array_min(
            F.transform(
                cwords,
                lambda c: F.struct(
                    _l2sq(sub, c["cw"]).alias("d"), c["j"].alias("j")
                ),
            )
        )["j"]

    return v.select(
        id_col, F.array(*[code_for(s) for s in range(m)]).alias("codes")
    )


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k_results: int = 5,
    m: int = 4,
    k: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes an m·k lookup table of sub-distances to every
    codeword, then scanning a candidate costs m table lookups — no
    float vector is touched during the scan. LUTs are built query-
    side against the packed broadcast codebook and broadcast onto the
    code scan (|Q|·m·k doubles — batch the query set to bound it);
    distance accumulates over subspaces in ascending s (fold order
    fixed → engines agree). Returns (query_id, neighbor_id, rank,
    adc_dist).

    The LUT stride is derived from the LUT itself (size/m), NOT from
    the ``k`` parameter: a codebook holding k' < k codewords per
    subspace (pq_codebook_sampled's limit(k) on a small corpus)
    would otherwise misalign every s >= 1 lookup into the wrong
    subspace's LUT region — silently, since element_at returns NULL
    past the end (r11 edge-hunt). A RAGGED codebook (different
    codeword counts per subspace) is out of contract: positional
    addressing needs the uniform per-subspace layout every builder
    in this module produces."""
    dsub = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "qv"
        ),
    ).crossJoin(_packed_codebook(codebook))
    # k_eff — the actual codewords per subspace (may be < the ``k``
    # parameter, kept only for API compatibility) — is derived ONCE
    # per query row HERE, on the |Q|-bounded frame, together with the
    # ragged-codebook guard: a codebook with size % m != 0 would make
    # the floored stride misalign every s >= 1 lookup (the exact
    # silent-wrong-distance class the size/m derivation fixed), so it
    # fails LOUD (SCALE.md: malformed data → fail loud). Both used to
    # sit inside the scan's per-element lambda, re-evaluated
    # corpus × |Q| × m times — the r12 ledger measured the rerank
    # query at 2× its r10 normalized cost from exactly that.
    qlut = q.select(
        "query_id",
        F.transform(
            "cb",
            lambda c: _l2sq(
                F.slice(F.col("qv"), c["s"] * dsub + 1, dsub), c["cw"]
            ),
        ).alias("lut"),
    ).withColumn(
        "k_eff",
        F.when(
            F.size("lut") % F.lit(m) == 0,
            F.size("lut") / F.lit(m),
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    "pq_adc_topk: ragged codebook — size(lut)=%d "
                    "is not divisible by m=%d",
                    F.size("lut"),
                    F.lit(m),
                )
            )
        )
        .cast("int"),
    )
    pairs = corpus_codes.crossJoin(F.broadcast(qlut)).filter(
        F.col(id_col) != F.col("query_id")
    )
    # r13: statically unrolled over the m subspaces (m is a Python
    # int) instead of F.aggregate over sequence(0, m-1) — the HOF fold
    # is interpreted per scan row (no whole-stage codegen, plus a
    # per-row sequence-array allocation) while the unrolled sum is a
    # codegen'd expression chain. Same left-to-right addition order
    # (((d0+d1)+d2)+d3, all terms ≥ +0.0), bit-identical result.
    dist_terms = [
        F.element_at(
            F.col("lut"),
            (F.lit(s) * F.col("k_eff")
             + F.element_at(F.col("codes"), F.lit(s + 1)) + 1)
            .cast("int"),
        )
        for s in range(m)
    ]
    dist = dist_terms[0]
    for t in dist_terms[1:]:
        dist = dist + t
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        pairs.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            dist.alias("adc_dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_results)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def bitext_mine_mutual(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_margin: int = 4,
    margin_threshold: float = 1.0,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk ACL'19; the
    CCMatrix/LASER pipeline): candidate translation pairs are MUTUAL
    nearest neighbors across two embedding sets, scored by the ratio
    margin cos(a,b) / mean(cos to each side's k nearest) — the
    normalization that kills hub vectors plain cosine thresholds
    keep. Returns mutual pairs with margin > threshold.

    Shape: one broadcast cross-score of A×B (at corpus scale the
    candidate generation is the IVF/PQ index instead — identical
    downstream: per-side rank windows, one equi-join for mutuality).
    Ranks and k-NN means are per-side windows; mutuality is a single
    (a_id, b_id) equi-join of the two top-1 tables.
    """
    a = side_a.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("av"),
        norm(F.col(vec_col)).alias("an"),
    )
    b = side_b.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("bv"),
        norm(F.col(vec_col)).alias("bn"),
    )
    scored = a.crossJoin(F.broadcast(b)).select(
        "a_id",
        "b_id",
        # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
        F.try_divide(
            dot(F.col("av"), F.col("bv")), F.col("an") * F.col("bn")
        ).alias("cos_sim"),
    )
    wa = Window.partitionBy("a_id").orderBy(
        F.desc("cos_sim"), F.asc("b_id")
    )
    wb = Window.partitionBy("b_id").orderBy(
        F.desc("cos_sim"), F.asc("a_id")
    )
    ranked = scored.select(
        "a_id",
        "b_id",
        "cos_sim",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    ).filter(
        # r13: every consumer below only reads rows ranked ≤ k_margin
        # on at least one side (denominators: ra/rb ≤ k; mutuality:
        # ra = rb = 1) — cut the |A|×|B| cross-score down to the
        # ≤ (|A|+|B|)·k survivors ONCE and materialize that tiny
        # frame. The three consumers used to re-run the full
        # cross-score + both rank windows each.
        (F.col("ra") <= k_margin) | (F.col("rb") <= k_margin)
    ).localCheckpoint()
    denom_a = (
        ranked.filter(F.col("ra") <= k_margin)
        .groupBy("a_id")
        .agg(F.avg("cos_sim").alias("knn_a"))
    )
    denom_b = (
        ranked.filter(F.col("rb") <= k_margin)
        .groupBy("b_id")
        .agg(F.avg("cos_sim").alias("knn_b"))
    )
    mutual = (
        ranked.filter((F.col("ra") == 1) & (F.col("rb") == 1))
        .join(denom_a, on="a_id")
        .join(denom_b, on="b_id")
        .select(
            "a_id",
            "b_id",
            "cos_sim",
            # try_divide (r12 degenerate sweep): a neighborhood of
            # mutually-orthogonal (or zero-norm → NULL-cosine)
            # vectors averages to a zero denominator — the bitext
            # margin is undefined there → NULL, never a job abort.
            F.try_divide(
                F.col("cos_sim"),
                (F.col("knn_a") + F.col("knn_b")) / 2.0,
            ).alias("margin"),
        )
    )
    return mutual.filter(F.col("margin") > margin_threshold)


def mmr_select(
    corpus: DataFrame,
    query_vec_row: DataFrame,
    k_candidates: int = 10,
    k_select: int = 3,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    SIGIR'98): greedily select ``k_select`` results maximizing
    λ·rel(c) − (1−λ)·max sim(c, already-selected) — the
    diversification stage after retrieval. Greedy selection is
    inherently sequential, but each step touches only the
    ``k_candidates``-row frame: argmax via orderBy().limit(1) (a
    TakeOrdered on k rows), the winner broadcast back as the next
    penalty column. A fixed ``k_select`` unrolls to SQL exactly like
    the Lloyd/PageRank oracles. Returns (pick, id, mmr_score) with
    pick = selection order.
    """
    q = query_vec_row.select(
        F.col(vec_col).alias("qv"), norm(F.col(vec_col)).alias("qn")
    )
    cand = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            norm(F.col(vec_col)).alias("cn"),
            # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
            F.try_divide(
                dot(F.col(vec_col), F.col("qv")),
                norm(F.col(vec_col)) * F.col("qn"),
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("cid"))
        .limit(k_candidates)
        .localCheckpoint()
    )
    picked = []
    remaining = cand
    penalty = F.lit(0.0)
    for step in range(k_select):
        score = (lam * F.col("rel") - (1 - lam) * penalty).alias("mmr")
        winner = (
            remaining.select("cid", "cv", "cn", "rel", score)
            .orderBy(F.desc("mmr"), F.asc("cid"))
            .limit(1)
            .select(
                F.lit(step + 1).alias("pick"),
                F.col("cid").alias("sel_id"),
                F.col("cv").alias("sel_v"),
                F.col("cn").alias("sel_n"),
                F.col("mmr").alias("mmr_score"),
            )
            .localCheckpoint()
        )
        picked.append(winner.select("pick", F.col("sel_id").alias("id"), "mmr_score"))
        sel = F.broadcast(winner.select("sel_v", "sel_n"))
        remaining = (
            remaining.join(
                F.broadcast(winner.select(F.col("sel_id"))),
                remaining["cid"] == F.col("sel_id"),
                "left_anti",
            )
            .crossJoin(sel)
            .withColumn(
                f"__sim{step}",
                # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
                F.try_divide(
                    dot(F.col("cv"), F.col("sel_v")),
                    F.col("cn") * F.col("sel_n"),
                ),
            )
            .drop("sel_v", "sel_n")
        )
        sims = [F.col(f"__sim{j}") for j in range(step + 1)]
        penalty = sims[0] if len(sims) == 1 else F.greatest(*sims)
    out = picked[0]
    for p in picked[1:]:
        out = out.union(p)
    return out


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping, within each
    cluster, every item that has a cosine-``threshold`` neighbor with
    a smaller id (deterministic keep-first policy; the paper keeps
    the item farthest from the centroid — id-ordering is the
    engine-portable equivalent and what makes the verdict frame
    hash-comparable across engines).

    Scale shape: the clusters ARE the blocking structure — the
    pairwise cosine check is quadratic only within a cell, the
    centroids broadcast, and the verdict comes back to the corpus as
    one left join on the id. No all-pairs stage exists at any scale;
    cluster granularity (|centroids|) is the knob that bounds cell
    size, exactly as in the paper's k-means-over-shards setup.

    Returns (id, centroid_id, is_dup) for every corpus row.
    """
    # r13: materialize the assignment once (it feeds both sides of
    # the within-cell pair join AND the final verdict frame — the
    # broadcast argmax over every centroid used to re-run three
    # times), with the row norm precomputed so the quadratic pair
    # check pays one dot per pair instead of dot + two norms (same
    # floats: norm(v) is the identical expression either way).
    # r14 (VERDICT r13 #2): the checkpoint is now the NARROW scalar
    # frame — (id, centroid_id, norm), three scalars per row — with
    # the embedding re-attached to the pair join's two sides by a
    # keyed join against the corpus (a pruned columnar re-read, the
    # r13 wide-intermediate rule): at 100 TB the block store holds
    # 24 B/row instead of the full vector column. persist() instead
    # of checkpoint was rejected on measurement: Spark's CacheManager
    # matches canonicalized plans ACROSS query invocations, so a
    # second run of the same query silently reads the first run's
    # cache — exactly the cross-run intermediate reuse the bench
    # contract bans (localCheckpoint makes a fresh RDD per call and
    # already stores MEMORY_AND_DISK, so it spills rather than OOMs).
    vecs = corpus.select(F.col(id_col), F.col(vec_col))
    assigned = (
        assign_cells(corpus, centroids, id_col, vec_col)
        .withColumn("_n", norm(F.col(vec_col)))
        .select(id_col, "centroid_id", "_n")
        .localCheckpoint()
    )
    a = assigned.join(vecs, id_col).alias("a")
    b = assigned.join(vecs, id_col).alias("b")
    sim = F.try_divide(
        dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
        F.col("a._n") * F.col("b._n"),
    )
    dups = (
        a.join(b, on=F.col("a.centroid_id") == F.col("b.centroid_id"))
        .filter(F.col(f"a.{id_col}") > F.col(f"b.{id_col}"))
        .filter(sim >= threshold)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assigned.select(id_col, "centroid_id")
        .join(dups, on=id_col, how="left")
        .fillna({"is_dup": 0})
    )


def prototype_prune(
    corpus: DataFrame,
    centroids: DataFrame,
    prune_frac: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SSL-prototypes pruning — the second half of D4 (Tirumala et
    al. 2023: SemDeDup, then drop the most PROTOTYPICAL examples per
    cluster): within each centroid cell, rank vectors by cosine to
    their centroid (desc, id tie-break) and mark the top
    ``prune_frac`` fraction pruned — the points nearest the centroid
    carry the least marginal information, so removing them trades
    almost no coverage for the budget. SemDeDup removes near-COPIES;
    this removes REDUNDANT-BY-DENSITY points — a curation pipeline
    runs both.

    Scale shape: centroid assignment is the broadcast map-side argmax
    (``assign_cells``); ranking windows are CELL-partitioned, never
    global. Returns (id, centroid_id, proto_sim, proto_rank,
    cell_size, is_pruned)."""
    assigned = assign_cells(corpus, centroids, id_col, vec_col)
    cent = centroids.select(
        F.col("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm(F.col(vec_col)).alias("cent_norm"),
    )
    scored = assigned.withColumn("_vnorm", norm(F.col(vec_col))).join(
        F.broadcast(cent), "centroid_id"
    ).select(
        id_col,
        "centroid_id",
        # try_divide: zero-norm vector (r12 degenerate sweep) -> NULL
        F.try_divide(
            dot(F.col(vec_col), F.col("cent_vec")),
            F.col("_vnorm") * F.col("cent_norm"),
        ).alias("proto_sim"),
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("proto_sim"), F.asc(id_col)
    )
    wc = Window.partitionBy("centroid_id")
    return (
        scored.withColumn("proto_rank", F.row_number().over(w))
        .withColumn("cell_size", F.count(F.lit(1)).over(wc))
        .withColumn(
            "is_pruned",
            F.col("proto_rank")
            <= F.ceil(F.lit(float(prune_frac)) * F.col("cell_size")),
        )
    )
