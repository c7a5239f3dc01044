"""Streaming ingestion + windowed aggregation.

- ``stream_landing_to_bronze``: the S3-event → Lambda → Glue trigger
  chain (ref lambda/ingestion_trigger/handler.py) as ONE Structured
  Streaming file source: new CSVs landing under a directory are
  discovered by the source's file tracking (exactly-once per file via
  the checkpoint), normalized minimally, and appended to a parquet
  bronze table.
- ``windowed_event_counts``: tumbling-window aggregation with a
  watermark for late data — the standard stateful-agg shape
  (SURVEY §2.10 notes the reference defers real-time to future work;
  this is the native Spark form it would take).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.utils import AnalysisException

from bio_lakehouse_spark.streaming import drain_foreach_batch, drain_to_parquet


def _read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None while nothing has been
    written there yet."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def stream_landing_to_bronze(
    spark: SparkSession,
    landing_dir: str,
    bronze_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
):
    """File-source stream → parquet append sink.

    Returns the started StreamingQuery; the caller
    ``awaitTermination()``s it and it stops by itself after draining.
    The checkpoint directory carries the processed-file log, so
    re-runs pick up only new files (the DynamoDB ingestion-log role,
    handled by the engine itself).
    """
    src = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", 100)
        .csv(landing_dir)
    )
    src = src.withColumn("_ingested_file", F.input_file_name())
    return drain_to_parquet(src, bronze_dir, checkpoint_dir)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window counts + sums with a watermark: events later
    than ``watermark`` past the max seen ts are dropped and their
    window state finalized — bounded state at any scale."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_windowed_counts(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
):
    """End-to-end streaming aggregation: file source → watermarked
    tumbling windows → parquet append (only FINALIZED windows emit in
    append mode — the watermark decides)."""
    src = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .csv(landing_dir)
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    )
    agg = windowed_event_counts(src, ts_col, window_duration, watermark)
    return drain_to_parquet(agg, out_dir, checkpoint_dir)


def dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key
    (at-least-once sources replay on retry) arriving within the
    watermark horizon. `dropDuplicatesWithinWatermark` keeps one
    state row per key and — unlike plain `dropDuplicates`, whose
    state grows with stream LENGTH — evicts every key once the
    event-time watermark passes it, so state is bounded by
    keys-per-horizon at any scale. The batch twin is
    `dedup_exact`/`dedupe_latest` in the suite."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_dedup_to_parquet(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
):
    """File source → watermarked streaming dedup → parquet append."""
    src = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .csv(landing_dir)
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    )
    deduped = dedup_within_watermark(
        src, key_cols or ["event_id"], ts_col, watermark
    )
    return drain_to_parquet(deduped, out_dir, checkpoint_dir)


def stream_upsert_to_table(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema: StructType | str,
    key_cols: list[str],
    seq_col: str = "ts",
    partition_cols: list[str] | None = None,
):
    """Streaming CDC apply: file source → ``foreachBatch`` keyed
    MERGE into a parquet table (the canonical Structured Streaming +
    MERGE idiom; on Delta/Iceberg the inner call becomes a true
    ``MERGE INTO`` and nothing else changes).

    Each micro-batch is first reduced to its max-``seq_col`` row per
    key (a batch can carry several updates for one key), then
    conflict-resolved against the CURRENT table rows for those keys —
    an update only wins if its sequence is ≥ the stored one. That
    makes the sink safe under BOTH failure modes of at-least-once
    side effects: a replayed batch re-applies identical rows
    (idempotent), and a replayed OLD batch after a newer one cannot
    regress a key (sequence guard). State lives in the table itself,
    not the stream — no watermark needed, unbounded key space.

    Scale shape: the per-batch cost is ``merge_upsert``'s — touched
    partitions only, update keys broadcast into the anti join.
    """
    from bio_lakehouse_spark.sources.sinks import merge_upsert
    from pyspark.sql import Window

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.columns:
            return
        value_cols = [c for c in batch_df.columns if c not in key_cols]
        w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if latest.isEmpty():
            return
        table = _read_parquet_or_none(spark, table_path)
        if table is None:
            resolved = latest  # first batch — table doesn't exist yet
        else:
            current = table.join(
                latest.select(*key_cols), key_cols, "left_semi"
            )
            resolved = (
                latest.unionByName(current.select(*latest.columns))
                .groupBy(*key_cols)
                .agg(
                    F.max_by(
                        F.struct(*value_cols), F.col(seq_col)
                    ).alias("_v")
                )
                .select(*key_cols, "_v.*")
            )
        merge_upsert(
            spark,
            table_path,
            resolved.select(*latest.columns),
            key_cols,
            partition_cols or (),
        )

    src = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .csv(landing_dir)
    )
    return drain_foreach_batch(src, apply_batch, checkpoint_dir)


def stream_vectors_to_ivf_index(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: StructType | str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming ANN ingestion: JSON vector batches landing in a
    directory flow through ``foreachBatch`` into the persisted IVF
    index (``similarity.append_ivf_index``) — each micro-batch
    assigns against the index's FROZEN centroid table and appends
    into the partitioned cells layout, so the serving path
    (``ivf_topk_indexed``) sees new vectors at its next listing with
    zero rebuild and the probe cost stays nprobe/ncells regardless of
    how long the stream has been running.

    Exactly-once-enough: the file source's checkpoint guarantees each
    landed file is processed once; a crash mid-append can duplicate
    ONE batch's rows in a cell (append is not transactional on plain
    parquet), which ANN serving tolerates (duplicate neighbors rank
    adjacently) and the compaction/rebuild cycle removes — on
    Delta/Iceberg the same foreachBatch body becomes atomic. Centroid
    drift monitoring is the returned per-batch stats' job (hot-cell
    share), exactly as in the batch path."""
    from bio_lakehouse_spark.operators.similarity import append_ivf_index

    src = spark.readStream.schema(schema).json(landing_dir)

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_ivf_index(
            spark, index_path, batch_df, id_col=id_col, vec_col=vec_col
        )

    return drain_foreach_batch(src, apply_batch, checkpoint_dir)


def stream_documents_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    fingerprint_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming corpus ingestion with incremental exact dedup — the
    LLM-pipeline ingest loop as one Structured Streaming job: each
    landed JSON batch of documents dedupes WITHIN itself
    (min-id per normalized-text fingerprint), anti-joins its
    fingerprints against the persistent fingerprint store (the
    corpus is touched only through its 16-byte hash column — never
    rescanned), then appends the surviving documents to the corpus
    and their fingerprints to the store.

    Idempotent under replay via TWO guards: a replayed batch's
    fingerprints are already in the store, so its rows anti-join away
    — and because the corpus append lands BEFORE the fingerprint
    append, a crash between the two writes leaves a half-committed
    batch the fingerprint guard alone cannot see, so the surviving
    ids are additionally anti-joined against the corpus's own id
    column (r7 — closes the double-ingest crash window; the corpus is
    touched only through one pruned id-column scan). Per-batch cost
    stays O(batch + matching store keys); the store grows by one row
    per distinct text ever seen, exactly the `dedup_incremental_batch`
    shape scaled to a continuous stream.

    ASSUMPTION (ADVICE r7): ``id_col`` is globally unique across the
    stream's lifetime — the standard contract for ingest doc ids. The
    crash guard compares ids only (comparing text would force a
    corpus-text scan per batch, breaking the O(batch) shape), so a NEW
    document that reuses a previously-ingested id is treated as a
    replay: dropped from the corpus while its fingerprint is still
    appended. If the upstream cannot guarantee unique ids, mint them
    (e.g. ``sha2(concat(source, text), 256)``) before landing. On a
    transactional table format (sources/table_format.py Delta/Iceberg
    backends) the two appends become ONE atomic commit keyed by
    foreachBatch's (queryId, batchId), the crash window disappears,
    and this guard — and the assumption — go away entirely."""
    from bio_lakehouse_spark.operators.dedup import exact_dedup_groups

    src = spark.readStream.schema(schema).json(landing_dir)

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        novel = exact_dedup_groups(batch_df, id_col, text_col)
        store = _read_parquet_or_none(spark, fingerprint_dir)
        if store is not None:
            novel = novel.join(
                store.select("text_hash").distinct(), "text_hash", "left_anti"
            )
        novel = novel.localCheckpoint()  # consumed twice below
        survivors = batch_df.join(
            novel.select(F.col("keep_id").alias(id_col)), on=id_col
        )
        # Crash-replay guard: corpus appends land before fingerprint
        # appends, so a crash between the two writes + checkpoint
        # replay passes the fingerprint anti-join again. Re-check the
        # survivors against the corpus's id column so the
        # half-committed rows drop (their fingerprints, still absent
        # from the store, are then appended below — completing the
        # interrupted commit instead of repeating it).
        corpus = _read_parquet_or_none(spark, corpus_dir)
        if corpus is not None:
            survivors = survivors.join(
                corpus.select(id_col), id_col, "left_anti"
            )
        survivors.write.mode("append").parquet(corpus_dir)
        novel.select("text_hash").write.mode("append").parquet(
            fingerprint_dir
        )

    return drain_foreach_batch(src, apply_batch, checkpoint_dir)


def _append_neardup_survivors(
    spark: SparkSession,
    batch: DataFrame,
    corpus_dir: str,
    band_dir: str,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """The near-dup step and the two appends shared by the MinHash
    ingests. ``batch`` loses the larger id of each within-batch
    near-dup pair (``minhash_lsh_pairs``), the ids already in the
    corpus, and the docs the persistent (doc_id, band, value) index
    flags (``minhash_incremental_pairs`` — corpus text touched only
    for candidate docs, per-batch cost O(batch + candidates)). The
    survivors append to the corpus and their band rows to the index;
    they are returned, materialized.

    Crash replay: the corpus append lands before the band append, so a
    crash between the two leaves docs in the corpus with no band rows.
    On replay the corpus-id anti-join keeps them out of the corpus
    (pair generation requires distinct ids, so the LSH hit alone would
    not catch a same-id replay), and the replayed ids with no band
    rows get them appended now, completing the interrupted commit —
    otherwise such a doc stays invisible to every later near-dup
    check. Both guards are column-pruned id scans."""
    from bio_lakehouse_spark.operators.dedup import (
        minhash_band_table,
        minhash_incremental_pairs,
        minhash_lsh_pairs,
    )

    inner = minhash_lsh_pairs(batch, id_col, text_col, threshold=threshold)
    losers = inner.select(F.col("doc_b").alias(id_col)).distinct()
    kept = batch.join(losers, on=id_col, how="left_anti")
    # Corpus and index read SEPARATELY: a crash between the two
    # appends of the very first batch leaves the corpus present with
    # NO band dir, and the corpus-id guard is needed exactly then.
    corpus = _read_parquet_or_none(spark, corpus_dir)
    bands = _read_parquet_or_none(spark, band_dir)
    replayed = None
    if corpus is not None:
        corpus_ids = corpus.select(id_col).distinct()
        replayed = kept.join(corpus_ids, on=id_col, how="left_semi")
        kept = kept.join(corpus_ids, on=id_col, how="left_anti")
    survivors = kept
    if bands is not None:
        flagged = minhash_incremental_pairs(
            corpus, kept, id_col, text_col,
            threshold=threshold, corpus_bands=bands,
        ).select(F.col("doc_b").alias(id_col)).distinct()
        survivors = kept.join(flagged, on=id_col, how="left_anti")
        if replayed is not None:
            # the band table always names its id 'doc_id'
            # (dedup.minhash_band_table), whatever the caller's id_col
            replayed = replayed.join(
                bands.select(F.col("doc_id").alias(id_col)).distinct(),
                on=id_col,
                how="left_anti",
            )
    # Both frames are computed against the corpus as it was before the
    # appends below, so materialize them first.
    half_committed = None if replayed is None else replayed.localCheckpoint()
    survivors = survivors.localCheckpoint()
    survivors.write.mode("append").parquet(corpus_dir)
    to_index = (
        survivors
        if half_committed is None
        else survivors.unionByName(half_committed)
    )
    minhash_band_table(to_index, id_col, text_col).write.mode(
        "append"
    ).parquet(band_dir)
    return survivors


def stream_documents_neardup_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    band_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
):
    """Streaming NEAR-dup corpus ingestion — the MinHash twin of
    ``stream_documents_dedup_ingest``: each landed batch is checked
    against the persistent (doc_id, band, value) LSH index and within
    itself (keep the smaller id). Survivors append to the corpus and
    their band rows to the index, so the NEXT batch dedupes against
    them too (``_append_neardup_survivors``).

    Idempotent under replay via the same TWO guards as the exact
    twin: the corpus-id anti-join drops a replayed doc from the
    corpus, and the band append COMPLETES a half-committed crash
    (corpus append landed, band append did not). The corpus text is
    read only for candidate docs. At production scale ``band_dir`` is
    partitioned/bucketed by (band, value); the ingest body is
    unchanged."""
    src = spark.readStream.schema(schema).json(landing_dir)

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _append_neardup_survivors(
            spark, batch_df.localCheckpoint(), corpus_dir, band_dir,
            id_col, text_col, threshold,
        )

    return drain_foreach_batch(src, apply_batch, checkpoint_dir)


def stream_documents_curated_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    band_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    eval_df: DataFrame | None = None,
    stats_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    quality_cutoff: float = 0.7,
    threshold: float = 0.5,
):
    """Streaming twin of `curation_pipeline_full`: every landed batch
    runs the full curation chain before ingestion — heuristic quality
    gate, langid agreement, eval 5-gram decontamination (against the
    provided held-out ``eval_df``), then near-dup demotion within the
    batch and against the persistent LSH band index — and appends the
    survivors to the corpus + their band rows to the index, so the
    NEXT batch is curated against them too.

    Gate order is deliberate and documented: the scan-level gates run
    FIRST (cheap row-wise expressions cut the batch before the
    near-dup machinery touches it — at 100 TB you dedupe only what
    you might keep). This differs from the batch flagship, which
    reports ALL gate flags per doc; the streaming ingest is the
    decision path, the batch query the audit view.

    Observability (``stats_dir``): one row per (batch, source) with
    the per-gate drop counts and the ingested count — the streaming
    feed of `curation_summary_by_source`; a pipeline that silently
    drops data is a pipeline nobody can debug.

    Idempotent under replay exactly like the near-dup ingest, whose
    near-dup step and appends it shares (``_append_neardup_survivors``).
    """
    from bio_lakehouse_spark.operators.dedup import ngram_overlap_contamination
    from bio_lakehouse_spark.operators.textops import (
        predicted_lang,
        quality_metrics,
        words,
    )

    src = spark.readStream.schema(schema).json(landing_dir)

    def apply_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.localCheckpoint()
        m = quality_metrics(text_col)
        flagged = batch_df.select(
            "*",
            (F.round(m["quality_score"], 6) >= quality_cutoff).alias(
                "__q_ok"
            ),
            (predicted_lang(words(text_col)) == F.col(lang_col)).alias(
                "__l_ok"
            ),
        )
        if eval_df is not None:
            cont_ids = ngram_overlap_contamination(
                batch_df, eval_df, id_col, text_col, n=5
            ).select(id_col).distinct().withColumn("__ct", F.lit(True))
            flagged = flagged.join(cont_ids, on=id_col, how="left")
        else:
            flagged = flagged.withColumn("__ct", F.lit(None).cast("boolean"))
        flagged = flagged.withColumn(
            "__ct", F.coalesce("__ct", F.lit(False))
        ).localCheckpoint()
        gated = flagged.filter(
            F.col("__q_ok") & F.col("__l_ok") & ~F.col("__ct")
        ).drop("__q_ok", "__l_ok", "__ct")
        survivors = _append_neardup_survivors(
            spark, gated, corpus_dir, band_dir, id_col, text_col, threshold
        )
        if stats_dir is not None:
            surv_ids = survivors.select(id_col).withColumn(
                "__ing", F.lit(True)
            )
            stats = (
                flagged.join(surv_ids, on=id_col, how="left")
                .groupBy(F.col(source_col).alias("source"))
                .agg(
                    F.lit(batch_id).cast("long").alias("batch_id"),
                    F.count(F.lit(1)).alias("n_in"),
                    F.count_if(~F.col("__q_ok")).alias("n_quality"),
                    F.count_if(~F.col("__l_ok")).alias("n_lang"),
                    F.count_if(F.col("__ct")).alias("n_contaminated"),
                    F.count_if(
                        F.coalesce("__ing", F.lit(False))
                    ).alias("n_ingested"),
                )
            )
            stats.coalesce(1).write.mode("append").parquet(stats_dir)

    return drain_foreach_batch(src, apply_batch, checkpoint_dir)
