"""Streaming (file-source ingestion, watermarked windows) and
multimodal (mapInPandas decode plumbing) tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

EVENT_SCHEMA = "event_id long, ts string, user_id long, event_type string, value double"


def _write_landing(tmp_path, name: str, rows: list[str]) -> None:
    p = tmp_path / "landing" / name
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(
        "event_id,ts,user_id,event_type,value\n" + "\n".join(rows) + "\n"
    )


def test_stream_landing_to_bronze_exactly_once(spark, tmp_path):
    from bio_lakehouse_spark.streaming.ingest import stream_landing_to_bronze

    landing = str(tmp_path / "landing")
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    _write_landing(tmp_path, "a.csv",
                   ["1,2024-01-01 00:00:00,7,click,1.5",
                    "2,2024-01-01 00:05:00,8,view,2.0"])
    q = stream_landing_to_bronze(spark, landing, bronze, ckpt, EVENT_SCHEMA)
    q.awaitTermination()
    assert spark.read.parquet(bronze).count() == 2

    # New file lands; re-run drains ONLY the new file (checkpointed
    # file log = exactly-once per file).
    _write_landing(tmp_path, "b.csv", ["3,2024-01-01 00:10:00,9,click,3.0"])
    q2 = stream_landing_to_bronze(spark, landing, bronze, ckpt, EVENT_SCHEMA)
    q2.awaitTermination()
    back = spark.read.parquet(bronze)
    assert back.count() == 3
    assert back.select("event_id").distinct().count() == 3
    assert back.filter(F.col("_ingested_file").contains("b.csv")).count() == 1


def test_windowed_counts_with_watermark_drops_late(spark, tmp_path):
    from bio_lakehouse_spark.streaming.ingest import stream_windowed_counts

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt2")
    # Batch 1: events up to 02:00 → watermark advances to 01:30.
    _write_landing(
        tmp_path, "a.csv",
        ["1,2024-01-01 00:01:00,7,click,1.0",
         "2,2024-01-01 00:04:00,7,click,2.0",
         "3,2024-01-01 02:00:00,8,view,1.0"],
    )
    q = stream_windowed_counts(spark, landing, out, ckpt, EVENT_SCHEMA)
    q.awaitTermination()
    # Batch 2: one event inside an already-finalized window (00:00)
    # → beyond the watermark → dropped; one fresh event late-ish but
    # inside the allowed lateness → kept.
    _write_landing(
        tmp_path, "b.csv",
        ["4,2024-01-01 00:02:00,9,click,100.0",
         "5,2024-01-01 02:10:00,9,view,1.0"],
    )
    q2 = stream_windowed_counts(spark, landing, out, ckpt, EVENT_SCHEMA)
    q2.awaitTermination()
    # Force one more empty batch so remaining windows finalize.
    _write_landing(tmp_path, "c.csv", ["6,2024-01-01 05:00:00,9,view,1.0"])
    q3 = stream_windowed_counts(spark, landing, out, ckpt, EVENT_SCHEMA)
    q3.awaitTermination()
    rows = {
        (str(r["window_start"]), r["event_type"]): r
        for r in spark.read.parquet(out).collect()
    }
    first = rows[("2024-01-01 00:00:00", "click")]
    # The late event 4 (value=100) must NOT appear in the finalized
    # 00:00 window: count 2, total 3.0.
    assert first["n_events"] == 2
    assert first["total_value"] == pytest.approx(3.0)


def test_multimodal_decode_plumbing(spark):
    from bio_lakehouse_spark.operators.multimodal import (
        FakeDecoder,
        LibraryDecoder,
        attach_binary,
        decode_batches,
        frame_sample_offsets,
        resize_spec,
    )

    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(20)],
        schema="doc_id long, text string",
    )
    wrapped = attach_binary(docs, "text")
    assert dict(wrapped.dtypes)["content"] == "binary"
    decoded = decode_batches(wrapped)
    rows = {r["doc_id"]: r for r in decoded.collect()}
    assert len(rows) == 20
    r0 = rows[0]
    assert 16 <= r0["width"] <= 271 and 1 <= r0["n_channels"] <= 4
    assert len(r0["feature_vec"]) == 8
    # Determinism: same content → same fake features across runs.
    again = {r["doc_id"]: r for r in decode_batches(wrapped).collect()}
    assert again[0]["feature_vec"] == r0["feature_vec"]
    assert again[0]["content_md5"] == r0["content_md5"]

    # The real-decoder seam raises with a clear integration message.
    with pytest.raises(NotImplementedError, match="plug Pillow"):
        LibraryDecoder().decode(b"x", "image/png")
    # Planning helpers.
    assert resize_spec(1920, 1080, 224) == (224, 126)
    assert resize_spec(1080, 1920, 224) == (126, 224)
    offs = frame_sample_offsets(10.0, 30.0, 4)
    assert offs == [1.25, 3.75, 6.25, 8.75]
    assert frame_sample_offsets(0, 30, 4) == []


def test_kmeans_lloyd_converges_and_matches_numpy(spark, sf_dir):
    """Distributed Lloyd iterations must match a numpy implementation
    with the same deterministic init, and must reduce inertia."""
    import numpy as np

    from bio_lakehouse_spark.operators.similarity import kmeans_lloyd
    from bio_lakehouse_spark.suite.registry import load

    emb = load(spark, sf_dir, "embeddings")
    got = {
        r["centroid_id"]: np.array(r["centroid"])
        for r in kmeans_lloyd(emb, k=4, n_iters=3).collect()
    }
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.stack(pdf["embedding"].to_numpy())
    C = X[:4].astype(float).copy()
    for _ in range(3):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for i in range(4):
            if (assign == i).any():
                C[i] = X[assign == i].mean(axis=0)
    for i in range(4):
        assert np.allclose(got[i], C[i], atol=1e-9), i
    # inertia decreases vs the initial centroids
    d0 = ((X[:, None, :] - X[:4][None, :, :].astype(float)) ** 2).sum(axis=2).min(axis=1).sum()
    d3 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1).sum()
    assert d3 < d0


def test_kmeans_large_k_no_literal_centroids(spark, sf_dir):
    """k=64: the trainer must not embed k×dim centroid literals in
    any plan (codegen/plan-size blowup at production k·dim) — the
    centroids flow as a broadcast one-row packed DataFrame. The
    returned frame is a checkpoint scan with a bounded plan, and all
    64 clusters come back with every corpus row assigned."""
    import contextlib
    import io

    from bio_lakehouse_spark.operators.similarity import kmeans_lloyd
    from bio_lakehouse_spark.suite.registry import load

    emb = load(spark, sf_dir, "embeddings")
    out = kmeans_lloyd(emb, k=64, n_iters=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert len(plan) < 20_000, len(plan)
    rows = out.collect()
    assert len(rows) == 64
    assert sum(r["n_members"] for r in rows) == emb.count()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Replayed event_ids (at-least-once redelivery) are dropped by
    the stateful dedup; distinct ids all survive."""
    from bio_lakehouse_spark.streaming.ingest import stream_dedup_to_parquet

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "dedup")
    ckpt = str(tmp_path / "ckpt3")
    _write_landing(
        tmp_path, "a.csv",
        ["1,2024-01-01 00:01:00,7,click,1.0",
         "1,2024-01-01 00:01:00,7,click,1.0",   # same-batch duplicate
         "2,2024-01-01 00:04:00,7,view,2.0"],
    )
    q = stream_dedup_to_parquet(spark, landing, out, ckpt, EVENT_SCHEMA)
    q.awaitTermination()
    # Cross-batch redelivery of id 2 within the horizon + a fresh id.
    _write_landing(
        tmp_path, "b.csv",
        ["2,2024-01-01 00:04:00,7,view,2.0",
         "3,2024-01-01 00:06:00,9,click,3.0"],
    )
    q2 = stream_dedup_to_parquet(spark, landing, out, ckpt, EVENT_SCHEMA)
    q2.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r.event_id for r in got.select("event_id").collect()} == {1, 2, 3}


def test_stream_stream_interval_join_matches_batch_twin(spark, tmp_path):
    """Click→purchase attribution as a watermarked stream-stream
    interval join; the SAME function applied to the data as plain
    batch DataFrames is the oracle. Purchases at 10 and 25 min after
    the click attribute (≤30 min horizon); 45 min does not; other
    users never pair."""
    from bio_lakehouse_spark.streaming.joins import (
        attribute_purchases_to_clicks,
        stream_attribution_to_parquet,
    )

    clicks_dir = tmp_path / "clicks"
    purchases_dir = tmp_path / "purchases"
    clicks_dir.mkdir()
    purchases_dir.mkdir()
    header = "event_id,ts,user_id,event_type,value\n"
    (clicks_dir / "c.csv").write_text(
        header
        + "1,2024-01-01 00:00:00,7,click,1.0\n"
        + "2,2024-01-01 01:00:00,7,click,2.0\n"
        + "3,2024-01-01 00:00:00,8,click,3.0\n"
    )
    (purchases_dir / "p.csv").write_text(
        header
        + "4,2024-01-01 00:10:00,7,purchase,10.0\n"  # ← click 1 (+10m)
        + "5,2024-01-01 00:25:00,7,purchase,20.0\n"  # ← click 1 (+25m)
        + "6,2024-01-01 00:45:00,7,purchase,30.0\n"  # beyond horizon
        + "7,2024-01-01 01:05:00,9,purchase,40.0\n"  # no such clicker
    )

    q = stream_attribution_to_parquet(
        spark,
        str(clicks_dir),
        str(purchases_dir),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        EVENT_SCHEMA,
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.click_ts), str(r.purchase_ts))
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    def batch(d):
        return (
            spark.read.schema(EVENT_SCHEMA)
            .option("header", "true")
            .csv(str(d))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    want = {
        (r.user_id, str(r.click_ts), str(r.purchase_ts))
        for r in attribute_purchases_to_clicks(
            batch(clicks_dir), batch(purchases_dir)
        ).collect()
    }
    assert got == want
    assert got == {
        (7, "2024-01-01 00:00:00", "2024-01-01 00:10:00"),
        (7, "2024-01-01 00:00:00", "2024-01-01 00:25:00"),
    }


def test_stream_upsert_cdc_apply(spark, tmp_path):
    """foreachBatch keyed MERGE: newer sequence replaces the stored
    row, an out-of-order OLDER update cannot regress it, new keys
    insert. State lives in the table, not the stream."""
    from bio_lakehouse_spark.streaming.ingest import stream_upsert_to_table

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "events_current")
    ckpt = str(tmp_path / "ckpt_upsert")
    # wave 1: two keys (user 7 twice in one batch — in-batch dedupe).
    _write_landing(
        tmp_path, "a.csv",
        ["1,2024-01-01 00:01:00,7,click,1.0",
         "2,2024-01-01 00:02:00,7,view,2.0",
         "3,2024-01-01 00:01:00,9,click,3.0"],
    )
    q = stream_upsert_to_table(
        spark, landing, table, ckpt, EVENT_SCHEMA, key_cols=["user_id"]
    )
    q.awaitTermination()
    got = {r.user_id: r for r in spark.read.parquet(table).collect()}
    assert set(got) == {7, 9}
    assert got[7].event_id == 2  # max-ts row won within the batch
    # wave 2: newer update for user 9, STALE update for user 7, new key.
    _write_landing(
        tmp_path, "b.csv",
        ["4,2024-01-01 00:05:00,9,purchase,4.0",
         "5,2023-12-31 23:00:00,7,view,0.5",
         "6,2024-01-01 00:06:00,11,click,6.0"],
    )
    q2 = stream_upsert_to_table(
        spark, landing, table, ckpt, EVENT_SCHEMA, key_cols=["user_id"]
    )
    q2.awaitTermination()
    got = {r.user_id: r for r in spark.read.parquet(table).collect()}
    assert set(got) == {7, 9, 11}
    assert got[9].event_id == 4          # newer seq replaced
    assert got[7].event_id == 2          # stale update did NOT regress
    assert got[11].event_type == "click"  # new key inserted


def test_ivf_persisted_index_serving(spark, sf_dir, tmp_path):
    """build_ivf_index + ivf_topk_indexed: the persisted-index serving
    path must return EXACTLY the in-memory ivf_topk answer, and the
    probed-cell scan must carry a partition filter (Hive pruning — the
    reason search cost is nprobe/ncells of the data)."""
    import contextlib
    import io

    from bio_lakehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )
    from bio_lakehouse_spark.suite.registry import load

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("int").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, centroids, idx)

    served = ivf_topk_indexed(spark, idx, queries, k=5, nprobe=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    assert "PartitionFilters: [centroid_id" in buf.getvalue()

    expect = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"],
         round(r["cos_sim"], 9))
        for r in ivf_topk(emb, queries, centroids, k=5, nprobe=3)
        .collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"],
         round(r["cos_sim"], 9))
        for r in served.collect()
    )
    assert got == expect


def test_ivf_index_append_equals_full_rebuild(spark, sf_dir, tmp_path):
    """append_ivf_index: building on HALF the corpus then appending
    the other half must serve EXACTLY what a full-corpus build serves
    (same frozen centroids), with no rebuild — partition dirs just
    gain files. The drift stats must expose the hot-cell share that
    drives the recluster decision."""
    from bio_lakehouse_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
    )
    from bio_lakehouse_spark.suite.registry import load

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("int").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    full_idx = str(tmp_path / "full")
    build_ivf_index(emb, centroids, full_idx)
    incr_idx = str(tmp_path / "incr")
    build_ivf_index(half_a, centroids, incr_idx)
    stats = append_ivf_index(spark, incr_idx, half_b)

    assert stats["appended"] == half_b.count()
    assert stats["index_rows"] == emb.count()
    assert 0 < stats["max_cell_share"] <= 1.0
    assert stats["balanced_share"] == pytest.approx(1.0 / stats["n_cells"])

    def serve(idx):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"],
             round(r["cos_sim"], 9))
            for r in ivf_topk_indexed(
                spark, idx, queries, k=5, nprobe=3
            ).collect()
        )

    assert serve(incr_idx) == serve(full_idx)


def test_stream_vectors_to_ivf_index(spark, sf_dir, tmp_path):
    """Streaming ANN ingestion e2e (availableNow): two JSON vector
    drops flow through foreachBatch append into the persisted IVF
    index; serving afterwards equals a batch build over everything."""
    import json as _json

    from bio_lakehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )
    from bio_lakehouse_spark.streaming.ingest import (
        stream_vectors_to_ivf_index,
    )
    from bio_lakehouse_spark.suite.registry import load

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").cast("int").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    later = emb.filter(F.col("vec_id") % 3 != 0).collect()

    idx = str(tmp_path / "ivf")
    build_ivf_index(seed, centroids, idx)

    landing = tmp_path / "landing"
    landing.mkdir()
    half = len(later) // 2
    for i, chunk in enumerate((later[:half], later[half:])):
        with open(landing / f"drop_{i}.json", "w") as fh:
            for r in chunk:
                fh.write(_json.dumps({
                    "vec_id": r["vec_id"],
                    "embedding": list(r["embedding"]),
                    "label": r["label"],
                }) + "\n")

    q = stream_vectors_to_ivf_index(
        spark, str(landing), idx, str(tmp_path / "ckpt"),
        schema="vec_id long, embedding array<float>, label int",
    )
    q.awaitTermination()

    full_idx = str(tmp_path / "full")
    build_ivf_index(emb, centroids, full_idx)

    def serve(p):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"],
             round(r["cos_sim"], 9))
            for r in ivf_topk_indexed(
                spark, p, queries, k=5, nprobe=3
            ).collect()
        )

    assert serve(idx) == serve(full_idx)


def test_stream_documents_dedup_ingest(spark, tmp_path):
    """Streaming corpus ingest e2e: within-batch dups collapse to the
    min id, cross-batch and pre-seeded dups anti-join away against
    the fingerprint store, and REPLAYING the same drops with a fresh
    checkpoint ingests nothing (idempotence via the store itself)."""
    import json as _json

    from bio_lakehouse_spark.streaming.ingest import (
        stream_documents_dedup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    schema = "doc_id long, text string"

    def drop(name, rows):
        with open(landing / name, "w") as fh:
            for i, t in rows:
                fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    # batch 0: 'alpha' duplicated within the batch (keep id 1)
    drop("d0.json", [(1, "alpha text"), (2, "alpha text"), (3, "beta")])
    # batch 1: 'alpha' again (cross-batch dup) + one novel doc
    drop("d1.json", [(10, "alpha text"), (11, "gamma doc")])

    q = stream_documents_dedup_ingest(
        spark, str(landing), corpus, fps, str(tmp_path / "ck1"), schema
    )
    q.awaitTermination()

    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1: "alpha text", 3: "beta", 11: "gamma doc"}

    # replay everything with a FRESH checkpoint: store blocks it all
    q2 = stream_documents_dedup_ingest(
        spark, str(landing), corpus, fps, str(tmp_path / "ck2"), schema
    )
    q2.awaitTermination()
    assert spark.read.parquet(corpus).count() == 3


def test_stream_dedup_ingest_crash_between_writes(spark, tmp_path):
    """Crash-window replay (ADVICE r6): the corpus append lands
    BEFORE the fingerprint append, so simulate a crash exactly
    between the two — corpus holds the batch, store does not — then
    replay the batch. The corpus-id guard must drop the
    half-committed rows (no double-ingest) while the fingerprint
    append completes the interrupted commit."""
    import json as _json

    from bio_lakehouse_spark.streaming.ingest import (
        stream_documents_dedup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    schema = "doc_id long, text string"

    with open(landing / "d0.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": "alpha text"}) + "\n")
        fh.write(_json.dumps({"doc_id": 2, "text": "beta text"}) + "\n")

    # Simulate the crash state: batch already IN the corpus, its
    # fingerprints NOT yet in the store (store dir absent entirely).
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], schema
    ).write.parquet(corpus)

    q = stream_documents_dedup_ingest(
        spark, str(landing), corpus, fps, str(tmp_path / "ck"), schema
    )
    q.awaitTermination()

    rows = spark.read.parquet(corpus).collect()
    assert len(rows) == 2, "half-committed batch double-ingested"
    # the interrupted commit completed: fingerprints now stored
    assert spark.read.parquet(fps).count() == 2

    # a later batch with the same texts is blocked by the store
    with open(landing / "d1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 9, "text": "alpha text"}) + "\n")
    q2 = stream_documents_dedup_ingest(
        spark, str(landing), corpus, fps, str(tmp_path / "ck"), schema
    )
    q2.awaitTermination()
    assert spark.read.parquet(corpus).count() == 2


def test_stream_documents_neardup_ingest(spark, tmp_path):
    """Streaming near-dup ingest e2e: a batch doc that is a minor
    mutation of a corpus doc is dropped (LSH index hit), within-batch
    near-dup pairs keep the smaller id, novel docs land and extend
    the index so the NEXT batch dedupes against them; fresh-
    checkpoint replay ingests nothing."""
    import json as _json

    from bio_lakehouse_spark.streaming.ingest import (
        stream_documents_neardup_ingest,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    mutated = base.replace("pi", "PI")           # near-dup of base
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen")
    other_mut = other.replace("nine", "NINE")    # near-dup of other

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    schema = "doc_id long, text string"

    def drop(name, rows):
        with open(landing / name, "w") as fh:
            for i, t in rows:
                fh.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    # batch 0: base + within-batch near-dup pair on `other`
    drop("d0.json", [(1, base), (2, other), (3, other_mut)])
    # batch 1: near-dup of base (cross-batch, via the index) + novel
    drop("d1.json", [(10, mutated), (11, "totally different words here "
                                         "nothing shared at all")])

    q = stream_documents_neardup_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck1"), schema
    )
    q.awaitTermination()

    got = set(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    )
    assert got == {1, 2, 11}  # 3 lost within-batch, 10 lost to index

    q2 = stream_documents_neardup_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck2"), schema
    )
    q2.awaitTermination()
    assert spark.read.parquet(corpus).count() == 3


_ALPHA = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon")
# long, stopword-rich English: passes the curated ingest's gates
_FOX = ("the quick brown fox jumps over the lazy dog and then the "
        "fox runs into the wide green field where the birds sing "
        "and the river bends south toward the old stone bridge")


@pytest.mark.parametrize(
    "ingest, schema, base, mutated, extra",
    [
        pytest.param(
            "stream_documents_neardup_ingest",
            "doc_id long, text string",
            _ALPHA, _ALPHA.replace("pi", "PI"), {},
            id="neardup",
        ),
        pytest.param(
            "stream_documents_curated_ingest",
            "doc_id long, text string, lang string, source string",
            _FOX, _FOX.replace("green", "GREEN"),
            {"lang": "en", "source": "s0"},
            id="curated",
        ),
    ],
)
def test_stream_neardup_ingest_crash_replay_completes_bands(
    spark, tmp_path, ingest, schema, base, mutated, extra
):
    """r10: crash between the corpus append and the band append, then
    replay. The corpus-id guard must drop the half-committed rows (no
    double ingest) AND the band append must complete the interrupted
    commit — before the fix the replayed doc stayed in the corpus but
    was invisible to the LSH index forever, so later near-dups of it
    sailed through. Worst case exercised here: the FIRST-ever batch
    crashed, so the band dir does not exist at all (a shared
    corpus+bands read guard used to skip the replay path entirely).
    Both MinHash ingests run the same append step, so both are
    checked."""
    import json as _json

    from bio_lakehouse_spark.streaming import ingest as ingest_mod

    stream_ingest = getattr(ingest_mod, ingest)

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")

    with open(landing / "d0.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 1, "text": base, **extra}) + "\n")

    # Simulate the crash state: doc 1 already IN the corpus, its band
    # rows NOT yet in the index (band dir absent entirely).
    spark.createDataFrame(
        [(1, base, *extra.values())], schema
    ).write.parquet(corpus)

    q = stream_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck"), schema
    )
    q.awaitTermination()

    assert spark.read.parquet(corpus).count() == 1, "double-ingested"
    # the interrupted commit completed: doc 1's bands are indexed now,
    # so a later near-dup of it is caught
    assert spark.read.parquet(bands).filter("doc_id = 1").count() > 0
    with open(landing / "d1.json", "w") as fh:
        fh.write(_json.dumps({"doc_id": 9, "text": mutated, **extra}) + "\n")
    q2 = stream_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck"), schema
    )
    q2.awaitTermination()
    assert spark.read.parquet(corpus).count() == 1, (
        "near-dup of the half-committed doc was not caught"
    )


def test_stream_neardup_ingest_non_default_id_col(spark, tmp_path):
    """r11 (ADVICE r10 regression): the half-committed-crash guard
    selected the band table's id column as `id_col`, but
    minhash_band_table always writes it as 'doc_id' — with any
    non-default id_col every batch crashed with AnalysisException
    once the band dir existed. Exercise the exact path: corpus AND
    bands already present, a replayed id flows through the guard."""
    import json as _json

    from bio_lakehouse_spark.streaming.ingest import (
        stream_documents_neardup_ingest,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    mutated = base.replace("pi", "PI")  # near-dup of base
    novel = ("totally different words here nothing shared at all with "
             "any other document in the corpus today")

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    schema = "item_id long, text string"

    with open(landing / "d0.json", "w") as fh:
        fh.write(_json.dumps({"item_id": 1, "text": base}) + "\n")
    q = stream_documents_neardup_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck1"),
        schema, id_col="item_id",
    )
    q.awaitTermination()
    assert spark.read.parquet(bands).columns[0] == "doc_id"

    # replay + extend with corpus and band dir BOTH present — the
    # guard path that used to select the missing column
    with open(landing / "d1.json", "w") as fh:
        fh.write(_json.dumps({"item_id": 10, "text": mutated}) + "\n")
        fh.write(_json.dumps({"item_id": 11, "text": novel}) + "\n")
    q2 = stream_documents_neardup_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck2"),
        schema, id_col="item_id",
    )
    q2.awaitTermination()
    got = {r["item_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 11}, got  # 10 caught by the index, 1 not re-ingested


def test_stream_curated_ingest_non_default_id_col(spark, tmp_path):
    """Same r11 regression for the curated ingest's copy of the
    guard (ingest.py second site): replay with corpus + bands
    present under id_col='item_id' must not crash and not re-ingest."""
    import json as _json

    from bio_lakehouse_spark.streaming.ingest import (
        stream_documents_curated_ingest,
    )

    text = ("the quick brown fox jumps over the lazy dog and then the "
            "fox runs into the wide green field where the birds sing "
            "and the river bends south toward the old stone bridge")
    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    schema = "item_id long, text string, lang string, source string"

    with open(landing / "d0.json", "w") as fh:
        fh.write(_json.dumps(
            {"item_id": 1, "text": text, "lang": "en", "source": "s0"}
        ) + "\n")
    q = stream_documents_curated_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck1"),
        schema, id_col="item_id",
    )
    q.awaitTermination()
    q2 = stream_documents_curated_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck2"),
        schema, id_col="item_id",
    )
    q2.awaitTermination()
    got = {r["item_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1}, got


def test_stream_documents_curated_ingest(spark, tmp_path):
    """Streaming curation e2e: the scan-level gates (quality, langid,
    decontamination) drop their targets, within-batch and
    index-resident near-dups drop theirs, survivors extend the
    corpus + index for the next batch, per-(batch, source) drop
    stats land, and a fresh-checkpoint replay ingests nothing."""
    import json as _json

    from bio_lakehouse_spark.streaming.ingest import (
        stream_documents_curated_ingest,
    )

    # long, stopword-rich English so the quality + langid gates pass
    base = ("the quick brown fox jumps over the lazy dog and then the "
            "fox runs into the wide green field where the birds sing "
            "and the river bends south toward the old stone bridge")
    mutated = base.replace("green", "GREEN")      # near-dup of base
    other = ("a tall ship sails across the open sea with the wind at "
             "its back and the crew watches the horizon for the first "
             "sign of land while the captain holds the wheel steady")
    other_mut = other.replace("wind", "WIND")     # near-dup of other
    short = "too short"                            # quality reject
    eval_doc = ("students must answer every question on the benchmark "
                "sheet before the morning bell rings across the yard")
    contaminated = ("students must answer every question on the "
                    "benchmark sheet before lunch is served today in "
                    "the great hall near the garden by the east gate")

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    bands = str(tmp_path / "bands")
    stats = str(tmp_path / "stats")
    schema = "doc_id long, text string, lang string, source string"

    def drop(name, rows):
        with open(landing / name, "w") as fh:
            for i, t in rows:
                fh.write(_json.dumps(
                    {"doc_id": i, "text": t, "lang": "en", "source": "s0"}
                ) + "\n")

    eval_df = spark.createDataFrame(
        [(900, eval_doc)], "doc_id long, text string"
    )

    # batch 0: base + within-batch near-dup pair + quality reject
    drop("d0.json", [(1, base), (2, other), (3, other_mut), (4, short)])
    # batch 1: index near-dup of base + eval-contaminated + novel
    novel = ("seven silver bells hang in the tower and each one rings "
             "a different note when the keeper pulls the worn ropes "
             "every evening just after the sun falls behind the hills")
    drop("d1.json", [(10, mutated), (11, contaminated), (12, novel)])

    q = stream_documents_curated_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck1"),
        schema, eval_df=eval_df, stats_dir=stats,
    )
    q.awaitTermination()

    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 12}, got  # 3 near-dup, 4 quality, 10 index, 11 contam

    # availableNow may coalesce the landed files into one micro-batch,
    # so assert the stats ACROSS batches (the per-batch split is an
    # ingestion-timing detail, the totals are the contract)
    srows = spark.read.parquet(stats).collect()
    tot = {k: sum(r[k] for r in srows)
           for k in ("n_in", "n_quality", "n_lang", "n_contaminated",
                     "n_ingested")}
    assert tot == {"n_in": 7, "n_quality": 1, "n_lang": 0,
                   "n_contaminated": 1, "n_ingested": 3}, tot

    # fresh-checkpoint replay: nothing re-ingests
    q2 = stream_documents_curated_ingest(
        spark, str(landing), corpus, bands, str(tmp_path / "ck2"),
        schema, eval_df=eval_df,
    )
    q2.awaitTermination()
    assert spark.read.parquet(corpus).count() == 3


def test_stream_trigger_policy_lives_in_the_drain_helpers():
    """Every stream drains what has landed and stops: the checkpoint
    and ``availableNow`` trigger are set in exactly one place,
    ``streaming.drain_to_parquet`` / ``drain_foreach_batch``. A
    writer that sets either itself fails here."""
    import ast
    import pathlib

    import bio_lakehouse_spark

    pkg = pathlib.Path(bio_lakehouse_spark.__file__).parent
    helpers = pkg / "streaming" / "__init__.py"
    allowed = {
        n
        for node in ast.parse(helpers.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and node.name in ("drain_to_parquet", "drain_foreach_batch")
        for n in range(node.lineno, node.end_lineno + 1)
    }
    assert allowed, "drain helpers missing from streaming/__init__.py"
    stray = [
        f"{path.relative_to(pkg)}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if (".trigger(" in line or "checkpointLocation" in line)
        and not (path == helpers and i in allowed)
    ]
    assert not stray, "\n".join(stray)
