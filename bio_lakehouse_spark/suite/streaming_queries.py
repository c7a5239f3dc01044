"""Driver-certified streaming queries.

VERDICT r7 #7: the streaming mSPRT monitor was pytest-only
(stream ≡ batch + replay idempotence in tests/test_streaming_monitor.py)
— this module puts its RESTART semantics under the driver's
differential gate. ``msprt_streaming_replay`` feeds the events table
through the real Structured Streaming job across THREE separate
``start()``s of the same checkpointed query (initial run, restart
with late-landed data, restart with nothing new — the crash-repair
path), then returns the trajectory recomputed from the persistent
state table. Its oracle is byte-for-byte the certified
``msprt_sequential_daily`` batch oracle, so a green row certifies
stream-across-restarts ≡ batch.
"""

from __future__ import annotations

import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bio_lakehouse_spark.streaming import drain_to_parquet
from bio_lakehouse_spark.suite.pipeline_queries import fixture_path
from bio_lakehouse_spark.suite.registry import REGISTRY, load, register

R6 = lambda c: F.round(c, 6)  # noqa: E731

_EVENT_SCHEMA = "event_id long, ts string, event_type string, value double"


def _land(ev: DataFrame, landing: str, bucket: int) -> None:
    """Append one third of the events (pmod(event_id, 3) == bucket)
    to the landing dir as JSON — new part-files, which the next
    stream start discovers as new input."""
    (
        ev.where(F.pmod("event_id", F.lit(3)) == bucket)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "event_type",
            "value",
        )
        .write.mode("append")
        .json(landing)
    )


@register(
    "msprt_streaming_replay",
    survey=("ST11", "ST10", "S12"),
    # The exact batch oracle: stream-across-restarts must equal the
    # all-at-once computation. hypothesis_queries is imported before
    # this module (suite/__init__ order), so the registry has it.
    oracle=REGISTRY["msprt_sequential_daily"].oracle,
)
def msprt_streaming_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid mSPRT trajectory computed by the STREAMING monitor
    (streaming/monitor.stream_msprt_monitor) across three restarts of
    one checkpointed query: (1) two thirds of the events land and the
    job runs to availableNow-completion; (2) the last third lands and
    the SAME query restarts from its checkpoint, folding only the new
    files into the batch_id-guarded state table; (3) a final restart
    with no new input exercises the crash-repair republish path (a
    no-op on state). The returned frame is ``msprt_from_state`` —
    the trajectory as a pure function of the persistent state — with
    the same column contract as ``msprt_sequential_daily``, whose
    batch oracle this query shares verbatim. Per-batch cost is
    O(batch + days); state grows one row per (batch, day), never per
    event."""
    from bio_lakehouse_spark.streaming.monitor import (
        msprt_from_state,
        stream_msprt_monitor,
    )

    root = fixture_path("msprt_stream", sf_dir)
    done = root.parent / (root.name + "_DONE")
    landing = str(root / "landing")
    state = str(root / "state")
    out = str(root / "out")
    ckpt = str(root / "ckpt")

    def _run() -> None:
        q = stream_msprt_monitor(
            spark,
            landing_dir=landing,
            state_dir=state,
            out_dir=out,
            checkpoint_dir=ckpt,
            schema=_EVENT_SCHEMA,
        )
        q.awaitTermination(600)

    if not done.exists():
        shutil.rmtree(root, ignore_errors=True)
        ev = load(spark, sf_dir, "events")
        _land(ev, landing, 0)
        _land(ev, landing, 1)
        _run()                    # initial run: two thirds
        _land(ev, landing, 2)
        _run()                    # restart: folds only the new files
        _run()                    # restart with nothing new: no-op
        done.touch()

    # Named empty-source contract (VERDICT r12 #6): an empty events
    # table lands no files, the monitor writes no state table, and
    # msprt_from_state used to die with a raw PATH_NOT_FOUND.
    from bio_lakehouse_spark.suite.registry import require_artifact

    require_artifact(
        pathlib.Path(state).exists(),
        "msprt_streaming_replay", "events", "streaming state table",
    )
    traj = msprt_from_state(spark, state, tau2=1.0)
    return traj.select(
        "date",
        "n_treat",
        "n_ctrl",
        R6(F.col("theta")).alias("theta"),
        R6(F.col("log_lambda")).alias("log_lambda"),
        R6(F.col("p_always_valid")).alias("p_always_valid"),
    )


_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


@register(
    "stream_dedup_ingest_replay",
    survey=("A11", "F9", "S12"),
    oracle="""
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')))
         AS text_hash,
       CAST(1 AS BIGINT) AS n_rows
FROM documents GROUP BY 1
""",
)
def stream_dedup_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once corpus construction by the STREAMING exact-dedup
    ingest (streaming/ingest.stream_documents_dedup_ingest) across
    three restarts of one checkpointed query: two thirds of the
    documents land and the job runs to completion, the last third
    lands and the job restarts from its checkpoint, then a final
    restart with nothing new exercises the no-op path. The returned
    frame is the ingested corpus grouped by normalized-text
    fingerprint with its row count — the contract is the core
    exact-dedup invariant, ONE corpus row per distinct normalized
    text, no matter how the file source grouped the landed files
    into microbatches (which id survives is batch-order-dependent by
    design — first batch wins — so the id itself is deliberately NOT
    in the hash contract; the keep-min-per-batch policy is pinned in
    tests/test_streaming_ivm.py). Oracle: the certified dedup_exact
    grouping over the same documents, n_rows ≡ 1."""
    from bio_lakehouse_spark.operators.textops import fingerprint_exact
    from bio_lakehouse_spark.streaming.ingest import (
        stream_documents_dedup_ingest,
    )

    root = fixture_path("dedup_stream", sf_dir)
    done = root.parent / (root.name + "_DONE")
    landing = str(root / "landing")
    corpus = str(root / "corpus")
    fps = str(root / "fingerprints")
    ckpt = str(root / "ckpt")

    def _run() -> None:
        q = stream_documents_dedup_ingest(
            spark,
            landing_dir=landing,
            corpus_dir=corpus,
            fingerprint_dir=fps,
            checkpoint_dir=ckpt,
            schema=_DOC_SCHEMA,
        )
        q.awaitTermination(600)

    if not done.exists():
        shutil.rmtree(root, ignore_errors=True)
        docs = load(spark, sf_dir, "documents")

        def land(bucket: int) -> None:
            (
                docs.where(F.pmod("doc_id", F.lit(3)) == bucket)
                .write.mode("append")
                .json(landing)
            )

        land(0)
        land(1)
        _run()                    # initial run: two thirds
        land(2)
        _run()                    # restart: only the new files fold in
        _run()                    # restart with nothing new: no-op
        done.touch()

    # Named empty-source contract (VERDICT r12 #6): an empty
    # documents table lands no files and the ingest writes no corpus
    # — the read-back used to die with a raw PATH_NOT_FOUND.
    from bio_lakehouse_spark.suite.registry import require_artifact

    require_artifact(
        pathlib.Path(corpus).exists(),
        "stream_dedup_ingest_replay", "documents", "ingested corpus",
    )
    got = spark.read.parquet(corpus)
    return (
        got.groupBy(fingerprint_exact("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


@register(
    "stream_hopping_replay",
    survey=("A1", "W2", "S12"),
    # Byte-for-byte the certified batch hopping-window oracle:
    # stream-across-restarts (with watermark finalization) must equal
    # the all-at-once computation.
    oracle=REGISTRY["hopping_window_counts"].oracle,
)
def stream_hopping_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE stateful windowed aggregation under
    readStream — 10-minute windows hopping every 5, watermark 1
    minute, APPEND mode into an exactly-once parquet file sink —
    across three restarts of one checkpointed query: (1) two thirds
    of the events land and run to availableNow-completion, (2) the
    last third lands and the SAME query restarts from its
    checkpoint, (3) a far-future SENTINEL event lands and the final
    restart pushes the watermark past every real window, so append
    mode finalizes and emits them all (the production heartbeat
    trick for bounded replays; Spark's no-data micro-batch then
    evicts state). The sentinel's own windows sit beyond the final
    watermark and are never emitted, so the result equals the batch
    `hopping_window_counts` exactly — whose oracle this query shares
    verbatim. This certifies the third streaming pillar after custom
    state (msprt) and forEachBatch ingest (dedup): built-in window
    state + watermark semantics + append finalization across
    restarts."""
    root = fixture_path("hopping_stream", sf_dir)
    done = root.parent / (root.name + "_DONE")
    landing = str(root / "landing")
    out = str(root / "out")
    ckpt = str(root / "ckpt")

    def _run() -> None:
        src = (
            spark.readStream.schema(_EVENT_SCHEMA)
            .json(landing)
            .select(F.to_timestamp("ts").alias("ts"), "event_type")
        )
        agg = (
            src.withWatermark("ts", "1 minute")
            .groupBy(
                F.window("ts", "10 minutes", "5 minutes").alias("w"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                "event_type",
                "n_events",
            )
        )
        drain_to_parquet(agg, out, ckpt).awaitTermination(600)

    if not done.exists():
        shutil.rmtree(root, ignore_errors=True)
        ev = load(spark, sf_dir, "events")
        # Land in EVENT-TIME terciles: each restart appends strictly
        # NEWER data, as a replayed production feed would. (Bucketing
        # by id would hand the watermark wholesale late data — which
        # native windowed aggregation CORRECTLY drops; that
        # drop-late-data contract is exercised in pytest, while this
        # query certifies restart/finalization equivalence.)
        lo, hi = ev.agg(
            F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
        ).first()
        if lo is None:
            # Empty events table (r12 empty-corpus sweep): there is
            # nothing to land and nothing to replay — return the
            # empty result frame directly instead of TypeError'ing
            # on None timestamp arithmetic.
            shutil.rmtree(root, ignore_errors=True)
            return spark.createDataFrame(
                [],
                "win_start timestamp, win_end timestamp,"
                " event_type string, n_events long",
            )
        c1, c2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3

        def _land_span(lo_s: int | None, hi_s: int | None) -> None:
            cond = F.lit(True)
            if lo_s is not None:
                cond = cond & (F.unix_timestamp("ts") >= lo_s)
            if hi_s is not None:
                cond = cond & (F.unix_timestamp("ts") < hi_s)
            (
                ev.where(cond)
                .select(
                    "event_id",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                    "event_type",
                    "value",
                )
                .write.mode("append")
                .json(landing)
            )

        _land_span(None, c1)
        _land_span(c1, c2)
        _run()                    # initial run: two thirds
        _land_span(c2, None)
        _run()                    # restart: folds only the new files
        # sentinel: one event 60 days past the corpus, advancing the
        # watermark beyond every real window on the final restart
        sentinel = ev.agg(
            F.date_format(
                F.max("ts") + F.expr("INTERVAL 60 DAYS"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("ts")
        ).select(
            F.lit(-1).cast("long").alias("event_id"),
            "ts",
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
        )
        sentinel.write.mode("append").json(landing)
        _run()                    # restart: watermark push + finalize
        done.touch()

    got = spark.read.parquet(out)
    return got.select(
        "win_start",
        "win_end",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )
