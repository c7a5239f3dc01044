"""Streaming experiment monitor: always-valid sequential testing
(mSPRT) as a continuously-updated product.

Fixed-horizon tests go stale the moment a dashboard refreshes on
live data; the always-valid p-value (operators/stats.msprt_two_sample)
is the monitor you're ALLOWED to look at every microbatch. This module
runs it as a Structured Streaming job with the repo's standard
foreachBatch + persistent-state shape (the incremental-dedup /
IVF-append pattern): per-batch work is O(batch), the recomputed
trajectory is O(days) — never O(events).

State layout: an append-only parquet of per-(batch, date, arm) sums
tagged with the writer's batch_id. Replayed batches anti-join away on
batch_id BEFORE appending, so a crash+replay cannot double-count a
day — the same idempotence treatment as stream_documents_dedup_ingest.
The published trajectory is derived entirely from the state table, so
it is reproducible from state alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bio_lakehouse_spark.operators.stats import msprt_two_sample
from bio_lakehouse_spark.streaming import drain_foreach_batch


def daily_arm_sums(
    events: DataFrame,
    treat_type: str = "click",
    control_type: str = "view",
) -> DataFrame:
    """Per-day per-arm sufficient statistics (count, Σv, Σv²) — the
    ONLY thing the monitor ever accumulates. Everything mSPRT needs
    is a sum, so batches merge by addition and the daily frame stays
    tiny no matter the event volume."""
    ev = events.where(F.col("value").isNotNull())
    is_x = F.col("event_type") == treat_type
    is_y = F.col("event_type") == control_type
    return ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.sum(is_x.cast("int")).alias("nx"),
        F.sum(F.when(is_x, F.col("value")).otherwise(0.0)).alias("sx"),
        F.sum(
            F.when(is_x, F.col("value") * F.col("value")).otherwise(0.0)
        ).alias("sxx"),
        F.sum(is_y.cast("int")).alias("ny"),
        F.sum(F.when(is_y, F.col("value")).otherwise(0.0)).alias("sy"),
        F.sum(
            F.when(is_y, F.col("value") * F.col("value")).otherwise(0.0)
        ).alias("syy"),
    )


def msprt_from_state(spark: SparkSession, state_dir: str, tau2: float = 1.0) -> DataFrame:
    """Recompute the full always-valid trajectory from the state
    table: sum the per-batch daily rows into one row per day (O(days)
    output), then run the closed-form mSPRT windows."""
    state = spark.read.parquet(state_dir)
    daily = state.groupBy("date").agg(
        F.sum("nx").alias("nx"),
        F.sum("sx").alias("sx"),
        F.sum("sxx").alias("sxx"),
        F.sum("ny").alias("ny"),
        F.sum("sy").alias("sy"),
        F.sum("syy").alias("syy"),
    )
    return msprt_two_sample(daily, tau2=tau2)


def stream_msprt_monitor(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    treat_type: str = "click",
    control_type: str = "view",
    tau2: float = 1.0,
):
    """Continuously-monitored A/B experiment over a landed event
    stream: each microbatch folds its events into per-day sufficient
    statistics, appends them (batch_id-tagged, replay-idempotent) to
    the state table, and republishes the full always-valid p-value
    trajectory to ``out_dir``.

    Crash semantics: the state append lands before the trajectory
    overwrite; a crash between the two leaves a stale trajectory that
    the NEXT batch (or an empty replay) repairs, never a wrong one —
    the trajectory is a pure function of state. A replayed batch's
    rows anti-join away on batch_id, so state never double-counts.
    """
    from pyspark.sql.utils import AnalysisException

    src = spark.readStream.schema(schema).json(landing_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            sums = daily_arm_sums(
                batch_df, treat_type=treat_type, control_type=control_type
            ).withColumn("batch_id", F.lit(batch_id).cast("long"))
            try:
                seen = (
                    spark.read.parquet(state_dir)
                    .select("batch_id")
                    .distinct()
                )
                sums = sums.join(seen, "batch_id", "left_anti")
            except AnalysisException:
                pass  # first-ever batch: no state yet
            sums.write.mode("append").parquet(state_dir)
        # Republish the trajectory (cheap: O(days)) even on empty/
        # replayed batches so a crash between append and publish is
        # always repaired by the next trigger.
        try:
            msprt_from_state(spark, state_dir, tau2=tau2).write.mode(
                "overwrite"
            ).parquet(out_dir)
        except AnalysisException:
            pass  # nothing landed yet

    return drain_foreach_batch(src, apply_batch, checkpoint_dir)
