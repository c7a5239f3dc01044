"""Stream-stream joins: watermarked interval join for attribution.

The reference has no streaming (SURVEY §2.10); this is the
beyond-reference streaming analog of the suite's range/as-of joins —
the click→purchase attribution shape every event pipeline needs.

Scale shape: a stream-stream inner join keeps BOTH sides' rows in
state until the join condition can no longer match them. The time-
interval condition (purchase within ``horizon`` after the click) plus
watermarks on both sides lets Spark derive exact state eviction: a
click older than watermark−horizon can never match a future purchase
and is dropped, so state is bounded by events-per-horizon, not stream
length. Without the interval bound the state grows forever — that's
the failure mode this module's shape avoids by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bio_lakehouse_spark.streaming import drain_to_parquet


def attribute_purchases_to_clicks(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Inner interval join: each purchase pairs with every click by
    the same user in the preceding ``horizon``. Works identically on
    batch and streaming inputs (the batch twin is the test oracle);
    on streams both sides MUST carry the watermark for state
    eviction."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "click_value",
        "purchase_value",
    )


def stream_attribution_to_parquet(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
):
    """File-source → stream-stream interval join → parquet append,
    drained batch-style with full streaming semantics."""

    def src(d: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("header", "true")
            .csv(d)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    joined = attribute_purchases_to_clicks(
        src(clicks_dir), src(purchases_dir), horizon, watermark
    )
    return drain_to_parquet(joined, out_dir, checkpoint_dir)
