"""Structured Streaming layer (SURVEY.md §2.10 stretch).

The reference has no streaming operators — its "events" are S3
notifications chained through Lambda/EventBridge (ref
lambda/ingestion_trigger/handler.py:328+, pipeline_orchestrator). This
package replaces that orchestration idiom natively: a file-source
stream on the bronze landing path, and watermarked windowed
aggregation for late events.

Every stream here drains what has landed and stops: the two sinks
below are the only writers, and both run with the ``availableNow``
trigger, so a query processes its backlog in micro-batches, commits
the checkpoint and terminates (the daily-batch cadence). The caller
``awaitTermination()``s the returned query; a restart on the same
checkpoint picks up only files that landed since.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def drain_to_parquet(
    df: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Start ``df`` as an append-mode parquet file sink at ``path``
    (exactly-once through the sink's own ``_spark_metadata`` log)."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def drain_foreach_batch(
    df: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start ``df`` with ``apply_batch(batch_df, batch_id)`` called on
    each micro-batch."""
    return (
        df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
