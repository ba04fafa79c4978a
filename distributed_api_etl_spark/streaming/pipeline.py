"""Structured Streaming front-end for the API-ETL pipeline.

The reference's batch engine is morally a micro-batch stream (anti-join diff
-> process -> append, repeated). The Spark-native form IS Structured
Streaming: ``readStream`` source -> ``foreachBatch`` that reuses the exact
same compiled partition executor + bronze writer per micro-batch, with
checkpointed offsets replacing the anti-join for incrementality (the
anti-join remains as a safety net for at-least-once sinks).

100 TB / continuous-ingest design notes:
  * offsets+checkpoint give exactly-once *source* progress; the sink stays
    append + request_id dedup on read (or Delta MERGE when available);
  * per-micro-batch repartition keeps the HTTP stage at the configured
    fan-out regardless of source partitioning;
  * rate limiting is per partition x per micro-batch, so cluster-wide RPS =
    max_requests_per_second x num_partitions.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from distributed_api_etl_spark.config.models import PipelineConfig
from distributed_api_etl_spark.orchestration.batch_handler import BronzeBatchHandler
from distributed_api_etl_spark.orchestration.orchestrator import (
    PipelineOrchestrator,
    prepare_source,
)


def run_streaming_pipeline(
    spark: SparkSession,
    config: PipelineConfig | dict | str,
    stream_df: DataFrame,
    source_id: str,
    checkpoint_dir: str,
    trigger: dict[str, Any] | None = None,
):
    """Start the streaming pipeline; returns the StreamingQuery.

    ``stream_df`` is any streaming DataFrame containing ``source_id`` plus
    the mapped columns. It goes through the same source step as a batch run
    (``prepare_source``), once, before the query starts. ``trigger``
    defaults to availableNow (drain-and-stop, the batch-parity mode); pass
    {"processingTime": "10 seconds"} for continuous micro-batches.
    """
    orch = PipelineOrchestrator.from_config(spark, config)
    handler = BronzeBatchHandler(spark, orch.compile(), orch.sink_spec())
    source = prepare_source(stream_df, orch.config, source_id)
    n = orch.config.execution.num_partitions or spark.sparkContext.defaultParallelism

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        handler.process(batch_df.repartition(n))

    writer = (
        source.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    trigger = trigger or {"availableNow": True}
    writer = writer.trigger(**trigger)
    return writer.start()
