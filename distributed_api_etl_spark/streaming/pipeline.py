"""Structured Streaming front-end for the API-ETL pipeline.

The batch engine is morally a micro-batch stream (anti-join diff -> process
-> append, repeated); the Spark-native form is Structured Streaming: a
``readStream`` source whose ``foreachBatch`` runs the batch run's own step
(``PipelineOrchestrator.run_stream``). Each micro-batch goes through
``BatchProcessor.process`` with the same compiled plan and bronze handler a
batch run uses: the null-id check, the anti-join against the sink, hash
batches repartitioned by the ``num_partitions`` rule, driver retries and the
confirming re-read. OAuth2 workers ask the driver's token RPC, which runs
from before the query starts until it terminates.

100 TB / continuous-ingest design notes:
  * offsets + checkpoint give exactly-once *source* progress, and the
    anti-join makes a redelivered micro-batch (``foreachBatch`` is
    at-least-once) send and land nothing twice;
  * each micro-batch reads the sink's ``request_id`` column to diff against
    it, as each attempt of a batch run does;
  * rate limiting is per partition x per micro-batch, so cluster-wide RPS =
    max_requests_per_second x num_partitions.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from distributed_api_etl_spark.config.models import PipelineConfig
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
    source = prepare_source(stream_df, orch.config, source_id)
    return orch.run_stream(source, source_id, checkpoint_dir, trigger)
