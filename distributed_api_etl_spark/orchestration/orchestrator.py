"""Pipeline orchestrator: config -> compiled plan -> batched execution.

Entry point parity with the reference (run_pipeline, orchestrator.py:246-261):
load/validate config, resolve source (catalog table XOR caller DataFrame),
normalize the id column to ``request_id`` and prune to the columns the request
builder needs (``prepare_source``, shared with the streaming front-end), then
hand off to the batch engine through the one step every run shares
(``_ingest_step``).

Compile step: the validated pydantic tree is flattened to plain dicts —
the only thing that crosses the driver->executor pickle boundary. No
SparkSession, no sockets, no live tokens in the closure (SURVEY §7.4 #3).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from distributed_api_etl_spark.config.loader import load_config
from distributed_api_etl_spark.config.models import PipelineConfig, validate_dataframe
from distributed_api_etl_spark.orchestration.batch_handler import BronzeBatchHandler
from distributed_api_etl_spark.orchestration.batch_processor import (
    BatchProcessor,
    BatchRunStats,
)


@dataclass
class PipelineResult:
    stats: BatchRunStats
    bronze_df: DataFrame | None = None  # populated in dry-run mode


def prepare_source(
    df: DataFrame, config: PipelineConfig, source_id: str | None = None
) -> DataFrame:
    """The source step every run shares (batch, dry run and streaming):
    check ``df`` against the source contract, make the id column
    (``source_id``, else ``tables.source.id_column``) a string
    ``request_id``, and prune to the columns the request builder binds.
    Works on batch and streaming frames alike; at scale the pruning reaches
    the parquet scan as ReadSchema pruning."""
    src_cfg = config.tables.source
    id_col = source_id or src_cfg.id_column
    ok, errors = validate_dataframe(src_cfg.model_copy(update={"id_column": id_col}), df)
    if not ok:
        raise ValueError(f"source validation failed: {errors}")
    ep = config.endpoint
    needed = (
        {"request_id"}
        | {m.source_column for m in ep.param_mapping + ep.json_body_mapping}
        | ep.template_columns()
    )
    if id_col != "request_id":
        if id_col in needed:
            # A mapping/template binds the id column by its source name.
            # Keep it as a real column (request_id becomes a copy) so the
            # injector sees the value — renaming would silently send the
            # request without the parameter.
            df = df.withColumn("request_id", F.col(id_col))
        else:
            df = df.withColumnRenamed(id_col, "request_id")
    return df.select(*[c for c in df.columns if c in needed]).withColumn(
        "request_id", F.col("request_id").cast("string")
    )


class PipelineOrchestrator:
    def __init__(self, spark: SparkSession, config: PipelineConfig) -> None:
        self.spark = spark
        self.config = config
        self._auth_runtime = None

    @classmethod
    def from_config(cls, spark: SparkSession, config: PipelineConfig | dict | str):
        if not isinstance(config, PipelineConfig):
            config = load_config(config)
        return cls(spark, config)

    # -- source resolution ---------------------------------------------------
    def _resolve_source(self, source_df: DataFrame | None, source_id: str | None) -> DataFrame:
        src_cfg = self.config.tables.source
        configured = src_cfg.full_name is not None or src_cfg.location is not None
        if (source_df is None) == (not configured):
            raise ValueError(
                "exactly one of tables.source.{name,location} or source_df required"
            )
        if source_df is not None:
            df = source_df
        elif src_cfg.location is not None:
            reader = self.spark.read.format(src_cfg.format)
            for k, v in src_cfg.options.items():
                reader = reader.option(k, v)
            df = reader.load(src_cfg.location)
        else:
            df = self.spark.table(src_cfg.full_name)
        return prepare_source(df, self.config, source_id)

    # -- compile -------------------------------------------------------------
    def compile(self, fixed_time: str | None = None) -> dict[str, Any]:
        cfg = self.config
        compiled: dict[str, Any] = {
            "endpoint": cfg.endpoint.model_dump(),
            "transport": cfg.transport.model_dump(),
            "retry": cfg.retry.model_dump(),
            "auth": cfg.auth.model_dump(),
            "middleware": [m.model_dump() for m in cfg.middleware],
            "execution": cfg.execution.model_dump(),
        }
        if fixed_time:
            compiled["fixed_time"] = fixed_time
        if self._auth_runtime is not None:
            compiled["auth"]["rpc_url"] = self._auth_runtime.rpc_url
            compiled["auth"]["rpc_secret"] = self._auth_runtime.rpc_secret
        return compiled

    # -- auth runtime (driver-side) -------------------------------------------
    def _start_auth_runtime(self) -> None:
        if self.config.auth.type in ("oauth2_client_credentials", "oauth2_password"):
            from distributed_api_etl_spark.auth.rpc import RpcBootstrapper

            auth = self.config.auth.model_dump()
            if not auth.get("rpc_bind_host"):
                # Bind where executors connect (reference parity: the token
                # service binds to spark.driver.host, never 0.0.0.0).
                try:
                    auth["rpc_bind_host"] = self.spark.conf.get("spark.driver.host")
                except Exception:  # noqa: BLE001 - conf key absent -> autodetect
                    pass
            self._auth_runtime = RpcBootstrapper(auth)
            self._auth_runtime.start()

    def _stop_auth_runtime(self) -> None:
        if self._auth_runtime is not None:
            self._auth_runtime.stop()
            self._auth_runtime = None

    # -- sink ----------------------------------------------------------------
    def sink_spec(self) -> dict:
        """The configured bronze sink as a plain dict, ``name`` qualified by
        its namespace. Every run that writes needs one: without it the batch
        loop's anti-join sees nothing done and would re-send the whole
        source on every attempt."""
        sink = self.config.tables.sink
        if sink.name is None and sink.location is None:
            raise ValueError("a run that writes bronze requires tables.sink.{name,location}")
        return {**sink.model_dump(), "name": sink.full_name}

    # -- the one ingest step -------------------------------------------------
    def _ingest_step(
        self, source_id: str | None, sink: dict | None, fixed_time: str | None = None
    ) -> Callable[[DataFrame], PipelineResult]:
        """Compile the plan once and return the step that lands one source
        frame: ``BatchProcessor.process`` over a ``BronzeBatchHandler``. A
        batch or dry run calls it once, a stream once per micro-batch.
        Called after the token RPC is up, so the plan carries its URL."""
        compiled = self.compile(fixed_time=fixed_time)
        ex = self.config.execution
        processor = BatchProcessor(
            batch_size=ex.batch_size,
            num_partitions=ex.num_partitions,
            max_attempts=ex.max_attempts,
            id_column=source_id or self.config.tables.source.id_column,
        )

        def step(source: DataFrame) -> PipelineResult:
            handler = BronzeBatchHandler(self.spark, compiled, sink)
            stats = processor.process(source, handler.process, handler.done_ids)
            return PipelineResult(stats=stats, bronze_df=handler.result_df())

        return step

    # -- run -----------------------------------------------------------------
    def run(
        self,
        source_df: DataFrame | None = None,
        source_id: str | None = None,
        dry_run: bool = False,
        fixed_time: str | None = None,
    ) -> PipelineResult:
        source = self._resolve_source(source_df, source_id)
        sink = None if dry_run else self.sink_spec()
        self._start_auth_runtime()
        try:
            return self._ingest_step(source_id, sink, fixed_time)(source)
        finally:
            self._stop_auth_runtime()

    def run_stream(
        self,
        source: DataFrame,
        source_id: str,
        checkpoint_dir: str,
        trigger: dict[str, Any] | None = None,
    ) -> StreamingQuery:
        """Start ``source`` (a streaming frame after ``prepare_source``) as a
        query whose every micro-batch goes through the batch run's step.
        The token RPC is up before the query starts and stops when the query
        terminates, normally or with an exception."""
        sink = self.sink_spec()
        self._start_auth_runtime()
        listener = _OnTermination(self.spark, self._stop_auth_runtime)
        try:
            step = self._ingest_step(source_id, sink)
            writer = (
                source.writeStream.foreachBatch(lambda df, _batch_id: step(df))
                .option("checkpointLocation", checkpoint_dir)
                .outputMode("update")
                .trigger(**(trigger or {"availableNow": True}))
            )
            self.spark.streams.addListener(listener)
            query = writer.start()
        except BaseException:
            listener.close()
            raise
        listener.bind(query.id)
        return query


class _OnTermination(StreamingQueryListener):
    """Removes itself and calls ``stop`` when the bound query terminates.
    It is registered before ``start()`` and bound to the query's id after:
    a query may end before ``start()`` returns, so ids that end before the
    bind are remembered."""

    def __init__(self, spark: SparkSession, stop: Callable[[], None]) -> None:
        self._spark = spark
        self._stop = stop
        self._lock = threading.Lock()
        self._query_id: str | None = None
        self._ended: set[str] = set()

    def bind(self, query_id: str) -> None:
        with self._lock:
            self._query_id = query_id
            ended = query_id in self._ended
        if ended:
            self.close()

    def close(self) -> None:
        self._spark.streams.removeListener(self)
        self._stop()

    def onQueryTerminated(self, event) -> None:  # noqa: N802 - Spark API
        query_id = str(event.id)
        with self._lock:
            if self._query_id is None:
                self._ended.add(query_id)
                return
            if query_id != self._query_id:
                return
        self.close()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        pass


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig | dict | str,
    source_df: DataFrame | None = None,
    source_id: str | None = None,
    dry_run: bool = False,
    fixed_time: str | None = None,
) -> PipelineResult:
    """Primary entry point (reference parity: orchestrator.run_pipeline)."""
    orch = PipelineOrchestrator.from_config(spark, config)
    return orch.run(
        source_df=source_df, source_id=source_id, dry_run=dry_run, fixed_time=fixed_time
    )


def generate_tracking_ids(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Synthesize a demo/test source of n unique tracking ids.

    Reference parity: ``spark.range(n).repartition(p).select(sha2(uuid(),
    256))`` (dags/scripts/run_demo_pipeline.py:62-70). Generation is
    distributed — ``range`` splits across the cluster and uuid() runs
    per-row on executors; no driver-side materialization.
    """
    df = spark.range(n)
    if partitions:
        df = df.repartition(partitions)
    return df.select(F.sha2(F.uuid(), 256).alias("tracking_id"))
