"""Declarative pipeline configuration (pydantic v2).

Rebuilds the reference's config language (PipelineConfig{endpoint, transport,
auth, middleware, tables, execution} — src/config/models/pipeline.py:11-20 in
the reference) with the gaps fixed:

  * ``struct`` schema type actually maps to Spark (the reference declares it
    but raises "Unsupported type", data_contract.py:146-148);
  * ``ColumnMapping.transform`` (upper/lower/strip) is consumed for real
    (declared-but-dead in the reference, data_contract.py:167-170);
  * ``execution.max_requests_per_second`` exists and is enforced by a token
    bucket (documented-but-absent in the reference, docs/configuration.md:23).

Config is validated once on the driver, then compiled to picklable plain
dicts/closures that cross the executor serialization boundary; nothing here
captures a SparkSession or a live socket.
"""

from __future__ import annotations

import enum
from typing import Any, Literal, Optional, Union

from pydantic import BaseModel, Field, field_validator, model_validator


class DataType(str, enum.Enum):
    string = "string"
    integer = "integer"
    long = "long"
    float = "float"
    double = "double"
    boolean = "boolean"
    timestamp = "timestamp"
    date = "date"
    binary = "binary"
    array = "array"
    map = "map"
    struct = "struct"


_SIMPLE_SPARK_TYPES = {
    DataType.string: "StringType",
    DataType.integer: "IntegerType",
    DataType.long: "LongType",
    DataType.float: "FloatType",
    DataType.double: "DoubleType",
    DataType.boolean: "BooleanType",
    DataType.timestamp: "TimestampType",
    DataType.date: "DateType",
    DataType.binary: "BinaryType",
}


class ColumnSchema(BaseModel):
    name: str
    type: DataType
    nullable: bool = True
    description: str | None = None
    # container types
    element_type: Optional["ColumnSchema"] = None  # for array
    key_type: DataType | None = None  # for map (keys are simple types)
    value_type: Optional["ColumnSchema"] = None  # for map
    fields: list["ColumnSchema"] | None = None  # for struct

    @model_validator(mode="after")
    def _check_containers(self) -> "ColumnSchema":
        if self.type == DataType.array and self.element_type is None:
            raise ValueError(f"array column {self.name!r} requires element_type")
        if self.type == DataType.map and (self.key_type is None or self.value_type is None):
            raise ValueError(f"map column {self.name!r} requires key_type and value_type")
        if self.type == DataType.struct and not self.fields:
            raise ValueError(f"struct column {self.name!r} requires fields")
        return self

    def to_spark_type(self):
        from pyspark.sql import types as T

        if self.type in _SIMPLE_SPARK_TYPES:
            return getattr(T, _SIMPLE_SPARK_TYPES[self.type])()
        if self.type == DataType.array:
            return T.ArrayType(self.element_type.to_spark_type(), containsNull=True)
        if self.type == DataType.map:
            key = ColumnSchema(name="key", type=self.key_type).to_spark_type()
            return T.MapType(key, self.value_type.to_spark_type(), valueContainsNull=True)
        if self.type == DataType.struct:
            return T.StructType([f.to_struct_field() for f in self.fields])
        raise ValueError(f"unsupported type: {self.type}")  # pragma: no cover

    def to_struct_field(self):
        from pyspark.sql import types as T

        metadata = {"comment": self.description} if self.description else {}
        return T.StructField(self.name, self.to_spark_type(), self.nullable, metadata)


class TableSchema(BaseModel):
    columns: list[ColumnSchema]

    def to_spark_schema(self):
        from pyspark.sql import types as T

        return T.StructType([c.to_struct_field() for c in self.columns])

    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]


class ColumnMapping(BaseModel):
    """endpoint_param -> source column, with an optional transform applied
    JVM-side before the value reaches the request builder."""

    endpoint_param: str
    source_column: str
    transform: Literal["upper", "lower", "strip"] | None = None


class _CatalogTable(BaseModel):
    """A table addressed in the catalog as ``namespace.name``."""

    namespace: str | None = None
    name: str | None = None

    @property
    def full_name(self) -> str | None:
        if self.name is None:
            return None
        return f"{self.namespace}.{self.name}" if self.namespace else self.name


class SourceTableConfig(_CatalogTable):
    """Source: catalog table (``namespace.name``), file location, or a
    caller-supplied DataFrame — exactly one. The reference supports only
    catalog XOR DataFrame; ``location`` adds direct file reads (the
    Spark-native case: parquet/csv/json paths without a metastore)."""

    location: str | None = None
    # xml is Spark 4 native (set options.rowTag); avro needs the external
    # spark-avro jar, not deployed in this runtime — rejected eagerly here
    format: Literal["parquet", "csv", "json", "orc", "xml"] = "parquet"
    options: dict[str, str] = Field(default_factory=dict)  # e.g. csv header
    id_column: str = "tracking_id"
    table_schema: TableSchema | None = Field(default=None, alias="schema")
    model_config = {"populate_by_name": True}

    @model_validator(mode="after")
    def _check_source(self) -> "SourceTableConfig":
        if self.name is not None and self.location is not None:
            raise ValueError("source: give namespace.name OR location, not both")
        return self


class SinkConfig(_CatalogTable):
    format: Literal["delta", "parquet"] = "parquet"
    location: str | None = None
    # merge => exactly-once upsert on request_id: Delta MERGE when format is
    # delta, insert-only anti-join append for parquet
    mode: Literal["append", "merge"] = "append"
    partition_by: list[str] = Field(default_factory=list)

    @model_validator(mode="after")
    def _check(self) -> "SinkConfig":
        if self.mode == "merge" and self.format == "parquet" and not self.location:
            raise ValueError("parquet merge mode requires an explicit location")
        if self.partition_by:
            from distributed_api_etl_spark.core.bronze import BRONZE_COLUMNS

            bad = set(self.partition_by) - set(BRONZE_COLUMNS)
            if bad:
                raise ValueError(f"partition_by references non-bronze columns: {sorted(bad)}")
        return self


class TablesConfig(BaseModel):
    source: SourceTableConfig = Field(default_factory=SourceTableConfig)
    sink: SinkConfig = Field(default_factory=SinkConfig)


class PaginationConfig(BaseModel):
    """Multi-page requests per source row (page-number or cursor mode);
    pages are aggregated into one bronze record (JSON array body)."""

    mode: Literal["page", "cursor"] = "page"
    page_param: str = "page"
    start_page: int = 1
    max_pages: int = 10
    cursor_param: str = "cursor"
    cursor_json_path: str = "next"
    stop_on_empty_json_path: str | None = None

    @field_validator("max_pages")
    @classmethod
    def _positive(cls, v: int) -> int:
        if v <= 0:
            raise ValueError("max_pages must be positive")
        return v


class EndpointConfig(BaseModel):
    """Request shape. ``request_template`` and ``response_schema`` are
    declared-but-dead in the reference (endpoint.py:15-16); here both are
    consumed for real: the template renders per-row JSON bodies, the
    response schema drives the silver-layer ``from_json`` extraction."""

    method: Literal["GET", "POST", "PUT", "PATCH", "DELETE"] = "GET"
    url: str
    headers: dict[str, str] = Field(default_factory=dict)
    param_mapping: list[ColumnMapping] = Field(default_factory=list)
    json_body_mapping: list[ColumnMapping] = Field(default_factory=list)
    #: JSON body template; string leaves may hold ``{column}`` placeholders
    #: substituted from the source row (json_body_mapping overrides on key
    #: collision — it runs after the template renders).
    request_template: dict[str, Any] | None = None
    #: Declared schema of the (JSON) response body — enables typed
    #: silver extraction from bronze ``body_text``.
    response_schema: TableSchema | None = None
    #: Follow page numbers / cursors: one row -> N requests -> one record.
    pagination: PaginationConfig | None = None
    timeout: float | None = None
    metadata: dict[str, str] = Field(default_factory=dict)

    @model_validator(mode="after")
    def _check_template(self) -> "EndpointConfig":
        # fail fast on the driver: a malformed format string (stray brace)
        # must never reach the workers
        try:
            self.template_columns()
        except ValueError as exc:
            raise ValueError(f"invalid request_template format string: {exc}") from exc
        return self

    def template_columns(self) -> set[str]:
        """Source columns referenced by ``{...}`` placeholders in the
        template (needed for scan-level column pruning). Raises ValueError
        on malformed format strings."""
        import string as _string

        cols: set[str] = set()

        def walk(node: Any) -> None:
            if isinstance(node, str):
                for _, field_name, _, _ in _string.Formatter().parse(node):
                    if field_name:
                        cols.add(field_name)
            elif isinstance(node, dict):
                for v in node.values():
                    walk(v)
            elif isinstance(node, list):
                for v in node:
                    walk(v)

        if self.request_template:
            walk(self.request_template)
        return cols


class RetryConfig(BaseModel):
    max_attempts: int = 10
    base_delay: float = 0.1
    max_delay: float = 2.0
    retry_statuses: list[int] = Field(default_factory=lambda: [429, 500, 502, 503, 504])


class MiddlewareSpec(BaseModel):
    type: Literal["logging", "timing", "worker_identity"]


class TransportConfig(BaseModel):
    engine: Literal["auto", "aiohttp", "asyncio", "mock"] = "auto"
    base_timeout: float = 30.0
    warmup: bool = False
    warmup_timeout: float = 10.0
    verify_tls: bool = True
    ca_bundle: str | None = None
    client_cert: str | None = None
    client_key: str | None = None
    pool_limit: int = 100
    diagnostics: bool = True
    # mock engine knobs (deterministic testing / dry runs)
    mock_latency: float = 0.0
    mock_fail_first_attempts: int = 0
    mock_fail_status: int = 503


class BasicAuthConfig(BaseModel):
    type: Literal["basic"] = "basic"
    username: str
    password: str


class StaticBearerAuthConfig(BaseModel):
    type: Literal["bearer_static"] = "bearer_static"
    token: str


class OAuth2Config(BaseModel):
    type: Literal["oauth2_client_credentials", "oauth2_password"] = (
        "oauth2_client_credentials"
    )
    token_url: str
    client_id: str
    client_secret: str
    username: str | None = None
    password: str | None = None
    scope: str | None = None
    refresh_margin: float = 60.0
    rpc_enabled: bool = True  # driver token RPC; workers fall back to direct grant
    rpc_port: int = 0  # 0 => pick a free safe port (explicit values are screened)
    rpc_bind_host: str | None = None  # default: spark.driver.host / autodetect

    @model_validator(mode="after")
    def _check(self) -> "OAuth2Config":
        if self.type == "oauth2_password" and not (self.username and self.password):
            raise ValueError("oauth2_password requires username and password")
        return self


class NoAuthConfig(BaseModel):
    type: Literal["none"] = "none"


AuthConfig = Union[NoAuthConfig, BasicAuthConfig, StaticBearerAuthConfig, OAuth2Config]


class ExecutionConfig(BaseModel):
    batch_size: int = 10_000
    num_partitions: int | None = 200
    max_attempts: int = 5
    max_concurrent_requests: int = 20
    max_requests_per_second: float | None = None  # per partition; None => unlimited
    chunk_size: int = 5_000  # rows materialized per asyncio run (memory bound)

    @field_validator("batch_size", "max_attempts", "max_concurrent_requests", "chunk_size")
    @classmethod
    def _positive(cls, v: int) -> int:
        if v <= 0:
            raise ValueError("must be positive")
        return v


class PipelineConfig(BaseModel):
    endpoint: EndpointConfig
    transport: TransportConfig = Field(default_factory=TransportConfig)
    auth: AuthConfig = Field(default=NoAuthConfig(), discriminator="type")
    retry: RetryConfig = Field(default_factory=RetryConfig)
    middleware: list[MiddlewareSpec] = Field(default_factory=list)
    tables: TablesConfig = Field(default_factory=TablesConfig)
    execution: ExecutionConfig = Field(default_factory=ExecutionConfig)

    @model_validator(mode="after")
    def _cross_field(self) -> "PipelineConfig":
        schema = self.tables.source.table_schema
        if schema is not None:
            cols = set(schema.column_names())
            if self.tables.source.id_column not in cols:
                raise ValueError(
                    f"id_column {self.tables.source.id_column!r} not in declared source schema"
                )
            for m in self.endpoint.param_mapping + self.endpoint.json_body_mapping:
                if m.source_column not in cols:
                    raise ValueError(
                        f"mapping references unknown column {m.source_column!r}"
                    )
        return self


def validate_dataframe(config: SourceTableConfig, df) -> tuple[bool, list[str]]:
    """Contract check: id column present; declared schema ⊆ df.columns.

    Reference parity: validate_dataframe, data_contract.py:215-241.
    """
    errors: list[str] = []
    cols = set(df.columns)
    if config.id_column not in cols:
        errors.append(f"missing id column {config.id_column!r}")
    if config.table_schema is not None:
        missing = set(config.table_schema.column_names()) - cols
        if missing:
            errors.append(f"missing declared columns: {sorted(missing)}")
    return (not errors, errors)
