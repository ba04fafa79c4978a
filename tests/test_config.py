from __future__ import annotations

import pytest

from distributed_api_etl_spark.config import load_config
from distributed_api_etl_spark.config.models import (
    ColumnSchema,
    DataType,
    PipelineConfig,
    TableSchema,
)

MINIMAL = {
    "endpoint": {"url": "http://api.local/v1/things", "method": "GET"},
}


def test_minimal_config_defaults():
    cfg = PipelineConfig.model_validate(MINIMAL)
    assert cfg.execution.batch_size == 10_000
    assert cfg.execution.max_concurrent_requests == 20
    assert cfg.execution.max_attempts == 5
    assert cfg.retry.max_attempts == 10
    assert cfg.auth.type == "none"
    assert cfg.tables.source.id_column == "tracking_id"


def test_yaml_round_trip(tmp_path):
    p = tmp_path / "pipe.yml"
    p.write_text(
        """
endpoint:
  url: http://api.local/v1
  method: POST
  param_mapping:
    - endpoint_param: pid
      source_column: patient_id
      transform: upper
auth:
  type: basic
  username: u
  password: p
execution:
  batch_size: 5
"""
    )
    cfg = load_config(str(p))
    assert cfg.endpoint.method == "POST"
    assert cfg.endpoint.param_mapping[0].transform == "upper"
    assert cfg.auth.type == "basic"
    assert cfg.execution.batch_size == 5


def test_secret_resolution(monkeypatch):
    monkeypatch.setenv("SECRET_SCOPE1_APIKEY", "s3cret")
    cfg = load_config(
        {
            "endpoint": {
                "url": "http://x",
                "headers": {"X-Api-Key": "{{secret.scope1:apikey}}"},
            }
        }
    )
    assert cfg.endpoint.headers["X-Api-Key"] == "s3cret"


def test_struct_type_maps_to_spark():
    # the reference declares struct but raises; we support it
    col = ColumnSchema(
        name="payload",
        type=DataType.struct,
        fields=[
            ColumnSchema(name="a", type=DataType.long),
            ColumnSchema(
                name="tags",
                type=DataType.array,
                element_type=ColumnSchema(name="e", type=DataType.string),
            ),
        ],
    )
    t = col.to_spark_type()
    assert t.simpleString() == "struct<a:bigint,tags:array<string>>"


def test_schema_to_spark():
    ts = TableSchema(
        columns=[
            ColumnSchema(name="id", type=DataType.string, nullable=False),
            ColumnSchema(
                name="m",
                type=DataType.map,
                key_type=DataType.string,
                value_type=ColumnSchema(name="v", type=DataType.integer),
            ),
        ]
    )
    s = ts.to_spark_schema()
    assert s.simpleString() == "struct<id:string,m:map<string,int>>"
    assert s.fields[0].nullable is False


def test_cross_field_validation_rejects_unknown_mapping():
    bad = {
        "endpoint": {
            "url": "http://x",
            "param_mapping": [{"endpoint_param": "a", "source_column": "nope"}],
        },
        "tables": {
            "source": {
                "schema": {"columns": [{"name": "tracking_id", "type": "string"}]}
            }
        },
    }
    with pytest.raises(ValueError, match="nope"):
        PipelineConfig.model_validate(bad)


def test_merge_requires_delta():
    with pytest.raises(ValueError, match="merge"):
        PipelineConfig.model_validate(
            {
                "endpoint": {"url": "http://x"},
                "tables": {"sink": {"name": "t", "format": "parquet", "mode": "merge"}},
            }
        )


def test_unknown_middleware_rejected():
    """A misspelled middleware name fails validation instead of silently
    leaving that middleware out of the chain."""
    with pytest.raises(ValueError, match="timng"):
        PipelineConfig.model_validate({**MINIMAL, "middleware": [{"type": "timng"}]})
    cfg = PipelineConfig.model_validate(
        {**MINIMAL, "middleware": [{"type": t} for t in ("logging", "timing", "worker_identity")]}
    )
    assert [m.type for m in cfg.middleware] == ["logging", "timing", "worker_identity"]


def test_transport_engine_names():
    """The stdlib HTTP engine is ``asyncio``; the removed thread-pool
    engine's name ``requests`` fails validation instead of resolving."""
    for name in ("auto", "aiohttp", "asyncio", "mock"):
        cfg = PipelineConfig.model_validate({**MINIMAL, "transport": {"engine": name}})
        assert cfg.transport.engine == name
    with pytest.raises(ValueError, match="requests"):
        PipelineConfig.model_validate({**MINIMAL, "transport": {"engine": "requests"}})


def test_all_example_configs_load(monkeypatch):
    """Every shipped example validates (secrets resolved from env)."""
    import glob

    from distributed_api_etl_spark.config.loader import load_config

    for var in (
        "SECRET_API_USERNAME", "SECRET_API_PASSWORD", "SECRET_API_TOKEN",
        "SECRET_IDP_CLIENT-SECRET", "SECRET_IDP_USERNAME", "SECRET_IDP_PASSWORD",
    ):
        monkeypatch.setenv(var.replace("-", "_").upper(), "x")
    paths = sorted(glob.glob("configs/examples/*.yml"))
    assert len(paths) == 6
    for p in paths:
        cfg = load_config(p)
        assert cfg.endpoint.url.startswith("https://")


def test_full_featured_example_semantics(monkeypatch):
    from distributed_api_etl_spark.config.loader import load_config

    cfg = load_config("configs/examples/full_featured_demo.yml")
    assert cfg.endpoint.template_columns() == {"request_id", "segment"}
    assert cfg.endpoint.response_schema is not None
    spark_schema = cfg.endpoint.response_schema.to_spark_schema()
    assert spark_schema["labels"].dataType.simpleString() == "array<string>"
    assert cfg.execution.max_requests_per_second == 25.0
    assert cfg.tables.sink.partition_by == ["method"]


def test_malformed_request_template_rejected():
    import pytest as _pytest

    from distributed_api_etl_spark.config.models import EndpointConfig

    with _pytest.raises(ValueError, match="request_template"):
        EndpointConfig(url="http://x", request_template={"bad": "single { brace"})


def test_grading_order_prioritizes_never_then_stale(tmp_path, monkeypatch):
    """__spark_entry__._grading_order is the driver-window rotation policy:
    never-green first, then least-recently-green, alphabetical ties —
    computed from the CORRECTNESS_r*.json files. Load-bearing for every
    round's evidence, so pinned here against a synthetic history."""
    import importlib
    import json
    import sys

    import __spark_entry__ as E

    hist = {
        "CORRECTNESS_r1.json": {
            "q_old_green": {"rows_match": True, "schema_match": True,
                            "hash_match": True, "err": None},
            "q_refreshed": {"rows_match": True, "schema_match": True,
                            "hash_match": True, "err": None},
        },
        "CORRECTNESS_r2.json": {
            "q_refreshed": {"rows_match": True, "schema_match": True,
                            "hash_match": True, "err": None},
            "q_failed_only": {"rows_match": False, "schema_match": True,
                              "hash_match": False, "err": None},
            "q_errored": {"err": "boom"},
        },
    }
    for fname, rows in hist.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    monkeypatch.setattr(E, "_HERE", str(tmp_path))
    names = ["q_refreshed", "q_old_green", "q_never", "q_failed_only", "q_errored"]
    out = E._grading_order(sorted(names))
    # fails/errors carry NO green history: graded first, with never-run
    assert out == ["q_errored", "q_failed_only", "q_never", "q_old_green", "q_refreshed"]

    # a changed-contract head is lifted to the FRONT of its last-green
    # tier (but never ahead of a less-recently-green tier)
    monkeypatch.setattr(
        E, "_CHANGED_CONTRACT_PRIORITY", frozenset({"q_refreshed"})
    )
    out = E._grading_order(sorted(names))
    assert out == ["q_errored", "q_failed_only", "q_never", "q_old_green", "q_refreshed"]
    monkeypatch.setattr(
        E, "_CHANGED_CONTRACT_PRIORITY", frozenset({"q_zz_also_r1"})
    )
    hist["CORRECTNESS_r1.json"]["q_zz_also_r1"] = {
        "rows_match": True, "schema_match": True, "hash_match": True, "err": None
    }
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps(hist["CORRECTNESS_r1.json"])
    )
    out = E._grading_order(sorted([*names, "q_zz_also_r1"]))
    # q_zz_also_r1 sorts alphabetically LAST in the r1 tier without the
    # lift; with it, it leads that tier while the r2 green stays behind
    assert out == [
        "q_errored", "q_failed_only", "q_never",
        "q_zz_also_r1", "q_old_green", "q_refreshed",
    ]


def test_changed_contract_priority_names_exist_and_graded():
    """Every changed-contract pin must stay a registered, graded query —
    a rename or retirement would silently un-pin its in-round re-grade."""
    import __spark_entry__ as E
    from distributed_api_etl_spark.queries import load_all

    reg = load_all()
    for name in E._CHANGED_CONTRACT_PRIORITY:
        assert name in reg, f"{name} missing from registry"
        assert reg[name].graded, f"{name} no longer graded"
        assert reg[name].oracle, f"{name} lost its oracle"
