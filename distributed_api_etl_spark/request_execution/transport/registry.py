"""Engine selection: config dict -> TransportEngine instance.

``auto`` prefers aiohttp and falls back to the stdlib asyncio engine; both
run their sockets on the chunk's event loop. ``mock`` is the deterministic
in-process responder.
"""

from __future__ import annotations

from distributed_api_etl_spark.request_execution.transport.asyncio_engine import AsyncioEngine
from distributed_api_etl_spark.request_execution.transport.base import TransportEngine
from distributed_api_etl_spark.request_execution.transport.mock import MockEngine


def build_engine(transport: dict) -> TransportEngine:
    """``transport`` is a plain dict (TransportConfig.model_dump()) so the
    factory closure pickles cleanly across the executor boundary."""
    name = transport.get("engine", "auto")
    if name == "auto":
        from distributed_api_etl_spark.request_execution.transport.aiohttp_engine import (
            aiohttp_available,
        )

        name = "aiohttp" if aiohttp_available() else "asyncio"

    if name == "mock":
        return MockEngine(
            latency=transport.get("mock_latency", 0.0),
            fail_first_attempts=transport.get("mock_fail_first_attempts", 0),
            fail_status=transport.get("mock_fail_status", 503),
        )
    verify = transport.get("verify_tls", True)
    ca_bundle = transport.get("ca_bundle")
    cert = None
    if transport.get("client_cert") and transport.get("client_key"):
        cert = (transport["client_cert"], transport["client_key"])
    if name == "asyncio":
        engine_cls = AsyncioEngine
    elif name == "aiohttp":
        from distributed_api_etl_spark.request_execution.transport.aiohttp_engine import (
            AiohttpEngine as engine_cls,
        )
    else:
        raise ValueError(f"unknown transport engine {name!r}")
    return engine_cls(
        base_timeout=transport.get("base_timeout", 30.0),
        pool_limit=transport.get("pool_limit", 100),
        verify_tls=verify,
        ca_bundle=ca_bundle,
        client_cert=cert,
    )
