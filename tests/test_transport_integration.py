"""Integration: real HTTP engine + middleware + partition executor + auth
RPC against a live local server (no Spark needed for most — the partition fn
runs on plain iterators, per the reference's test strategy)."""

from __future__ import annotations

import pytest

from distributed_api_etl_spark.auth.providers import WorkerTokenProvider
from distributed_api_etl_spark.auth.rpc import RpcBootstrapper
from distributed_api_etl_spark.core.runtime import ProcessScope
from distributed_api_etl_spark.orchestration.partition_executor import run_rows
from tests.http_server import MockApiServer


@pytest.fixture(scope="module")
def server():
    s = MockApiServer().start()
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def clear_scope():
    ProcessScope.clear()
    yield
    ProcessScope.clear()


def compiled(server, path="/ok", **over):
    base = {
        "endpoint": {
            "method": "GET",
            "url": f"{server.base_url}{path}",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "requests", "base_timeout": 5.0, "pool_limit": 16},
        "retry": {"max_attempts": 5, "base_delay": 0.01, "max_delay": 0.05},
        "auth": {"type": "none"},
        "middleware": [{"type": "timing"}],
        "execution": {"max_concurrent_requests": 10, "chunk_size": 200},
    }
    base.update(over)
    return base


def rows(n):
    return [{"request_id": str(i)} for i in range(n)]


def test_real_http_all_rows_processed(server):
    out = list(run_rows(rows(50), compiled(server)))
    assert len(out) == 50
    assert all(r["status_code"] == 200 for r in out)
    assert all('"id": "' in r["body_text"] for r in out)
    assert server.max_in_flight <= 10


def test_real_http_retry_on_503(server):
    server.flaky_seen.clear()
    out = list(run_rows(rows(8), compiled(server, path="/flaky")))
    assert all(r["status_code"] == 200 for r in out)
    assert all(r["attempts"] == 3 for r in out)


def test_connection_error_is_data_not_exception(server):
    cfg = compiled(server)
    cfg["endpoint"]["url"] = "http://127.0.0.1:1/nowhere"  # nothing listens
    cfg["retry"] = {"max_attempts": 2, "base_delay": 0.0, "max_delay": 0.0}
    out = list(run_rows(rows(3), cfg))
    assert all(r["success"] is False for r in out)
    assert all(r["status_code"] is None for r in out)
    assert all("ConnectionError" in (r["error_message"] or "") for r in out)
    assert all(r["attempts"] == 2 for r in out)


def test_basic_auth_reaches_server(server):
    server.auth_headers.clear()
    cfg = compiled(server, auth={"type": "basic", "username": "u", "password": "p"})
    out = list(run_rows(rows(3), cfg))
    assert all(r["status_code"] == 200 for r in out)
    assert server.auth_headers and all(
        h.startswith("Basic ") for h in server.auth_headers
    )


def test_oauth2_rpc_end_to_end(server):
    """Driver token runtime + RPC -> worker provider -> Bearer on the wire."""
    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
        "refresh_margin": 60.0,
        "rpc_enabled": True,
        "rpc_port": 0,
    }
    boot = RpcBootstrapper(auth)
    boot.start()
    try:
        assert boot.rpc_url and boot.rpc_url.endswith("/token")
        grants_before = server.token_grants
        worker_auth = dict(auth, rpc_url=boot.rpc_url, rpc_secret=boot.rpc_secret)
        cfg = compiled(server, path="/secured", auth=worker_auth)
        out = list(run_rows(rows(5), cfg))
        assert all(r["status_code"] == 200 for r in out)
        # workers used the RPC token; no extra grants beyond the driver's
        assert server.token_grants == grants_before
        assert any(h.startswith("Bearer tok-") for h in server.auth_headers)
    finally:
        boot.stop()


def test_rpc_requires_shared_secret(server):
    """/token serves a live bearer token: reachability alone must not grant
    access — requests without the per-run X-Rpc-Auth header get 403."""
    import urllib.error
    import urllib.request

    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
    }
    boot = RpcBootstrapper(auth)
    boot.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(boot.rpc_url, timeout=5.0)
        assert exc_info.value.code == 403
        # wrong secret is also rejected
        req = urllib.request.Request(boot.rpc_url, headers={"X-Rpc-Auth": "nope"})
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(req, timeout=5.0)
        assert exc_info.value.code == 403
        # the real secret works
        req = urllib.request.Request(
            boot.rpc_url, headers={"X-Rpc-Auth": boot.rpc_secret}
        )
        with urllib.request.urlopen(req, timeout=5.0) as resp:
            assert resp.status == 200
    finally:
        boot.stop()


def test_rpc_stop_returns_promptly(server):
    """stop() waits for serve_forever's next shutdown poll: with the default
    0.5 s poll, tearing down the token RPC cost up to half a second on
    every OAuth2 run."""
    import time as _time

    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
    }
    for _ in range(5):
        boot = RpcBootstrapper(auth)
        boot.start()
        _time.sleep(0.1)  # idle: serve_forever is parked in its poll
        t0 = _time.perf_counter()
        boot.stop()
        assert _time.perf_counter() - t0 < 0.2


def test_rpc_port_screening():
    from distributed_api_etl_spark.auth.rpc import screen_rpc_port

    assert screen_rpc_port(0) == 0
    assert screen_rpc_port(18080) == 18080
    for bad in (22, 80, 443, 5432, 123, 70000, -1):
        with pytest.raises(ValueError):
            screen_rpc_port(bad)


def test_rpc_restricted_port_rejected_at_start(server):
    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
        "rpc_port": 5432,
    }
    boot = RpcBootstrapper(auth)
    try:
        with pytest.raises(ValueError, match="restricted"):
            boot.start()
    finally:
        boot.stop()


def test_rpc_readiness_timeout_raises(server, monkeypatch):
    """A server that never becomes reachable must raise, not silently return
    with a dead rpc_url compiled into every worker."""
    from distributed_api_etl_spark.auth import rpc as rpc_mod

    def never_connect(*args, **kwargs):
        raise OSError("probe blocked")

    monkeypatch.setattr(rpc_mod, "_probe", never_connect)
    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
    }
    boot = RpcBootstrapper(auth)
    try:
        with pytest.raises(RuntimeError, match="readiness"):
            boot.start(ready_timeout=0.3)
    finally:
        boot.stop()


def test_token_provider_survives_event_loop_changes(server):
    """run_rows starts a fresh asyncio.run per chunk while the provider is
    process-cached: contended token fetches in one loop must not poison the
    provider for the next loop (regression: loop-bound asyncio.Lock)."""
    import asyncio

    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
        "refresh_margin": 1.0,
    }
    provider = WorkerTokenProvider(auth)

    async def contend():
        return await asyncio.gather(*[provider.get_token() for _ in range(8)])

    first = asyncio.run(contend())   # lock contended in loop #1
    second = asyncio.run(contend())  # fresh loop — must not raise
    assert len(set(first) | set(second)) == 1  # single cached token throughout


def test_valid_token_skips_thread_hop_and_expired_token_fetches_once(monkeypatch):
    """A valid cached token is returned without ``asyncio.to_thread`` (the
    hop shares the default executor with the blocking sends); concurrent
    callers holding an expired token share exactly one fetch."""
    import asyncio
    import threading
    import time

    from distributed_api_etl_spark.auth.models import Token

    provider = WorkerTokenProvider({"type": "oauth2_client_credentials", "refresh_margin": 1.0})
    fetches = []
    release = threading.Event()

    def fetch():
        fetches.append(1)
        release.wait(5)  # hold the lock until every caller is queued on it
        return Token("fresh", time.time() + 3600)

    monkeypatch.setattr(provider, "_fetch", fetch)

    real_to_thread = asyncio.to_thread
    hops = []

    async def counting_to_thread(fn, *args):
        hops.append(fn)
        return await real_to_thread(fn, *args)

    monkeypatch.setattr(asyncio, "to_thread", counting_to_thread)

    provider._token = Token("cached", time.time() + 3600)
    assert asyncio.run(provider.get_token()) == "cached"
    assert hops == [] and fetches == []

    async def contend():
        calls = [asyncio.ensure_future(provider.get_token()) for _ in range(8)]
        await asyncio.sleep(0.2)
        release.set()
        return await asyncio.gather(*calls)

    provider._token = Token("stale", time.time() - 1)
    assert asyncio.run(contend()) == ["fresh"] * 8
    assert len(fetches) == 1
    assert len(hops) == 8


def test_oauth2_fallback_direct_grant_when_rpc_down(server):
    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
        "refresh_margin": 60.0,
        "rpc_url": "http://127.0.0.1:1/token",  # dead RPC
    }
    provider = WorkerTokenProvider(auth)
    import asyncio

    token = asyncio.run(provider.get_token())
    assert token.startswith("tok-")


def test_token_cached_until_expiry(server):
    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
        "refresh_margin": 1.0,
    }
    provider = WorkerTokenProvider(auth)
    import asyncio

    t1 = asyncio.run(provider.get_token())
    grants = server.token_grants
    t2 = asyncio.run(provider.get_token())
    assert t1 == t2
    assert server.token_grants == grants  # cache hit, no new grant


def test_full_pipeline_against_real_server(spark, server, tmp_path):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.orchestration import run_pipeline

    loc = str(tmp_path / "bronze")
    cfg = {
        "endpoint": {
            "method": "GET",
            "url": f"{server.base_url}/ok",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "requests", "base_timeout": 5.0},
        "execution": {"batch_size": 30, "num_partitions": 4,
                      "max_concurrent_requests": 8, "chunk_size": 100},
        "tables": {"sink": {"location": loc, "format": "parquet"}},
    }
    source = spark.range(60).select(F.col("id").cast("string").alias("tracking_id"))
    run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
    sink = spark.read.parquet(loc)
    assert sink.count() == 60
    ok = sink.where((F.col("status_code") == 200) & F.col("success")).count()
    assert ok == 60


def test_concurrency_hides_io_latency():
    """The async fan-out must actually overlap I/O: with 30ms server
    latency, concurrency 12 must beat sequential by a wide margin (full
    measurement: scripts/concurrency_bench.py — 17x at concurrency 20
    against a keep-alive server). Thresholds here are loose (shared box)."""
    import time as _time

    from distributed_api_etl_spark.core.runtime import ProcessScope
    from distributed_api_etl_spark.orchestration.partition_executor import run_rows

    from http_server import MockApiServer

    srv = MockApiServer().start()
    try:
        def cfg(conc):
            return {
                "endpoint": {
                    "method": "GET",
                    "url": f"{srv.base_url}/slow",
                    "param_mapping": [
                        {"endpoint_param": "id", "source_column": "request_id"},
                        {"endpoint_param": "ms", "source_column": "ms"},
                        {"endpoint_param": "hold", "source_column": "hold"},
                    ],
                },
                "transport": {"engine": "auto"},
                "retry": {"max_attempts": 3, "base_delay": 0.05, "max_delay": 0.2},
                "auth": {"type": "none"},
                "middleware": [],
                "execution": {
                    "max_concurrent_requests": conc,
                    "chunk_size": 1000,
                },
            }

        def run(conc, hold=0):
            rows = [
                {"request_id": str(i), "ms": "30", "hold": str(hold)} for i in range(60)
            ]
            ProcessScope.clear()
            t0 = _time.perf_counter()
            out = list(run_rows(rows, cfg(conc)))
            assert len(out) == 60 and all(r["status_code"] == 200 for r in out)
            return _time.perf_counter() - t0

        run(4)  # warm transport + event loop machinery
        seq = run(1)
        # the server holds the first sends until 12 are in flight at once
        # (2 s at most): a cap below 12 shows as max_in_flight < 12 and a
        # slow run, never as first sends that merely arrived spread out
        conc = run(12, hold=12)
        assert seq / conc > 2.5, (seq, conc)
        # the engine's own pool, not the loop's min(32, cores + 4) default
        # executor, bounds the sends: all 12 consumers are in flight at once
        assert srv.max_in_flight == 12
    finally:
        srv.stop()
