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
        "transport": {"engine": "asyncio", "base_timeout": 5.0, "pool_limit": 16},
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
    assert all((r["error_message"] or "").startswith("ConnectionError: ") for r in out)
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
        exc_info.value.close()
        # wrong secret is also rejected
        req = urllib.request.Request(boot.rpc_url, headers={"X-Rpc-Auth": "nope"})
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(req, timeout=5.0)
        assert exc_info.value.code == 403
        exc_info.value.close()
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
        "transport": {"engine": "asyncio", "base_timeout": 5.0},
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
        # nothing below the consumer count caps the sends (the engine's
        # connection pool defaults to 100): all 12 are in flight at once
        assert srv.max_in_flight == 12
    finally:
        srv.stop()


# -- the asyncio engine on the wire ------------------------------------------


def _send_all(engine, *requests_):
    """Send ``requests_`` one after another on one loop, then close."""
    import asyncio

    async def go():
        try:
            return [await engine.send(r) for r in requests_]
        finally:
            await engine.aclose()

    return asyncio.run(go())


def _echo(resp):
    import json

    assert resp.error is None and resp.status_code == 200, resp
    return json.loads(resp.body)


def test_wire_encoding_matches_requests(server):
    """Request target, body and body headers are byte-identical to what
    ``requests`` prepares for the same call (requests is the reference)."""
    import requests

    from distributed_api_etl_spark.request_execution.models import TransportRequest
    from distributed_api_etl_spark.request_execution.transport.asyncio_engine import (
        AsyncioEngine,
    )

    base = server.base_url
    cases = [
        ("GET", f"{base}/echo", {"q": "a b", "name": "Zoë/ü", "sym": "x&y=z+1"}, None, None),
        ("GET", f"{base}/echo?x=1&y=hello world&z=ü", {"id": "7 8"}, None, None),
        ("GET", f"{base}/echo/a b/ü;v=1", {}, None, None),
        ("POST", f"{base}/echo", {"p": "1"}, {"name": "Zoë", "n": 1, "xs": [1.5, None]}, None),
        ("POST", f"{base}/echo", {}, None, None),
        ("POST", f"{base}/echo", {}, None, b"raw=\x00\xff"),
    ]
    engine = AsyncioEngine(base_timeout=5.0)
    sent = _send_all(engine, *[
        TransportRequest(method=m, url=u, params=p, json_body=j, data=d)
        for m, u, p, j, d in cases
    ])
    for (m, u, p, j, d), resp in zip(cases, sent):
        got = _echo(resp)
        prep = requests.Request(m, u, params=p, json=j, data=d).prepare()
        assert got["target"] == prep.path_url, (got["target"], prep.path_url)
        body = prep.body or b""
        assert got["body"] == (body if isinstance(body, bytes) else body.encode()).decode("latin-1")
        wire = {k.lower(): v for k, v in got["headers"].items()}
        for name in ("Content-Type", "Content-Length"):
            assert wire.get(name.lower()) == prep.headers.get(name), (name, got, prep.headers)
        assert wire["accept-encoding"] == "gzip, deflate"
        assert wire["host"] == f"127.0.0.1:{server.port}"


def test_chunked_gzip_deflate_and_close_framing(server):
    from distributed_api_etl_spark.request_execution.models import TransportRequest
    from distributed_api_etl_spark.request_execution.transport.asyncio_engine import (
        AsyncioEngine,
    )

    base = server.base_url
    chunked, gz, deflate, closed, after = _send_all(
        AsyncioEngine(base_timeout=5.0),
        TransportRequest(method="GET", url=f"{base}/chunked"),
        TransportRequest(method="GET", url=f"{base}/gzip", params={"a": "1"}),
        TransportRequest(method="GET", url=f"{base}/deflate", params={"b": "2"}),
        TransportRequest(method="GET", url=f"{base}/close"),
        TransportRequest(method="GET", url=f"{base}/ok"),
    )
    assert chunked.body == b"hello world"
    # server casing kept; the repeated header joined like requests does
    assert chunked.headers["Transfer-Encoding"] == "chunked"
    assert chunked.headers["X-Multi"] == "a, b" and "x-multi" not in chunked.headers
    assert gz.body == b'{"echo": {"a": "1"}}' and gz.headers["Content-Encoding"] == "gzip"
    assert deflate.body == b'{"echo": {"b": "2"}}'
    assert closed.body == b'{"framed": "by close"}' and closed.error is None
    # the connection /close ended is not reused: the next request succeeds
    assert after.status_code == 200


def test_redirects_follow_requests_rules(server):
    """301 -> 307 within one origin keeps Authorization; the hop to another
    origin drops it. 303 turns a POST into a bodiless GET, 307 keeps both.
    A redirect loop stops after 30 redirects as an error, not an exception."""
    from urllib.parse import urlencode

    from distributed_api_etl_spark.request_execution.models import TransportRequest
    from distributed_api_etl_spark.request_execution.transport.asyncio_engine import (
        AsyncioEngine,
    )
    from tests.http_server import MockApiServer

    other = MockApiServer().start()
    try:
        hop2 = "/redirect?" + urlencode({"code": 307, "to": f"{other.base_url}/echo"})
        chain = f"{server.base_url}/redirect?" + urlencode({"code": 301, "to": hop2})
        to_echo = urlencode({"to": "/echo"})
        server.auth_headers.clear()
        count = server.request_count
        cross, see_other, temporary, loop = _send_all(
            AsyncioEngine(base_timeout=5.0),
            TransportRequest(method="GET", url=chain, headers={"Authorization": "Bearer s"}),
            TransportRequest(method="POST", url=f"{server.base_url}/redirect?code=303&{to_echo}",
                             json_body={"k": "v"}),
            TransportRequest(method="POST", url=f"{server.base_url}/redirect?code=307&{to_echo}",
                             json_body={"k": "v"}),
            TransportRequest(method="GET", url=f"{server.base_url}/redirect?code=302&to="),
        )
    finally:
        other.stop()
    got = _echo(cross)
    assert got["method"] == "GET"
    assert "Authorization" not in got["headers"]
    assert server.auth_headers == ["Bearer s", "Bearer s"]  # both same-origin hops
    got = _echo(see_other)
    assert (got["method"], got["body"]) == ("GET", "")
    assert "Content-Type" not in got["headers"] and "Content-Length" not in got["headers"]
    got = _echo(temporary)
    assert (got["method"], got["body"]) == ("POST", '{"k": "v"}')
    assert loop.status_code is None
    assert loop.error == "InvalidResponse: exceeded 30 redirects"
    # GETs only: 2 hops of the chain, 31 of the loop, and the 303's GET /echo
    assert server.request_count - count == 2 + 31 + 1


def test_idle_connection_closed_by_server_is_dropped_not_resent(server):
    """An idle keep-alive connection the server closed is not reused, and
    nothing is sent twice: the server sees exactly two requests on two
    connections."""
    import asyncio

    from distributed_api_etl_spark.request_execution.models import TransportRequest
    from distributed_api_etl_spark.request_execution.transport.asyncio_engine import (
        AsyncioEngine,
    )

    engine = AsyncioEngine(base_timeout=5.0)
    url = f"{server.base_url}/drop-idle"
    requests_before, conns_before = server.request_count, server.connections

    async def go():
        try:
            first = await engine.send(TransportRequest(method="GET", url=url))
            await asyncio.sleep(0.2)  # the server's FIN reaches the idle socket
            second = await engine.send(TransportRequest(method="GET", url=url))
            return first, second
        finally:
            await engine.aclose()

    first, second = asyncio.run(go())
    assert (first.status_code, second.status_code) == (200, 200)
    assert server.request_count - requests_before == 2
    assert server.connections - conns_before == 2


def test_timeout_is_data(server):
    import time as _time

    from distributed_api_etl_spark.request_execution.models import TransportRequest
    from distributed_api_etl_spark.request_execution.transport.asyncio_engine import (
        AsyncioEngine,
    )

    slow = f"{server.base_url}/slow"
    t0 = _time.perf_counter()
    per_request, base = _send_all(
        AsyncioEngine(base_timeout=5.0),
        TransportRequest(method="GET", url=slow, params={"ms": "600"}, timeout=0.2),
    ) + _send_all(
        AsyncioEngine(base_timeout=0.2),
        TransportRequest(method="GET", url=slow, params={"ms": "600"}),
    )
    assert _time.perf_counter() - t0 < 1.2
    for resp in (per_request, base):
        assert resp.status_code is None
        assert resp.error == "Timeout: no complete response within 0.2 s"


def test_pool_limit_caps_open_connections():
    """8 consumers share a pool of 2: never more than 2 requests in flight
    or connections opened. Its own server, so no other test's slow
    requests count in flight."""
    from tests.http_server import MockApiServer

    srv = MockApiServer().start()
    try:
        cfg = compiled(
            srv,
            path="/slow",
            transport={"engine": "asyncio", "base_timeout": 5.0, "pool_limit": 2},
            execution={"max_concurrent_requests": 8, "chunk_size": 200},
        )
        cfg["endpoint"]["param_mapping"].append({"endpoint_param": "ms", "source_column": "ms"})
        out = list(run_rows([{"request_id": str(i), "ms": "20"} for i in range(24)], cfg))
    finally:
        srv.stop()
    assert [r["status_code"] for r in out] == [200] * 24
    assert srv.max_in_flight == 2
    assert srv.connections == 2


def test_warmup_opens_a_connection_and_sends_no_request(server):
    """warmup primes one pooled connection per chunk: the API sees exactly
    one request per row, and the diagnostics carry the connect time."""
    import json

    count = server.request_count
    cfg = compiled(
        server, transport={"engine": "auto", "base_timeout": 5.0, "warmup": True}
    )
    out = list(run_rows(rows(5), cfg))
    assert [r["status_code"] for r in out] == [200] * 5
    assert server.request_count - count == 5
    warm = json.loads(out[0]["response_metadata"])["transport"]["connection_warmup"]
    assert warm["warmed_up"] is True and warm["warmup_error"] is None
    assert warm["connect_ms"] >= 0


def test_aclose_closes_every_pooled_socket(server):
    import asyncio
    import time as _time

    from distributed_api_etl_spark.request_execution.models import TransportRequest
    from distributed_api_etl_spark.request_execution.transport.asyncio_engine import (
        AsyncioEngine,
    )

    engine = AsyncioEngine(base_timeout=5.0)
    req = TransportRequest(method="GET", url=f"{server.base_url}/slow", params={"ms": "50"})

    async def go():
        resps = await asyncio.gather(*[engine.send(req) for _ in range(3)])
        pooled = list(engine._open)
        opened = server.open_connections
        await engine.aclose()
        return resps, pooled, opened

    resps, pooled, opened = asyncio.run(go())
    assert [r.status_code for r in resps] == [200] * 3
    assert len(pooled) == 3 and opened >= 3
    assert all(c.writer.transport.is_closing() for c in pooled)
    assert not engine._open and not engine._idle
    deadline = _time.monotonic() + 5.0
    while server.open_connections > opened - 3 and _time.monotonic() < deadline:
        _time.sleep(0.01)
    assert server.open_connections <= opened - 3


def test_token_rpc_bypasses_env_proxy(server):
    """The worker fetches the driver's /token directly even when
    ``http_proxy`` is set: the proxy would otherwise see the RPC secret and
    the bearer token (and here, an unreachable one fails every fetch). Runs
    in a subprocess because ``urlopen`` caches its opener per process."""
    import json
    import os
    import subprocess
    import sys

    auth = {
        "type": "oauth2_client_credentials",
        "token_url": f"{server.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
    }
    boot = RpcBootstrapper(auth)
    boot.start()
    try:
        grants = server.token_grants
        worker_auth = dict(auth, rpc_url=boot.rpc_url, rpc_secret=boot.rpc_secret)
        env = {k: v for k, v in os.environ.items() if "proxy" not in k.lower()}
        env["http_proxy"] = env["HTTP_PROXY"] = "http://127.0.0.1:9"
        code = (
            "import asyncio, json, sys\n"
            "from distributed_api_etl_spark.auth.providers import WorkerTokenProvider\n"
            "provider = WorkerTokenProvider(json.loads(sys.argv[1]))\n"
            "print(asyncio.run(provider.get_token()))\n"
        )
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.run(
            [sys.executable, "-c", code, json.dumps(worker_auth)],
            cwd=root, env=env, capture_output=True, text=True, timeout=60,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert proc.stdout.strip() == boot.manager.get_token().token_value
        assert server.token_grants == grants  # served by the RPC, no new grant
    finally:
        boot.stop()


# -- TLS -----------------------------------------------------------------------


@pytest.fixture(scope="module")
def tls(tmp_path_factory):
    """A throwaway CA, a server certificate for localhost/127.0.0.1 and a
    client certificate, written as PEM files."""
    import datetime
    import ipaddress

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.x509.oid import ExtendedKeyUsageOID, NameOID

    d = tmp_path_factory.mktemp("tls")
    now = datetime.datetime.now(datetime.timezone.utc)

    def name(cn):
        return x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, cn)])

    def issue(cn, issuer, issuer_key, ca=False, san=None, usage=None):
        key = ec.generate_private_key(ec.SECP256R1())
        b = (
            x509.CertificateBuilder()
            .subject_name(name(cn))
            .issuer_name(issuer or name(cn))
            .public_key(key.public_key())
            .serial_number(x509.random_serial_number())
            .not_valid_before(now - datetime.timedelta(minutes=5))
            .not_valid_after(now + datetime.timedelta(days=1))
            .add_extension(x509.BasicConstraints(ca=ca, path_length=None), critical=True)
            .add_extension(
                x509.SubjectKeyIdentifier.from_public_key(key.public_key()), critical=False
            )
        )
        if ca:
            b = b.add_extension(
                x509.KeyUsage(True, False, False, False, False, True, True, False, False),
                critical=True,
            )
        else:
            b = b.add_extension(
                x509.AuthorityKeyIdentifier.from_issuer_public_key(issuer_key.public_key()),
                critical=False,
            ).add_extension(x509.ExtendedKeyUsage([usage]), critical=False)
        if san:
            b = b.add_extension(x509.SubjectAlternativeName(san), critical=False)
        cert = b.sign(issuer_key or key, hashes.SHA256())
        return cert, key

    def write(stem, cert, key):
        (d / f"{stem}.pem").write_bytes(cert.public_bytes(serialization.Encoding.PEM))
        (d / f"{stem}.key").write_bytes(key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        ))
        return str(d / f"{stem}.pem"), str(d / f"{stem}.key")

    ca_cert, ca_key = issue("etl-test-ca", None, None, ca=True)  # self-signed
    san = [x509.DNSName("localhost"), x509.IPAddress(ipaddress.ip_address("127.0.0.1"))]
    server_cert, server_key = issue("localhost", ca_cert.subject, ca_key, san=san,
                                    usage=ExtendedKeyUsageOID.SERVER_AUTH)
    client_cert, client_key = issue("etl-client", ca_cert.subject, ca_key,
                                    usage=ExtendedKeyUsageOID.CLIENT_AUTH)
    ca_pem, _ = write("ca", ca_cert, ca_key)
    return {
        "ca": ca_pem,
        "server": write("server", server_cert, server_key),
        "client": write("client", client_cert, client_key),
    }


def _tls_server(tls, require_client_cert=False):
    import ssl

    from tests.http_server import MockApiServer

    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(*tls["server"])
    if require_client_cert:
        ctx.load_verify_locations(tls["ca"])
        ctx.verify_mode = ssl.CERT_REQUIRED
    seen_sni = []
    ctx.sni_callback = lambda sock, server_name, _ctx: seen_sni.append(server_name)
    return MockApiServer(ssl_context=ctx).start(), seen_sni


def _tls_get(transport, url):
    from distributed_api_etl_spark.request_execution.models import TransportRequest
    from distributed_api_etl_spark.request_execution.transport.registry import build_engine

    return _send_all(build_engine(transport), TransportRequest(method="GET", url=url))[0]


def test_tls_verification_and_sni(tls):
    srv, seen_sni = _tls_server(tls)
    url = f"https://localhost:{srv.port}/echo"
    try:
        verified = _tls_get({"engine": "asyncio", "ca_bundle": tls["ca"]}, url)
        system_store = _tls_get({"engine": "asyncio"}, url)
        unverified = _tls_get({"engine": "asyncio", "verify_tls": False}, url)
    finally:
        srv.stop()
    assert _echo(verified)["headers"]["Host"] == f"localhost:{srv.port}"
    assert "localhost" in seen_sni
    assert system_store.status_code is None
    assert system_store.error.startswith("SSLError: ") and "CERTIFICATE_VERIFY_FAILED" in system_store.error
    assert unverified.status_code == 200


def test_tls_client_certificate(tls):
    srv, _ = _tls_server(tls, require_client_cert=True)
    url = f"{srv.base_url}/echo"  # by IP: verified against the IP SAN
    cert, key = tls["client"]
    try:
        with_cert = _tls_get(
            {"engine": "asyncio", "ca_bundle": tls["ca"], "client_cert": cert, "client_key": key},
            url,
        )
        without = _tls_get({"engine": "asyncio", "ca_bundle": tls["ca"]}, url)
    finally:
        srv.stop()
    assert _echo(with_cert)["peer_subject"] == [[["commonName", "etl-client"]]]
    assert without.status_code is None and without.error is not None
