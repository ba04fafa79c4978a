"""Thread-bridged HTTP engine built on ``requests`` (stdlib-adjacent, always
available). The async boundary is ``loop.run_in_executor`` on the engine's own
thread pool: the event loop stays responsive while a pooled
``requests.Session`` does blocking I/O.

Why this exists: aiohttp may be absent from the runtime image. The engine
abstraction keeps the pipeline identical either way; on clusters with
aiohttp installed, ``transport.engine: aiohttp`` selects the native-async
path (see aiohttp_engine.py).

Concurrency: the per-partition consumer count (``max_concurrent_requests``,
default 20) bounds in-flight requests. The thread pool and the session's
connection pool are both sized to ``pool_limit``, so neither caps the
consumers below that: sockets are reused, not thrashed, and sends do not
queue behind the loop's default executor (min(32, cores + 4) threads).
"""

from __future__ import annotations

import asyncio
from concurrent.futures import ThreadPoolExecutor

from distributed_api_etl_spark.request_execution.models import (
    TransportRequest,
    TransportResponse,
)
from distributed_api_etl_spark.request_execution.transport.base import TransportEngine


class RequestsEngine(TransportEngine):
    loop_bound = False  # session state is thread-safe-ish & process-scoped

    def __init__(
        self,
        base_timeout: float = 30.0,
        pool_limit: int = 100,
        verify_tls: bool | str = True,
        client_cert: tuple[str, str] | None = None,
    ) -> None:
        self._base_timeout = base_timeout
        self._pool_limit = pool_limit
        self._verify = verify_tls
        self._cert = client_cert
        self._session = None
        self._pool: ThreadPoolExecutor | None = None

    def _get_session(self):
        if self._session is None:
            import requests
            from requests.adapters import HTTPAdapter

            s = requests.Session()
            adapter = HTTPAdapter(
                pool_connections=self._pool_limit,
                pool_maxsize=self._pool_limit,
                max_retries=0,  # retry policy lives in RetryMiddleware, not transport
            )
            s.mount("http://", adapter)
            s.mount("https://", adapter)
            s.verify = self._verify
            if self._cert:
                s.cert = self._cert
            self._session = s
            self._pool = ThreadPoolExecutor(
                max_workers=self._pool_limit, thread_name_prefix="requests-engine"
            )
        return self._session

    def _send_sync(self, request: TransportRequest) -> TransportResponse:
        import requests

        try:
            resp = self._get_session().request(
                method=request.method,
                url=request.url,
                headers=request.headers or None,
                params=request.params or None,
                json=request.json_body,
                data=request.data,
                timeout=request.timeout or self._base_timeout,
            )
            return TransportResponse(
                status_code=resp.status_code,
                headers=dict(resp.headers),
                body=resp.content,
            )
        except requests.RequestException as exc:  # errors are data, never raised
            return TransportResponse(error=f"{type(exc).__name__}: {exc}")

    async def send(self, request: TransportRequest) -> TransportResponse:
        self._get_session()
        return await asyncio.get_running_loop().run_in_executor(
            self._pool, self._send_sync, request
        )

    async def aclose(self) -> None:
        if self._session is not None:
            self._session.close()
            self._session = None
            self._pool.shutdown(wait=False)
            self._pool = None
