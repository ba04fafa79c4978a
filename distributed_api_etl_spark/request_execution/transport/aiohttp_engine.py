"""Native-async HTTP engine (aiohttp) — used when aiohttp is installed.

Sessions hold loop-affine state (connector, sockets), so the engine is
``loop_bound``: the partition executor creates and closes it inside each
``asyncio.run`` rather than caching it across tasks. This deliberately
avoids the reference's latent failure mode of a process-scoped
ClientSession created on an event loop that dies with the first task
(SURVEY §7.4 hard-part #1).
"""

from __future__ import annotations

import ssl

from distributed_api_etl_spark.request_execution.models import (
    TransportRequest,
    TransportResponse,
)
from distributed_api_etl_spark.request_execution.transport.base import TransportEngine


def aiohttp_available() -> bool:
    try:
        import aiohttp  # noqa: F401

        return True
    except ImportError:
        return False


class AiohttpEngine(TransportEngine):
    loop_bound = True

    def __init__(
        self,
        base_timeout: float = 30.0,
        pool_limit: int = 100,
        verify_tls: bool = True,
        ca_bundle: str | None = None,
        client_cert: tuple[str, str] | None = None,
    ) -> None:
        if not aiohttp_available():  # pragma: no cover - env dependent
            raise ImportError(
                "aiohttp is not installed; use transport.engine='asyncio' "
                "(stdlib) or install aiohttp"
            )
        self._base_timeout = base_timeout
        self._pool_limit = pool_limit
        self._verify = verify_tls
        self._ca_bundle = ca_bundle
        self._client_cert = client_cert
        self._session = None

    def _ssl_context(self):
        if not self._verify:
            return False
        ctx = ssl.create_default_context(cafile=self._ca_bundle)
        if self._client_cert:
            ctx.load_cert_chain(*self._client_cert)
        return ctx

    async def _get_session(self):
        import aiohttp

        if self._session is None or self._session.closed:
            connector = aiohttp.TCPConnector(
                limit=self._pool_limit, ttl_dns_cache=300, ssl=self._ssl_context()
            )
            self._session = aiohttp.ClientSession(
                connector=connector,
                timeout=aiohttp.ClientTimeout(total=self._base_timeout),
            )
        return self._session

    async def send(self, request: TransportRequest) -> TransportResponse:
        import aiohttp

        try:
            session = await self._get_session()
            timeout = (
                aiohttp.ClientTimeout(total=request.timeout)
                if request.timeout
                else None
            )
            async with session.request(
                method=request.method,
                url=request.url,
                headers=request.headers or None,
                params=request.params or None,
                json=request.json_body,
                data=request.data,
                **({"timeout": timeout} if timeout else {}),
            ) as resp:
                body = await resp.read()
                return TransportResponse(
                    status_code=resp.status, headers=dict(resp.headers), body=body
                )
        except (aiohttp.ClientError, TimeoutError) as exc:
            return TransportResponse(error=f"{type(exc).__name__}: {exc}")

    async def aclose(self) -> None:
        if self._session is not None and not self._session.closed:
            await self._session.close()
            self._session = None
