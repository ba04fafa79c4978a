"""Transport engine contract.

``send`` NEVER raises: connection/timeout/protocol errors come back as
``TransportResponse(error=...)`` — errors are data in this engine (reference
parity: engine.py:123-148, docs/transport.md:87-100).

``loop_bound`` tells the partition executor whether the engine holds
event-loop-affine state (sockets, aiohttp sessions): loop-bound engines are
created and closed inside each ``asyncio.run``; the mock engine holds none
and is process-scoped, reused across tasks (SURVEY §7.4 hard-part #1,
decided deliberately here).
"""

from __future__ import annotations

import abc

from distributed_api_etl_spark.request_execution.models import (
    TransportRequest,
    TransportResponse,
)


class TransportEngine(abc.ABC):
    #: True if internal state is bound to the running event loop.
    loop_bound: bool = False

    async def warmup(self, base_url: str, timeout: float) -> dict:
        """Prime the engine before the first row; failures are non-fatal
        diagnostics. This default sends one GET to ``base_url``; engines
        with a connection pool open a connection instead."""
        req = TransportRequest(method="GET", url=base_url, timeout=timeout)
        resp = await self.send(req)
        return {"warmed_up": resp.error is None, "warmup_error": resp.error}

    @abc.abstractmethod
    async def send(self, request: TransportRequest) -> TransportResponse:
        ...

    async def aclose(self) -> None:  # pragma: no cover - default no-op
        return None
