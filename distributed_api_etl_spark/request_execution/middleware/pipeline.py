"""Async interceptor chain.

Contract (reference parity: src/request_execution/middleware/pipeline.py):
each middleware is ``async (exchange, next_call) -> exchange``; it may mutate
the exchange before/after awaiting ``next_call(exchange)``, short-circuit by
not calling it, or call it multiple times (retry). The terminal handler
performs the actual transport send.
"""

from __future__ import annotations

from collections.abc import Awaitable, Callable

from distributed_api_etl_spark.request_execution.models import RequestExchange

NextCall = Callable[[RequestExchange], Awaitable[RequestExchange]]
Middleware = Callable[[RequestExchange, NextCall], Awaitable[RequestExchange]]


def _link(mw: Middleware, nxt: NextCall) -> NextCall:
    return lambda exchange: mw(exchange, nxt)


class MiddlewarePipeline:
    def __init__(self, middlewares: list[Middleware], terminal: NextCall) -> None:
        # composed once: every request reuses the same chain of closures
        chain = terminal
        for mw in reversed(middlewares):
            chain = _link(mw, chain)
        self._chain = chain

    async def execute(self, exchange: RequestExchange) -> RequestExchange:
        return await self._chain(exchange)
