"""Native-async HTTP/1.1 engine on asyncio streams, stdlib only — the engine
``auto`` picks when aiohttp is not installed.

Every socket read and write runs on the chunk's own event loop
(``asyncio.open_connection`` + ``ssl``): no thread hop per request and no
thread pool contending with the loop for the GIL. Connections are
loop-affine, so the engine is ``loop_bound``: the partition executor creates
it and ``aclose``s it inside each ``asyncio.run``.

Pool: keep-alive connections per origin (scheme, host, port), at most
``pool_limit`` open at once across origins; a request waits for a free slot.

Wire format, as ``requests`` sends it:

* params are appended to the URL's own query with
  ``urlencode(params, doseq=True)``; path and query are quoted like
  ``requests.utils.requote_uri`` (percent-escapes are kept as given);
* ``data`` is sent as given; otherwise ``json_body`` is sent as
  ``json.dumps(body, allow_nan=False)`` with ``Content-Type:
  application/json`` unless the caller set one; ``Content-Length`` goes with
  every body and with every method other than GET and HEAD;
* ``Accept-Encoding: gzip, deflate``; a body framed by Content-Length, by
  chunked transfer coding or by connection close is read and decoded;
  response headers keep the server's casing, repeats joined with ``", "``;
* up to 30 redirects: a 302/303 (other than to HEAD) or a 301 to a POST
  becomes a GET, every redirect but 307/308 drops the body, and
  ``Authorization`` is dropped for good once a hop changes scheme, host or
  port.

Not carried over from ``requests``: its session cookie jar, which leaked
cookies set by one row's response into every later row's request, and its
environment-proxy lookup (aiohttp ignores ``*_proxy`` by default too).

Errors are data: ``send`` returns ``TransportResponse(error=...)`` starting
``ConnectionError:``, ``Timeout:``, ``SSLError:`` or ``InvalidResponse:``.
The deadline is ``request.timeout or base_timeout`` over the whole request,
redirects included. Nothing is re-sent here: an idle connection the peer has
closed is dropped before reuse, and a send that fails is returned for
``RetryMiddleware`` to decide, so the API sees exactly the attempts bronze
records.
"""

from __future__ import annotations

import asyncio
import gzip
import json
import ssl
import sys
import time
import zlib
from urllib.parse import quote, urlencode, urljoin, urlsplit

from distributed_api_etl_spark.request_execution.models import (
    TransportRequest,
    TransportResponse,
)
from distributed_api_etl_spark.request_execution.transport.base import TransportEngine

MAX_REDIRECTS = 30  # requests' default
_REDIRECTS = frozenset({301, 302, 303, 307, 308})
_DEFAULT_PORTS = {"http": 80, "https": 443}
# requests.utils.requote_uri's safe set
_SAFE = "!#$%&'()*+,/:;=?@[]~"
_USER_AGENT = f"Python/{sys.version_info[0]}.{sys.version_info[1]} asyncio"
# how long closing a TLS connection waits for the peer's close_notify
_TLS_SHUTDOWN_S = 1.0

Origin = tuple[str, str, int]


class InvalidResponse(Exception):
    """The peer's reply cannot be framed or decoded as HTTP/1.x."""


def _locate(url: str, params: dict) -> tuple[Origin, str, str]:
    """(origin, request target, Host header) of ``url`` with ``params``
    appended to its query. Raises ValueError for a URL it cannot send to."""
    parts = urlsplit(url)
    scheme = parts.scheme.lower()
    default = _DEFAULT_PORTS.get(scheme)
    host = parts.hostname
    if default is None or not host:
        raise ValueError(f"not an http(s) URL: {url!r}")
    port = parts.port or default
    if not host.isascii():
        host = host.encode("idna").decode("ascii")
    query = parts.query
    if params:
        encoded = urlencode(params, doseq=True)
        query = f"{query}&{encoded}" if query else encoded
    target = quote(parts.path or "/", _SAFE)
    if query:
        target += "?" + quote(query, _SAFE)
    authority = f"[{host}]" if ":" in host else host
    if port != default:
        authority += f":{port}"
    return (scheme, host, port), target, authority


def _header(headers: dict[str, str], name: str) -> str | None:
    """Case-insensitive lookup in a request header dict."""
    name = name.lower()
    for key, value in headers.items():
        if key.lower() == name:
            return value
    return None


def _without(headers: dict[str, str], *names: str) -> dict[str, str]:
    drop = {n.lower() for n in names}
    return {k: v for k, v in headers.items() if k.lower() not in drop}


async def _read_head(reader: asyncio.StreamReader) -> tuple[str, int, dict, dict]:
    """(version, status, headers with the server's casing, lower-cased
    lookup) of the next final response; interim 1xx replies are skipped."""
    while True:
        raw = await reader.readuntil(b"\r\n\r\n")
        lines = raw[:-4].decode("latin-1").split("\r\n")
        version, _, rest = lines[0].partition(" ")
        code = rest[:3]
        if not version.startswith("HTTP/1.") or not (code.isdigit() and len(code) == 3):
            raise InvalidResponse(f"bad status line {lines[0][:80]!r}")
        status = int(code)
        if 100 <= status < 200 and status != 101:
            continue
        merged: dict[str, list[str]] = {}
        for line in lines[1:]:
            name, sep, value = line.partition(":")
            if not sep:
                raise InvalidResponse(f"bad header line {line[:80]!r}")
            name, value = name.strip(), value.strip()
            seen = merged.get(name.lower())
            if seen is None:
                merged[name.lower()] = [name, value]
            else:
                seen[1] += ", " + value
        headers = {name: value for name, value in merged.values()}
        lookup = {key: value for key, (_, value) in merged.items()}
        return version, status, headers, lookup


async def _read_chunked(reader: asyncio.StreamReader) -> bytes:
    parts = []
    while True:
        line = await reader.readuntil(b"\r\n")
        try:
            size = int(line.split(b";", 1)[0], 16)
        except ValueError:
            raise InvalidResponse(f"bad chunk size line {line[:40]!r}") from None
        if size == 0:
            break
        parts.append(await reader.readexactly(size))
        if await reader.readexactly(2) != b"\r\n":
            raise InvalidResponse("chunk not followed by CRLF")
    while await reader.readuntil(b"\r\n") != b"\r\n":  # trailer fields
        pass
    return b"".join(parts)


async def _read_body(
    reader: asyncio.StreamReader, method: str, status: int, lookup: dict
) -> tuple[bytes, bool]:
    """(body, framed): ``framed`` is False when the body ran to EOF."""
    if method == "HEAD" or status in (204, 304) or status < 200:
        return b"", True
    if "chunked" in lookup.get("transfer-encoding", "").lower():
        return await _read_chunked(reader), True
    length = lookup.get("content-length")
    if length is None:
        return await reader.read(), False
    if not (length.isascii() and length.isdigit()):
        raise InvalidResponse(f"bad Content-Length {length[:40]!r}")
    return await reader.readexactly(int(length)), True


def _decode(body: bytes, coding: str | None) -> bytes:
    """Undo the response's Content-Encoding (gzip/deflate; anything else is
    returned as sent, as requests does)."""
    if not body or not coding:
        return body
    try:
        for c in reversed(coding.lower().split(",")):
            c = c.strip()
            if c in ("gzip", "x-gzip"):
                body = gzip.decompress(body)
            elif c == "deflate":
                try:
                    body = zlib.decompress(body)
                except zlib.error:  # raw deflate, no zlib header
                    body = zlib.decompress(body, -zlib.MAX_WBITS)
    except (OSError, EOFError, zlib.error) as exc:
        raise InvalidResponse(f"cannot decode {coding} body: {exc}") from None
    return body


def _describe(exc: BaseException, timeout: float) -> str:
    if isinstance(exc, TimeoutError):
        return f"Timeout: no complete response within {timeout:g} s"
    if isinstance(exc, ssl.SSLError):
        return f"SSLError: {exc}"
    if isinstance(exc, InvalidResponse):
        return f"InvalidResponse: {exc}"
    if isinstance(exc, asyncio.LimitOverrunError):
        return "InvalidResponse: header or chunk-size line over 64 KiB"
    if isinstance(exc, asyncio.IncompleteReadError):
        return f"ConnectionError: connection closed {len(exc.partial)} bytes into a read"
    if isinstance(exc, ValueError):
        return f"ConnectionError: request not sent: {exc}"
    return f"ConnectionError: {type(exc).__name__}: {exc}"


# SSLError, TimeoutError and the socket errors are all OSError; ValueError
# is a request that cannot be encoded (bad URL, NaN in the JSON body)
_ERRORS = (
    OSError,
    asyncio.IncompleteReadError,
    asyncio.LimitOverrunError,
    InvalidResponse,
    ValueError,
)


class _Connection:
    __slots__ = ("origin", "reader", "writer")

    def __init__(self, origin: Origin, reader, writer) -> None:
        self.origin = origin
        self.reader = reader
        self.writer = writer

    def reusable(self) -> bool:
        return not (self.reader.at_eof() or self.writer.is_closing())


class AsyncioEngine(TransportEngine):
    loop_bound = True

    def __init__(
        self,
        base_timeout: float = 30.0,
        pool_limit: int = 100,
        verify_tls: bool = True,
        ca_bundle: str | None = None,
        client_cert: tuple[str, str] | None = None,
    ) -> None:
        self._base_timeout = base_timeout
        self._pool_limit = max(1, pool_limit)
        self._verify = verify_tls
        self._ca_bundle = ca_bundle
        self._client_cert = client_cert
        self._tls: ssl.SSLContext | None = None
        # one slot per connection in use; idle ones hold none
        self._slots = asyncio.Semaphore(self._pool_limit)
        self._idle: dict[Origin, list[_Connection]] = {}
        self._open: set[_Connection] = set()

    def _tls_context(self) -> ssl.SSLContext:
        if self._tls is None:
            if self._verify:
                ctx = ssl.create_default_context(cafile=self._ca_bundle)
            else:
                ctx = ssl.create_default_context()
                ctx.check_hostname = False
                ctx.verify_mode = ssl.CERT_NONE
            if self._client_cert:
                ctx.load_cert_chain(*self._client_cert)
            self._tls = ctx
        return self._tls

    async def _acquire(self, origin: Origin) -> _Connection:
        await self._slots.acquire()
        try:
            idle = self._idle.get(origin)
            while idle:
                conn = idle.pop()
                if conn.reusable():
                    return conn
                self._drop(conn)
            if len(self._open) >= self._pool_limit:
                # the cap counts idle connections too: close one of another
                # origin (this request holds a slot, so one is idle)
                self._drop(next(c for conns in self._idle.values() for c in conns))
            scheme, host, port = origin
            tls = {}
            if scheme == "https":
                # server_hostname defaults to host: SNI and hostname check
                tls = {"ssl": self._tls_context(), "ssl_shutdown_timeout": _TLS_SHUTDOWN_S}
            reader, writer = await asyncio.open_connection(host, port, **tls)
            conn = _Connection(origin, reader, writer)
            self._open.add(conn)
            return conn
        except BaseException:
            self._slots.release()
            raise

    def _release(self, conn: _Connection, keep: bool) -> None:
        if keep and conn in self._open and conn.reusable():
            self._idle.setdefault(conn.origin, []).append(conn)
        else:
            self._drop(conn)
        self._slots.release()

    def _drop(self, conn: _Connection) -> None:
        self._open.discard(conn)
        idle = self._idle.get(conn.origin)
        if idle and conn in idle:
            idle.remove(conn)
        conn.writer.transport.abort()

    async def _exchange(
        self, method: str, origin: Origin, head: bytes, body: bytes | None, close: bool
    ) -> tuple[int, dict, dict, bytes]:
        """One request/response on a pooled connection."""
        conn = await self._acquire(origin)
        keep = False
        try:
            conn.writer.write(head + body if body else head)
            await conn.writer.drain()
            version, status, headers, lookup = await _read_head(conn.reader)
            payload, framed = await _read_body(conn.reader, method, status, lookup)
            tokens = lookup.get("connection", "").lower()
            keep = framed and not close and (
                "close" not in tokens if version == "HTTP/1.1" else "keep-alive" in tokens
            )
        finally:
            self._release(conn, keep)
        return status, headers, lookup, payload

    async def _follow(self, request: TransportRequest) -> TransportResponse:
        method = request.method.upper()
        headers = {
            "User-Agent": _USER_AGENT,
            "Accept-Encoding": "gzip, deflate",
            "Accept": "*/*",
        }
        headers = {**_without(headers, *request.headers), **request.headers}
        body = request.data
        if not body and request.json_body is not None:
            body = json.dumps(request.json_body, allow_nan=False).encode()
            if _header(headers, "Content-Type") is None:
                headers["Content-Type"] = "application/json"
        if body:
            headers = _without(headers, "Content-Length")
            headers["Content-Length"] = str(len(body))
        elif method not in ("GET", "HEAD") and _header(headers, "Content-Length") is None:
            headers["Content-Length"] = "0"
        close = (_header(headers, "Connection") or "").lower() == "close"

        url, params, previous = request.url, request.params, None
        for _ in range(MAX_REDIRECTS + 1):
            origin, target, authority = _locate(url, params)
            if previous is not None and origin != previous:
                headers = _without(headers, "Authorization")
            previous = origin
            lines = [f"{method} {target} HTTP/1.1", f"Host: {authority}"]
            lines += [f"{k}: {v}" for k, v in headers.items() if k.lower() != "host"]
            head = ("\r\n".join(lines) + "\r\n\r\n").encode("latin-1")
            status, resp_headers, lookup, payload = await self._exchange(
                method, origin, head, body, close
            )
            location = lookup.get("location")
            if status not in _REDIRECTS or location is None:
                return TransportResponse(
                    status_code=status,
                    headers=resp_headers,
                    body=_decode(payload, lookup.get("content-encoding")),
                )
            url, params = urljoin(f"{origin[0]}://{authority}{target}", location), {}
            if (status in (302, 303) and method != "HEAD") or (status == 301 and method == "POST"):
                method = "GET"
            if status not in (307, 308):
                body = None
                headers = _without(headers, "Content-Length", "Content-Type", "Transfer-Encoding")
        raise InvalidResponse(f"exceeded {MAX_REDIRECTS} redirects")

    async def send(self, request: TransportRequest) -> TransportResponse:
        timeout = request.timeout or self._base_timeout
        try:
            async with asyncio.timeout(timeout):
                return await self._follow(request)
        except _ERRORS as exc:
            return TransportResponse(error=_describe(exc, timeout))

    async def warmup(self, base_url: str, timeout: float) -> dict:
        """Open one pooled connection (TCP, plus TLS for https) to the
        endpoint's origin; no request is sent. Failures are diagnostics."""
        t0 = time.perf_counter()
        try:
            async with asyncio.timeout(timeout):
                conn = await self._acquire(_locate(base_url, {})[0])
        except _ERRORS as exc:
            return {"warmed_up": False, "warmup_error": _describe(exc, timeout),
                    "connect_ms": None}
        self._release(conn, keep=True)
        return {"warmed_up": True, "warmup_error": None,
                "connect_ms": round(1000.0 * (time.perf_counter() - t0), 3)}

    async def aclose(self) -> None:
        conns, self._open, self._idle = self._open, set(), {}
        for conn in conns:
            conn.writer.close()
        await asyncio.gather(*(c.writer.wait_closed() for c in conns), return_exceptions=True)
