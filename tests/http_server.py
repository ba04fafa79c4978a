"""Local mock API server for transport/auth integration tests (the
reference's strategy: a real HTTP server in a background thread, ephemeral
port, counting in-flight requests)."""

from __future__ import annotations

import gzip
import json
import ssl
import threading
import time
import urllib.parse
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class MockApiServer:
    """``ssl_context`` (server side) serves HTTPS instead of HTTP."""

    def __init__(self, ssl_context: ssl.SSLContext | None = None) -> None:
        self.in_flight = 0
        self.max_in_flight = 0
        self.request_count = 0
        self.connections = 0  # accepted since start
        self.open_connections = 0
        self.flaky_seen: dict[str, int] = {}
        self.auth_headers: list[str] = []
        self.token_grants = 0
        self.hold_expired = False
        # a Condition so /slow's ``hold`` can wait for the in-flight count
        self._lock = threading.Condition()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1 keep-alive: every reply carries Content-Length, so
            # clients can reuse connections — without this each request
            # pays a fresh TCP setup + server thread spawn, which distorts
            # concurrency measurements (and real APIs keep connections
            # alive, which is what the pooled transports are tuned for)
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # noqa: D102
                return

            def setup(self):  # noqa: D102
                super().setup()
                with outer._lock:
                    outer.connections += 1
                    outer.open_connections += 1

            def finish(self):  # noqa: D102
                try:
                    super().finish()
                finally:
                    with outer._lock:
                        outer.open_connections -= 1

            def _send(self, code: int, body: bytes, headers=()) -> None:
                self.send_response(code)
                for name, value in headers:
                    self.send_header(name, value)
                self.end_headers()
                self.wfile.write(body)

            def _reply(self, code: int, payload: dict, headers=()) -> None:
                body = json.dumps(payload, sort_keys=True).encode()
                self._send(code, body, [("Content-Type", "application/json"),
                                        ("Content-Length", str(len(body))), *headers])

            def _echo(self, body: bytes = b"") -> None:
                """What arrived on the wire: method, raw target, headers as
                sent, body, and the TLS client certificate's subject."""
                cert = self.connection.getpeercert() if hasattr(self.connection, "getpeercert") else None
                self._reply(200, {
                    "method": self.command,
                    "target": self.path,
                    "headers": dict(self.headers.items()),
                    "body": body.decode("latin-1"),
                    "peer_subject": cert.get("subject") if cert else None,
                })

            def _redirect(self, params: dict) -> None:
                self._send(int(params["code"]), b"", [("Location", params.get("to", "")),
                                                      ("Content-Length", "0")])

            def _wire_route(self, path: str, params: dict) -> bool:
                """Routes that exercise the client's framing and decoding."""
                if path == "/echo" or path.startswith("/echo/"):
                    self._echo()
                elif path == "/redirect":
                    self._redirect(params)
                elif path == "/chunked":
                    self._send(200, b"5\r\nhello\r\n6;ext=1\r\n world\r\n0\r\nX-Trailer: t\r\n\r\n",
                               [("Transfer-Encoding", "chunked"), ("X-Multi", "a"),
                                ("x-multi", "b")])
                elif path in ("/gzip", "/deflate"):
                    raw = json.dumps({"echo": params}, sort_keys=True).encode()
                    body = gzip.compress(raw) if path == "/gzip" else zlib.compress(raw)
                    self._send(200, body, [("Content-Encoding", path[1:]),
                                           ("Content-Length", str(len(body)))])
                elif path == "/close":
                    # no Content-Length: the body runs to the connection's end
                    self._send(200, b'{"framed": "by close"}', [("Connection", "close")])
                elif path == "/drop-idle":
                    # a keep-alive reply, then the server closes the idle socket
                    self._reply(200, {"echo": params})
                    self.close_connection = True
                else:
                    return False
                return True

            def do_GET(self):  # noqa: N802
                parsed = urllib.parse.urlparse(self.path)
                params = dict(urllib.parse.parse_qsl(parsed.query))
                with outer._lock:
                    outer.request_count += 1
                    outer.in_flight += 1
                    outer.max_in_flight = max(outer.max_in_flight, outer.in_flight)
                    outer._lock.notify_all()
                    if auth := self.headers.get("Authorization"):
                        outer.auth_headers.append(auth)
                try:
                    if self._wire_route(parsed.path, params):
                        pass
                    elif parsed.path == "/ok":
                        time.sleep(0.002)
                        self._reply(200, {"echo": params})
                    elif parsed.path == "/slow":
                        # ``hold=N``: park each request until N have been in
                        # flight at once, or until one has waited 2 s, then
                        # release everything — the overlap a test reads then
                        # measures the client's cap, not how its first sends
                        # happened to be scheduled
                        hold = int(params.get("hold", 0))
                        with outer._lock:
                            if not outer._lock.wait_for(
                                lambda: outer.hold_expired or outer.max_in_flight >= hold,
                                timeout=2.0,
                            ):
                                outer.hold_expired = True
                                outer._lock.notify_all()
                        # I/O-bound API emulation: latency from the ms param
                        time.sleep(float(params.get("ms", "50")) / 1000.0)
                        self._reply(200, {"echo": params})
                    elif parsed.path == "/flaky":
                        rid = params.get("id", "?")
                        with outer._lock:
                            n = outer.flaky_seen.get(rid, 0)
                            outer.flaky_seen[rid] = n + 1
                        if n < 2:
                            self._reply(503, {"error": "flaky"})
                        else:
                            self._reply(200, {"echo": params})
                    elif parsed.path == "/secured":
                        if not self.headers.get("Authorization", "").startswith("Bearer "):
                            self._reply(401, {"error": "unauthorized"})
                        else:
                            self._reply(200, {"echo": params})
                    else:
                        self._reply(404, {"error": "not found"})
                finally:
                    with outer._lock:
                        outer.in_flight -= 1

            def do_POST(self):  # noqa: N802
                length = int(self.headers.get("Content-Length", 0))
                data = self.rfile.read(length)
                raw = data.decode("latin-1")
                fields = dict(urllib.parse.parse_qsl(raw))
                parsed = urllib.parse.urlparse(self.path)
                if parsed.path == "/echo" or parsed.path.startswith("/echo/"):
                    self._echo(data)
                elif parsed.path == "/redirect":
                    self._redirect(dict(urllib.parse.parse_qsl(parsed.query)))
                elif self.path == "/oauth/token":
                    with outer._lock:
                        outer.token_grants += 1
                    if fields.get("client_secret") != "s3cret":
                        self._reply(401, {"error": "bad client"})
                        return
                    self._reply(
                        200,
                        {"access_token": f"tok-{outer.token_grants}", "expires_in": 3600},
                    )
                else:
                    self._reply(404, {"error": "not found"})

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        if ssl_context is not None:
            self._server.socket = ssl_context.wrap_socket(self._server.socket, server_side=True)
        self.port = self._server.server_address[1]
        scheme = "https" if ssl_context is not None else "http"
        self.base_url = f"{scheme}://127.0.0.1:{self.port}"
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def start(self) -> "MockApiServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
