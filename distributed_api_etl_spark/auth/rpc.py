"""Driver-side OAuth2 runtime: token manager + token RPC service.

The framework's signature feature (reference: src/auth/rpc/*,
src/auth/token/token_manager.py): the driver performs the OAuth grant once,
keeps the token fresh with a background refresh loop, and serves it to
workers over a tiny HTTP endpoint — N workers produce 1 token round-trip
instead of N. Workers fall back to direct grant if the RPC is unreachable
(auth/providers.py).

Implementation is stdlib-only (ThreadingHTTPServer + a daemon refresh
thread): no aiohttp dependency on the driver.
"""

from __future__ import annotations

import json
import secrets
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from distributed_api_etl_spark.auth.models import Token
from distributed_api_etl_spark.auth.providers import fetch_token_direct

# Ports that may not be used for the token RPC even when explicitly
# configured (reference parity: restricted-port screening,
# src/auth/rpc/service.py:67-118). Well-known service ports that proxies,
# firewalls, and the OS treat specially; binding the bearer-token endpoint
# to one of these is always a misconfiguration.
RESTRICTED_PORTS = frozenset(
    {21, 22, 23, 25, 53, 80, 110, 135, 139, 143, 443, 445, 465, 587, 993, 995,
     1433, 1521, 2049, 3306, 3389, 5432, 6379, 6666, 9200, 11211, 27017}
)

# How often serve_forever checks for shutdown. ``shutdown()`` blocks until the
# next check, so the default 0.5 s poll added up to half a second to every
# OAuth2 run's teardown; 50 ms keeps the idle wake-ups negligible.
SERVE_POLL_INTERVAL_S = 0.05


def _probe(host: str, port: int) -> None:
    """Raise OSError until (host, port) accepts connections."""
    with socket.create_connection((host, port), timeout=0.5):
        return


def screen_rpc_port(port: int) -> int:
    """Validate an explicit rpc_port: 0 (ephemeral) or an unrestricted
    registered/dynamic port. Raises ValueError otherwise."""
    if port == 0:
        return port
    if not (1024 <= port <= 65535):
        raise ValueError(
            f"rpc_port {port} out of range: use 0 (ephemeral) or 1024-65535"
        )
    if port in RESTRICTED_PORTS:
        raise ValueError(f"rpc_port {port} is a restricted well-known service port")
    return port


class DriverTokenManager:
    """Cached token with refresh-margin logic + 1s background refresh loop."""

    def __init__(self, auth: dict[str, Any], refresh_interval: float = 1.0) -> None:
        self._auth = auth
        self._margin = float(auth.get("refresh_margin", 60.0))
        self._interval = refresh_interval
        self._token: Token | None = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def get_token(self) -> Token:
        with self._lock:
            if self._token is None or self._token.is_expired(self._margin):
                self._token = fetch_token_direct(self._auth)
            return self._token

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                self.get_token()
            except Exception:  # noqa: BLE001 - keep refreshing; workers fall back
                pass

    def start(self) -> None:
        self.get_token()  # fail fast on bad credentials
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2.0)


class _TokenHandler(BaseHTTPRequestHandler):
    manager: DriverTokenManager = None  # type: ignore[assignment]
    rpc_secret: str = ""

    def do_GET(self) -> None:  # noqa: N802 - http.server API
        if self.path.rstrip("/") != "/token":
            self.send_error(404)
            return
        presented = self.headers.get("X-Rpc-Auth", "")
        if not secrets.compare_digest(presented, self.rpc_secret):
            self.send_error(403, explain="missing or invalid X-Rpc-Auth header")
            return
        try:
            token = self.manager.get_token()
        except Exception as exc:  # noqa: BLE001
            self.send_error(503, explain=str(exc))
            return
        body = json.dumps(token.to_json()).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # silence per-request stderr noise
        return


class RpcBootstrapper:
    """Start/stop the token manager + RPC server; exposes ``rpc_url`` that
    the compile step injects into worker auth config."""

    def __init__(self, auth: dict[str, Any]) -> None:
        self._auth = auth
        self.manager = DriverTokenManager(auth)
        self._server: ThreadingHTTPServer | None = None
        self._server_thread: threading.Thread | None = None
        self.rpc_url: str | None = None
        # Per-run shared secret: compiled into the worker auth config next to
        # rpc_url; required on every /token request. The endpoint serves a
        # live bearer token, so reachability alone must not grant access.
        self.rpc_secret: str = secrets.token_urlsafe(32)

    def start(self, ready_timeout: float = 5.0) -> None:
        self.manager.start()
        if not self._auth.get("rpc_enabled", True):
            return
        port = screen_rpc_port(int(self._auth.get("rpc_port", 0) or 0))
        # Bind to the address executors actually use (the driver host) — never
        # 0.0.0.0, which would expose the token endpoint on every interface.
        # In local mode this resolves to loopback.
        bind_host = self._auth.get("rpc_bind_host") or self._advertise_host()
        handler = type(
            "Handler",
            (_TokenHandler,),
            {"manager": self.manager, "rpc_secret": self.rpc_secret},
        )
        self._server = ThreadingHTTPServer((bind_host, port), handler)
        self._server_thread = threading.Thread(
            target=self._server.serve_forever,
            kwargs={"poll_interval": SERVE_POLL_INTERVAL_S},
            daemon=True,
        )
        self._server_thread.start()
        bound_port = self._server.server_address[1]
        self.rpc_url = f"http://{bind_host}:{bound_port}/token"
        # readiness probe: the server thread is accepting once serve_forever runs
        deadline = time.time() + ready_timeout
        while time.time() < deadline:
            try:
                _probe(bind_host, bound_port)
                return
            except OSError:
                time.sleep(0.05)
        self.stop()
        raise RuntimeError(
            f"token RPC failed readiness probe on {bind_host}:{bound_port} "
            f"within {ready_timeout}s"
        )

    @staticmethod
    def _advertise_host() -> str:
        """Driver address reachable from executors (local mode: loopback)."""
        try:
            with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
                s.connect(("10.255.255.255", 1))
                return s.getsockname()[0]
        except OSError:
            return "127.0.0.1"

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
        self.manager.stop()
