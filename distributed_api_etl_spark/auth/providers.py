"""Worker-side token providers.

Primary: fetch from the driver's token RPC (one OAuth round-trip per
pipeline, amortized across all workers). Fallback: direct grant against the
token URL (each worker process independently; still cached per process).
Both are wrapped in a per-process async cache with refresh-margin logic.

Reference parity: RpcTokenProvider/FallbackTokenProvider + worker-local
TokenManager (src/auth/token/token_provider.py:151-246, strategy.py:173-272),
rebuilt without the per-process singleton shared across pipelines (keyed
cache instead — SURVEY §7.4 #4).
"""

from __future__ import annotations

import asyncio
import json
import threading
import time
import urllib.parse
import urllib.request
from typing import Any

from distributed_api_etl_spark.auth.models import Token
from distributed_api_etl_spark.core.runtime import ProcessScope


def _post_form(url: str, fields: dict[str, str], timeout: float = 10.0) -> dict:
    data = urllib.parse.urlencode(fields).encode()
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/x-www-form-urlencoded"}
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode())


# The driver's token RPC is fetched directly, never through ``*_proxy``
# from the environment: a proxy would see the per-run X-Rpc-Auth secret and
# the live bearer token in plain HTTP, and an unreachable one fails every
# fetch. The OAuth grant to the external token_url keeps env proxies.
_DIRECT = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get_rpc_json(url: str, timeout: float, headers: dict[str, str]) -> dict:
    req = urllib.request.Request(url, headers=headers)
    with _DIRECT.open(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode())


def fetch_token_direct(auth: dict[str, Any]) -> Token:
    """Direct OAuth2 grant (password or client_credentials) — blocking."""
    fields = {
        "client_id": auth["client_id"],
        "client_secret": auth["client_secret"],
    }
    if auth["type"] == "oauth2_password":
        fields.update(
            grant_type="password", username=auth["username"], password=auth["password"]
        )
    else:
        fields["grant_type"] = "client_credentials"
    if auth.get("scope"):
        fields["scope"] = auth["scope"]
    payload = _post_form(auth["token_url"], fields)
    expires_in = float(payload.get("expires_in", 0) or 0)
    return Token(
        token_value=payload["access_token"],
        expires_at=time.time() + expires_in if expires_in else 0.0,
    )


class WorkerTokenProvider:
    """RPC-first, direct-grant-fallback provider with per-process caching."""

    def __init__(self, auth: dict[str, Any]) -> None:
        self._auth = auth
        self._margin = float(auth.get("refresh_margin", 60.0))
        self._rpc_url = auth.get("rpc_url")  # injected by the driver at compile time
        self._rpc_secret = auth.get("rpc_secret", "")
        self._token: Token | None = None
        # threading.Lock, NOT asyncio.Lock: the provider is process-cached and
        # outlives any single event loop (run_rows starts a fresh asyncio.run
        # per chunk), while an asyncio.Lock binds to the loop that first awaits
        # it and raises "bound to a different event loop" on the next chunk.
        # The lock is only ever taken inside asyncio.to_thread, so holding it
        # across the blocking fetch never stalls an event loop. A valid cached
        # token is read without the lock or the thread hop (get_token).
        self._lock = threading.Lock()

    def _fetch(self) -> Token:
        attempts = 5
        delay = 0.25
        last_err: Exception | None = None
        for i in range(attempts):
            try:
                if self._rpc_url:
                    try:
                        return Token.from_json(
                            _get_rpc_json(
                                self._rpc_url,
                                timeout=10.0,
                                headers={"X-Rpc-Auth": self._rpc_secret},
                            )
                        )
                    except Exception:
                        # RPC unreachable -> direct grant fallback
                        return fetch_token_direct(self._auth)
                return fetch_token_direct(self._auth)
            except Exception as exc:  # noqa: BLE001 - retried
                last_err = exc
                time.sleep(delay * (2**i))
        raise RuntimeError(f"token fetch failed after {attempts} attempts: {last_err}")

    def _get_token_blocking(self) -> str:
        with self._lock:
            if self._token is None or self._token.is_expired(self._margin):
                self._token = self._fetch()
            return self._token.token_value

    async def get_token(self) -> str:
        token = self._token
        if token is not None and not token.is_expired(self._margin):
            return token.token_value
        return await asyncio.to_thread(self._get_token_blocking)


def build_worker_token_provider(auth: dict[str, Any]) -> WorkerTokenProvider:
    """Keyed per-process cache (NOT a global singleton): one provider per
    distinct auth config, shared across tasks in the same worker."""
    key = "token-provider:" + json.dumps(
        {k: v for k, v in auth.items() if k not in ("client_secret", "rpc_secret")},
        sort_keys=True,
    )
    return ProcessScope.get(key, lambda: WorkerTokenProvider(auth))
