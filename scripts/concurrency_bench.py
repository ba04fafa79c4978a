#!/usr/bin/env python
"""Measure the async fan-out's throughput gain on an I/O-bound API.

The reference's only quantitative performance claim is a 10-20x gain over
sequential requests at concurrency 20 for I/O-bound APIs (BASELINE.md,
reference docs/architecture.md:452-461). This script measures OUR stack's
actual gain against a live local HTTP server with injected latency: the
same run_rows() executor (bounded asyncio queue + middleware chain +
transport engine) at max_concurrent_requests=1 vs 20.

Usage: python scripts/concurrency_bench.py [n_rows] [latency_ms]
Prints one JSON line: {"n": ..., "latency_ms": ..., "sequential_s": ...,
"concurrent_s": ..., "speedup": ..., "max_in_flight": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from http_server import MockApiServer  # noqa: E402

from distributed_api_etl_spark.core.runtime import ProcessScope  # noqa: E402
from distributed_api_etl_spark.orchestration.partition_executor import (  # noqa: E402
    run_rows,
)


def compiled(base_url: str, latency_ms: int, concurrency: int) -> dict:
    return {
        "endpoint": {
            "method": "GET",
            "url": f"{base_url}/slow",
            "param_mapping": [
                {"endpoint_param": "id", "source_column": "request_id"},
                {"endpoint_param": "ms", "source_column": "ms"},
            ],
        },
        "transport": {"engine": "auto"},
        "retry": {"max_attempts": 3, "base_delay": 0.05, "max_delay": 0.2},
        "auth": {"type": "none"},
        "middleware": [{"type": "timing"}],
        "execution": {
            "max_concurrent_requests": concurrency,
            "chunk_size": 1000,
        },
    }


def run_once(base_url: str, n: int, latency_ms: int, concurrency: int) -> float:
    ProcessScope.clear()
    rows = [{"request_id": str(i), "ms": str(latency_ms)} for i in range(n)]
    t0 = time.perf_counter()
    out = list(run_rows(rows, compiled(base_url, latency_ms, concurrency)))
    dt = time.perf_counter() - t0
    assert len(out) == n and all(r["status_code"] == 200 for r in out)
    return dt


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    latency_ms = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    srv = MockApiServer().start()
    try:
        # warm the interpreter and the server outside the timed region
        run_once(srv.base_url, 5, 1, 4)
        seq = run_once(srv.base_url, n, latency_ms, 1)
        srv.max_in_flight = 0
        conc = run_once(srv.base_url, n, latency_ms, 20)
        print(
            json.dumps(
                {
                    "n": n,
                    "latency_ms": latency_ms,
                    "sequential_s": round(seq, 3),
                    "concurrent_s": round(conc, 3),
                    "speedup": round(seq / conc, 2),
                    "max_in_flight": srv.max_in_flight,
                }
            )
        )
    finally:
        srv.stop()


if __name__ == "__main__":
    main()
