#!/usr/bin/env python
"""Outside-pytest smoke: the full pipeline against a LIVE local HTTP server.

Boots the mock API server (a real ThreadingHTTPServer on an ephemeral
port — the same one the transport integration tests use), then runs the
complete orchestration path with the real HTTP engine, OAuth2
client-credentials auth (driver token manager + worker RPC), retry-after-503
flakiness, and a parquet merge sink. Asserts end-state and prints a one-line
JSON summary.

    python scripts/smoke_live_pipeline.py [--rows 200]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200)
    args = ap.parse_args()

    from tests.http_server import MockApiServer

    from distributed_api_etl_spark.orchestration import (
        generate_tracking_ids,
        run_pipeline,
    )
    from distributed_api_etl_spark.session import get_spark

    server = MockApiServer().start()
    sink_dir = tempfile.mkdtemp(prefix="smoke_bronze_")
    try:
        spark = get_spark(app_name="smoke-live-pipeline", shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        cfg = {
            "endpoint": {
                "method": "GET",
                # /secured 401s without a Bearer header, so success proves
                # the whole OAuth runtime (driver manager -> RPC -> worker
                # provider -> header injection) worked
                "url": f"{server.base_url}/secured",
                "param_mapping": [
                    {"endpoint_param": "id", "source_column": "request_id"}
                ],
            },
            # "auto" picks aiohttp when installed, else the stdlib asyncio
            # engine; warmup opens one connection per chunk, sending nothing
            "transport": {"engine": "auto", "warmup": True},
            "auth": {
                "type": "oauth2_client_credentials",
                "token_url": f"{server.base_url}/oauth/token",
                "client_id": "smoke",
                "client_secret": "s3cret",
            },
            "middleware": [{"type": "timing"}, {"type": "worker_identity"}],
            "execution": {
                "batch_size": max(50, args.rows // 4),
                "num_partitions": 8,
                "max_concurrent_requests": 16,
            },
            "tables": {
                "sink": {
                    "location": f"{sink_dir}/bronze",
                    "format": "parquet",
                    "mode": "merge",
                }
            },
        }
        source = generate_tracking_ids(spark, args.rows)
        result = run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")

        sink = spark.read.parquet(f"{sink_dir}/bronze")
        n = sink.count()
        n_distinct = sink.select("request_id").distinct().count()
        ok_rows = sink.where("success = true").count()
        # re-run: idempotency diff + merge sink => nothing new
        rerun = run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
        n_after = spark.read.parquet(f"{sink_dir}/bronze").count()

        summary = {
            "rows": args.rows,
            "sink_rows": n,
            "distinct_request_ids": n_distinct,
            "success_rows": ok_rows,
            "rerun_processed": rerun.stats.processed_rows,
            "sink_rows_after_rerun": n_after,
            "server_requests": server.request_count,
            "token_grants": server.token_grants,
        }
        failures = []
        if n != args.rows or n_distinct != args.rows:
            failures.append("sink row/distinct count mismatch")
        if ok_rows != args.rows:
            failures.append("not all requests succeeded")
        if n_after != args.rows:
            failures.append("re-run added rows (idempotency broken)")
        if server.token_grants < 1:
            failures.append("OAuth token endpoint never hit")
        summary["failures"] = failures
        print(json.dumps(summary))
        return 1 if failures else 0
    finally:
        server.stop()


if __name__ == "__main__":
    raise SystemExit(main())
