"""Structured Streaming: pipeline foreachBatch front-end + windowed ops.

Stream source = parquet file stream over a temp dir (deterministic,
availableNow drains it); results checked against batch equivalents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_api_etl_spark.streaming import (
    run_streaming_pipeline,
    sessionized_stream,
    tumbling_window_stream,
)


#: The Spark build the empirically-pinned streaming semantics were calibrated
#: against (left-outer interval-join null-row timing; watermark-dedup state
#: eviction). See test_streaming_semantics_version_guard.
CALIBRATED_SPARK_VERSION = "4.1.2"


def test_streaming_semantics_version_guard(spark):
    """Fail LOUDLY on a Spark upgrade instead of silently drifting.

    Two graded oracles encode behavior derived by experiment against this
    exact Spark build, not from documented contracts:

    - ``streaming_click_purchase_left_outer`` (queries/streaming.py): final
      availableNow watermark = min of per-side event-time maxima computed
      AFTER the click/purchase filters; outer null-rows emitted by the
      trailing no-data batch; STRICT ``<`` eviction boundary.
    - ``streaming_dedup_within_watermark``: dropDuplicatesWithinWatermark
      state-retention window relative to the same drain-time watermark.

    A minor-version bump can legally change null-match emission timing. If
    this assertion fires: re-run the calibration probes
    (test_left_outer_interval_join_emits_unmatched_after_eviction and
    test_watermark_dedup_across_microbatches), re-derive the two oracles,
    then update CALIBRATED_SPARK_VERSION.
    """
    assert spark.version == CALIBRATED_SPARK_VERSION, (
        f"Spark {spark.version} != calibrated {CALIBRATED_SPARK_VERSION}: "
        "re-validate the empirically-pinned oracles of "
        "streaming_click_purchase_left_outer and "
        "streaming_dedup_within_watermark before trusting their grades "
        "(see this test's docstring for the re-calibration recipe)."
    )


@pytest.fixture
def stream_source(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    spark.range(50).select(
        F.col("id").cast("string").alias("tracking_id")
    ).write.parquet(src)
    schema = "tracking_id string"
    return spark.readStream.schema(schema).parquet(src)


def test_streaming_pipeline_foreach_batch(spark, tmp_path, stream_source):
    sink = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/things",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "mock"},
        "execution": {"num_partitions": 4, "max_concurrent_requests": 8},
        "tables": {"sink": {"location": sink, "format": "parquet"}},
    }
    q = run_streaming_pipeline(
        spark, cfg, stream_source, source_id="tracking_id", checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    bronze = spark.read.parquet(sink)
    assert bronze.count() == 50
    assert bronze.where(F.col("status_code") == 200).count() == 50

    # restart with same checkpoint: no new files -> no new rows (exactly-once
    # source progress)
    q2 = run_streaming_pipeline(
        spark, cfg, stream_source, source_id="tracking_id", checkpoint_dir=ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 50


def test_streaming_pipeline_binds_mapping_on_id_column(spark, tmp_path, stream_source):
    """A param_mapping whose source_column IS the source id column must send
    that value on every streamed row, exactly as the batch run does: both
    runs share one source step, which keeps the id column when a mapping
    binds it (the streaming front-end used to rename it away, so every
    request went out without the parameter)."""
    sink = str(tmp_path / "bronze")
    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/things",
            "param_mapping": [{"endpoint_param": "id", "source_column": "tracking_id"}],
        },
        "transport": {"engine": "mock"},
        "execution": {"num_partitions": 2, "max_concurrent_requests": 8},
    }
    q = run_streaming_pipeline(
        spark, {**cfg, "tables": {"sink": {"location": sink}}}, stream_source,
        source_id="tracking_id", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    from distributed_api_etl_spark.orchestration import run_pipeline

    batch_src = spark.range(50).select(F.col("id").cast("string").alias("tracking_id"))
    batch = run_pipeline(spark, cfg, source_df=batch_src, source_id="tracking_id",
                         dry_run=True).bronze_df

    def rows(df):
        return sorted(
            (r.request_id, sorted(r.request_params.items()), r.body_text, r.status_code)
            for r in df.select("request_id", "request_params", "body_text", "status_code")
            .collect()
        )

    streamed = rows(spark.read.parquet(sink))
    assert [p for _, p, _, _ in streamed] == [[("id", i)] for i, *_ in streamed]
    assert streamed == rows(batch)
    assert len(streamed) == 50


@pytest.fixture
def api():
    from tests.http_server import MockApiServer

    srv = MockApiServer().start()
    yield srv
    srv.stop()


def _http_cfg(api, sink, path="/ok", **execution):
    return {
        "endpoint": {
            "method": "GET",
            "url": f"{api.base_url}{path}",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "asyncio", "base_timeout": 5.0},
        "execution": {"num_partitions": 2, "max_concurrent_requests": 8, **execution},
        "tables": {"sink": {"location": sink, "format": "parquet"}},
    }


def test_streaming_redelivered_micro_batch_is_not_resent(
    spark, tmp_path, stream_source, api, monkeypatch
):
    """foreachBatch is at-least-once: a query that dies after micro-batch
    0's sink append redelivers that batch when it restarts on the same
    checkpoint. The micro-batch goes through the batch run's anti-join
    against the sink, so the redelivery sends and lands nothing: one row
    and one request per id."""
    from pyspark.errors import StreamingQueryException

    from distributed_api_etl_spark.orchestration.batch_handler import (
        BronzeBatchHandler,
    )

    process = BronzeBatchHandler.process
    crashed = []

    def crash_after_append(self, batch_df):
        process(self, batch_df)
        if not crashed:
            crashed.append(1)
            raise RuntimeError("crash after the sink append")

    monkeypatch.setattr(BronzeBatchHandler, "process", crash_after_append)
    sink, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    cfg = _http_cfg(api, sink, max_attempts=1)
    q = run_streaming_pipeline(
        spark, cfg, stream_source, source_id="tracking_id", checkpoint_dir=ckpt
    )
    with pytest.raises(StreamingQueryException, match="crash after the sink append"):
        q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 50  # the append had landed

    q2 = run_streaming_pipeline(
        spark, cfg, stream_source, source_id="tracking_id", checkpoint_dir=ckpt
    )
    assert q2.awaitTermination(120)
    bronze = spark.read.parquet(sink)
    assert bronze.count() == 50
    assert bronze.select("request_id").distinct().count() == 50
    assert api.request_count == 50


def test_streaming_oauth2_uses_the_driver_token_rpc(
    spark, tmp_path, stream_source, api, monkeypatch
):
    """An OAuth2 stream asks the driver's token RPC, as a batch run does:
    the RPC starts before the first micro-batch and stops once when the
    query terminates, also when a micro-batch fails or the query cannot
    start; the token endpoint sees the driver's one grant."""
    import time

    from pyspark.errors import StreamingQueryException

    from distributed_api_etl_spark.auth.rpc import RpcBootstrapper
    from distributed_api_etl_spark.orchestration.batch_handler import (
        BronzeBatchHandler,
    )
    from distributed_api_etl_spark.orchestration.batch_processor import BatchProcessor

    events = []
    for owner, attr in ((RpcBootstrapper, "start"), (RpcBootstrapper, "stop"),
                        (BatchProcessor, "process")):
        def spy(*a, _fn=getattr(owner, attr), _attr=attr, **k):
            events.append(_attr)
            return _fn(*a, **k)

        monkeypatch.setattr(owner, attr, spy)

    def await_stop():
        deadline = time.monotonic() + 30
        while "stop" not in events and time.monotonic() < deadline:
            time.sleep(0.05)

    sink = str(tmp_path / "bronze")
    cfg = _http_cfg(api, sink, path="/secured")
    cfg["auth"] = {
        "type": "oauth2_client_credentials",
        "token_url": f"{api.base_url}/oauth/token",
        "client_id": "cid",
        "client_secret": "s3cret",
    }
    q = run_streaming_pipeline(
        spark, cfg, stream_source, source_id="tracking_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)
    await_stop()
    assert events == ["start", "process", "stop"]
    assert api.token_grants == 1
    bronze = spark.read.parquet(sink)
    assert bronze.where(F.col("status_code") == 200).count() == 50

    def fail(self, batch_df):
        raise RuntimeError("micro-batch failure")

    events.clear()
    monkeypatch.setattr(BronzeBatchHandler, "process", fail)
    failing = _http_cfg(api, str(tmp_path / "bronze_failing"), path="/secured",
                        max_attempts=1)
    q = run_streaming_pipeline(
        spark, {**failing, "auth": cfg["auth"]}, stream_source, source_id="tracking_id",
        checkpoint_dir=str(tmp_path / "ckpt_failing"),
    )
    with pytest.raises(StreamingQueryException, match="micro-batch failure"):
        q.awaitTermination(120)
    await_stop()
    assert events == ["start", "process", "stop"]

    events.clear()  # a query that cannot start stops the RPC at once
    batch_df = spark.range(3).select(F.col("id").cast("string").alias("tracking_id"))
    with pytest.raises(Exception, match="writeStream"):
        run_streaming_pipeline(spark, cfg, batch_df, source_id="tracking_id",
                               checkpoint_dir=str(tmp_path / "ckpt_batch"))
    assert events == ["start", "stop"]


def test_stream_termination_before_bind_still_stops():
    """The termination listener is registered before ``start()`` and bound
    to the query's id after it returns: a query that ends in between still
    stops the token RPC, and other queries' terminations never do."""
    from types import SimpleNamespace

    from distributed_api_etl_spark.orchestration.orchestrator import _OnTermination

    removed, stops = [], []
    spark = SimpleNamespace(streams=SimpleNamespace(removeListener=removed.append))
    early = _OnTermination(spark, lambda: stops.append("early"))
    early.onQueryTerminated(SimpleNamespace(id="other"))
    early.onQueryTerminated(SimpleNamespace(id="q1"))
    early.bind("q1")
    assert stops == ["early"] and removed == [early]

    late = _OnTermination(spark, lambda: stops.append("late"))
    late.bind("q2")
    late.onQueryTerminated(SimpleNamespace(id="other"))
    assert stops == ["early"]
    late.onQueryTerminated(SimpleNamespace(id="q2"))
    assert stops == ["early", "late"] and removed == [early, late]


def test_streaming_null_id_fails_before_any_request(spark, tmp_path, api):
    """A streamed micro-batch holding a null id fails the query before any
    request, as a batch run does (test_null_ids_fail_before_any_request)."""
    from pyspark.errors import StreamingQueryException

    src, sink = str(tmp_path / "null_src"), tmp_path / "bronze"
    spark.createDataFrame([("a",), (None,), ("c",)], "tracking_id string").write.parquet(src)
    stream = spark.readStream.schema("tracking_id string").parquet(src)
    q = run_streaming_pipeline(
        spark, _http_cfg(api, str(sink)), stream, source_id="tracking_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException, match="'tracking_id' is null in 1 of 3 rows"):
        q.awaitTermination(120)
    assert api.request_count == 0
    assert not sink.exists()


def _events_stream(spark, sf_dir, tmp_path):
    # re-materialize events (ts normalized) as a file stream source
    from distributed_api_etl_spark.queries.registry import table

    src = str(tmp_path / "events_src")
    # watermarks need TIMESTAMP (LTZ); NTZ->LTZ is the identity under UTC
    ev = table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    ev.write.parquet(src)
    return ev, spark.readStream.schema(ev.schema).parquet(src)


def test_tumbling_window_stream_matches_batch(spark, sf_dir, tmp_path):
    ev, stream = _events_stream(spark, sf_dir, tmp_path)
    out = tumbling_window_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, str(r.window_start)): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expected = {
        (r.event_type, str(r.window_start)): (r.n_events, r.sum_value)
        for r in tumbling_window_stream.__wrapped__(ev).collect()
    } if hasattr(tumbling_window_stream, "__wrapped__") else None
    # batch equivalent: same expressions on the static frame
    batch = {
        (r.event_type, str(r.window_start)): (r.n_events, r.sum_value)
        for r in tumbling_window_stream(ev).collect()
    }
    assert got == batch
    assert len(got) > 100


def test_sessionized_stream_runs_and_bounds_state(spark, sf_dir, tmp_path):
    _, stream = _events_stream(spark, sf_dir, tmp_path)
    out = sessionized_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    # session integrity: end >= start, positive event counts
    assert all(r.session_end >= r.session_start and r.n_events > 0 for r in rows)


def test_streaming_exact_dedup_across_microbatches(spark, tmp_path):
    """State survives micro-batches: a fingerprint seen in batch 1 is not
    re-emitted by batch 2 (maxFilesPerTrigger=1 forces two batches)."""
    from distributed_api_etl_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [("d1", "alpha"), ("d2", "beta"), ("d3", "alpha")],
        "doc_id string, text string",
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [("d4", "alpha"), ("d5", "gamma")], "doc_id string, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    # one emission per distinct text, regardless of batch boundaries
    by_fp = {}
    for r in rows:
        assert r.fingerprint not in by_fp, "fingerprint emitted twice"
        by_fp[r.fingerprint] = r.keep_id
    assert len(by_fp) == 3  # alpha, beta, gamma
    assert sorted(by_fp.values())[0] in {"d1", "d2", "d4", "d5"}


def test_stateful_user_totals_accumulate(spark, tmp_path):
    from distributed_api_etl_spark.streaming import stateful_user_totals

    src = str(tmp_path / "ev_src")
    spark.createDataFrame(
        [("u1", 1.0), ("u1", 2.0), ("u2", 5.0)], "user_id string, value double"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [("u1", 4.0)], "user_id string, value double"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_user_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM totals_out").collect()
    # last emission per user is the running total over ALL batches
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.sum_value)
    assert final["u1"] == (3, 7.0)
    assert final["u2"] == (1, 5.0)


def test_interval_join_across_micro_batches(spark, tmp_path):
    """Matches that straddle a micro-batch boundary are still emitted:
    the left row is buffered in join state until the right side's
    watermark passes left_ts + max_delay."""
    from datetime import datetime

    from distributed_api_etl_spark.streaming import interval_join_stream

    src = str(tmp_path / "iv_src")
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [
        (1, t0, 10, "click"),
        (2, datetime(2024, 1, 1, 12, 10, 0), 10, "purchase"),  # same batch
    ]
    rows2 = [
        (3, datetime(2024, 1, 1, 12, 40, 0), 10, "purchase"),  # later batch
        (4, datetime(2024, 1, 1, 14, 30, 0), 10, "purchase"),  # > 1h: no match
    ]
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = interval_join_stream(
        stream.where("event_type = 'click'"),
        stream.where("event_type = 'purchase'"),
        key_col="user_id",
        ts_col="ts",
        max_delay="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ivjoin_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.left_id, r.right_id, r.delay_ms)
        for r in spark.sql("SELECT * FROM ivjoin_out").collect()
    }
    assert got == {(1, 2, 600_000), (1, 3, 2_400_000)}


def test_watermark_dedup_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a key re-arriving in a later batch
    while its state is live is suppressed; each distinct key emits once."""
    import datetime as dt

    from distributed_api_etl_spark.streaming import watermark_dedup_stream

    src = str(tmp_path / "wmdedup_src")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [(1, t0, 10, "click"), (2, t0 + dt.timedelta(minutes=1), 11, "view")]
    rows2 = [
        (3, t0 + dt.timedelta(minutes=2), 10, "click"),  # dup key within watermark
        (4, t0 + dt.timedelta(minutes=3), 10, "view"),   # new key
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = watermark_dedup_stream(stream, ["user_id", "event_type"], ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("wmdedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.event_type)
        for r in spark.sql("SELECT * FROM wmdedup_out").collect()
    }
    assert got == {(10, "click"), (11, "view"), (10, "view")}


def test_left_outer_interval_join_emits_unmatched_after_eviction(spark, tmp_path):
    """Outer rows are emitted by the trailing no-data batch once the global
    watermark (min over both sides' event-time maxima, filters applied
    BEFORE withWatermark) passes left.ts + max_delay. Anchor events must
    survive the click/purchase filters or they never advance the
    watermark."""
    import datetime as dt

    from distributed_api_etl_spark.streaming import interval_join_stream

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10, "click"),
        (2, t0 + dt.timedelta(minutes=30), 10, "purchase"),
        (3, t0 + dt.timedelta(minutes=5), 20, "click"),  # never matched
        # watermark anchors: far-future activity on both sides
        (4, t0 + dt.timedelta(hours=6), 99, "click"),
        (5, t0 + dt.timedelta(hours=12), 98, "purchase"),
    ]
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = interval_join_stream(
        stream.where("event_type = 'click'"),
        stream.where("event_type = 'purchase'"),
        key_col="user_id",
        ts_col="ts",
        max_delay="1 hour",
        watermark="0 seconds",
        how="leftOuter",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("louter_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {r["left_id"]: r for r in spark.table("louter_sink").collect()}
    assert got[1]["right_id"] == 2  # matched pair
    assert got[3]["right_id"] is None  # unmatched click emitted with nulls
    assert got[3]["delay_ms"] is None
    # click 4's window (ends 7:00) is still ahead of the final watermark
    # (6:00): retained in state, correctly NOT emitted
    assert 4 not in got


def test_streaming_hll_state_equals_batch_sketch(spark, tmp_path, sf_dir):
    """Cross-batch HLL state (element-wise max of register arrays) must end
    at EXACTLY the batch sketch of the union — the merge-algebra property,
    exercised across two micro-batches via maxFilesPerTrigger=1."""
    import os

    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.sketch import hll_registers
    from distributed_api_etl_spark.queries.registry import table
    from distributed_api_etl_spark.streaming import streaming_hll_distinct

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    src = str(tmp_path / "src")
    os.makedirs(src)
    ev.where("user_id % 2 = 0").coalesce(1).write.parquet(f"{src}/a")
    ev.where("user_id % 2 = 1").coalesce(1).write.parquet(f"{src}/b")
    schema = spark.read.parquet(f"{src}/a").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = streaming_hll_distinct(stream, group_col="event_type", key_col="user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("hll_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    # update mode re-emits per batch: keep each group's LAST register table
    sink = spark.table("hll_sink")
    final = {}
    for r in sink.collect():
        final[(r["g"], r["bucket"])] = r["max_rho"]  # later rows overwrite
    batch = {
        (r["event_type"], r["bucket"]): r["max_rho"]
        for r in hll_registers(ev, "user_id", ["event_type"]).collect()
    }
    # streaming now emits only OCCUPIED registers (the batch hll_registers
    # omit-empty convention, so hll_estimate's zero_registers correction
    # works straight off the sink) — registers are monotone, so the last
    # emission per group IS its complete occupied set
    assert all(v > 0 for v in final.values())
    assert final == batch


def test_streaming_hll_null_keys_ignored(spark, tmp_path):
    """A NULL key hashes to null: it must contribute no register and must
    NOT crash the integer bucket shift (pre-fix: pandas float64 column ->
    TypeError on >> -> the whole streaming query aborts)."""
    import os

    from distributed_api_etl_spark.operators.sketch import hll_registers
    from distributed_api_etl_spark.streaming import streaming_hll_distinct

    rows = [("a", 1), ("a", None), ("b", None), ("a", 2)]
    df = spark.createDataFrame(rows, "event_type string, user_id bigint")
    src = str(tmp_path / "src")
    os.makedirs(src)
    df.coalesce(1).write.parquet(f"{src}/a")
    stream = spark.readStream.schema(df.schema).parquet(f"{src}/*")
    out = streaming_hll_distinct(stream, group_col="event_type", key_col="user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("hll_null_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {(r["g"], r["bucket"]): r["max_rho"]
           for r in spark.table("hll_null_sink").collect()}
    # group b had ONLY null keys: no registers at all; group a matches the
    # batch sketch of its non-null keys
    assert not any(g == "b" for g, _ in got)
    batch = {("a", r["bucket"]): r["max_rho"]
             for r in hll_registers(
                 df.where("user_id is not null and event_type = 'a'"),
                 "user_id", ["event_type"]).collect()}
    assert got == batch


def test_streaming_pipeline_incremental_after_restart(spark, tmp_path):
    """The other half of checkpoint semantics: new files arriving BETWEEN
    runs are processed incrementally — drain, land a second file, drain
    again with the same checkpoint: only the new rows flow (no reprocess
    of batch 1, no loss of batch 2), and the bronze ids partition exactly."""
    import os

    from distributed_api_etl_spark.streaming import run_streaming_pipeline

    src = str(tmp_path / "inc_src")
    os.makedirs(src)
    sink = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    def land(tag, lo, hi):
        spark.range(lo, hi).select(
            F.col("id").cast("string").alias("tracking_id")
        ).coalesce(1).write.parquet(f"{src}/{tag}")

    land("a", 0, 30)
    stream = lambda: spark.readStream.schema("tracking_id string").parquet(f"{src}/*")  # noqa: E731
    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/things",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "mock"},
        "execution": {"num_partitions": 4, "max_concurrent_requests": 8},
        "tables": {"sink": {"location": sink, "format": "parquet"}},
    }
    q = run_streaming_pipeline(
        spark, cfg, stream(), source_id="tracking_id", checkpoint_dir=ckpt
    )
    assert q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 30

    land("b", 30, 75)
    q2 = run_streaming_pipeline(
        spark, cfg, stream(), source_id="tracking_id", checkpoint_dir=ckpt
    )
    assert q2.awaitTermination(120)
    bronze = spark.read.parquet(sink)
    assert bronze.count() == 75  # 30 + 45, nothing duplicated or dropped
    ids = sorted(int(r["request_id"]) for r in bronze.select("request_id").collect())
    assert ids == list(range(75))


def test_streaming_ann_index_append_multibatch_equals_rebuild(
    spark, tmp_path, sf_dir
):
    """The streaming index-maintenance contract under REAL multi-batch
    arrival: the new corpus lands as 3 files streamed one per micro-batch
    (maxFilesPerTrigger=1), each assigned against the frozen centroids and
    appended — the final layout must equal the from-scratch rebuild over
    the union, because per-row assignment makes the index independent of
    how the stream was batched (the property the graded
    streaming_ann_index_append head certifies on a single batch)."""
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.similarity import (
        assign_to_ivf_int8_index,
        build_ivf_int8_index,
        ivf_assign,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where(F.col("vec_id") < 400)
    new = emb.where(F.col("vec_id") >= 400)
    index0, cents = build_ivf_int8_index(old, "vec_id", "embedding", 8)
    out = str(tmp_path / "idx")
    index0.write.partitionBy("centroid_id").parquet(out)

    src = str(tmp_path / "src")
    new.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batch_ids = []

    def fb(bdf, bid):
        batch_ids.append(bid)
        assign_to_ivf_int8_index(bdf, cents, "vec_id", "embedding").write.mode(
            "append"
        ).partitionBy("centroid_id").parquet(out)

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert len(batch_ids) >= 2, batch_ids  # genuinely multi-batch

    key = lambda df: {  # noqa: E731
        (r.vec_id, tuple(r.qvec), r.centroid_id) for r in df.collect()
    }
    appended = spark.read.parquet(out)
    rebuilt = ivf_assign(
        quantize_embeddings(emb, "vec_id", "embedding"), cents, "vec_id", "qvec"
    ).select("vec_id", "qvec", "centroid_id")
    assert key(appended) == key(rebuilt)


def test_streaming_ivf_pq_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """The PQ layout under continuous arrival: base IVF-PQ index built in
    batch, the rest of the corpus drained as a file stream whose
    foreachBatch sink encodes+assigns each micro-batch against the FROZEN
    codebook/centroids (assign_to_ivf_pq_index) and appends to the
    partitioned layout. The appended store must be row-identical to the
    from-scratch rebuild under the same frozen tables — the int8
    streaming-append contract (graded as streaming_ann_index_append)
    extended to the m-byte copy."""
    import tempfile

    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.similarity import (
        assign_to_ivf_pq_index,
        build_ivf_pq_index,
        pq_train,
    )
    from distributed_api_etl_spark.queries.streaming import _stream_source

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = spark.createDataFrame(
        pq_train(emb, "vec_id", "embedding", 64, m=4, k_codes=8, iters=1).collect(),
        "s int, code int, cw array<double>",
    )
    split = 200
    index0, cents, _ = build_ivf_pq_index(
        emb.where(F.col("vec_id") < split), "vec_id", "embedding", 64, 8,
        m=4, k_codes=8, codebook=cb,
    )
    path = str(tmp_path / "pq_stream_idx")
    index0.write.partitionBy("centroid_id").parquet(path)

    stream = _stream_source(spark, sf_dir, "embeddings").where(
        F.col("vec_id") >= split
    )

    def _append(batch_df, _bid):
        assign_to_ivf_pq_index(
            batch_df, cents, cb, "vec_id", "embedding", 64, m=4
        ).write.mode("append").partitionBy("centroid_id").parquet(path)

    ckpt = tempfile.mkdtemp(prefix="pq_stream_ckpt_")
    q = (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    appended = spark.read.parquet(path)
    rebuilt, _, _ = build_ivf_pq_index(
        emb, "vec_id", "embedding", 64, 8, m=4, k_codes=8, codebook=cb
    )
    rows = lambda df: {  # noqa: E731
        (r.vec_id, tuple(r.codes), r.centroid_id)
        for r in df.select("vec_id", "codes", "centroid_id").collect()
    }
    assert rows(appended) == rows(rebuilt)


def test_streaming_token_budget_across_batches(spark, tmp_path):
    """The lifetime budget semantics the single-batch oracle can't see:
    admitted totals persist across micro-batches (batch 2 admissions pay
    batch 1's usage), and the FIRST rejection closes its group for good —
    a later, smaller doc is never admitted (the strict-prefix contract of
    the batch operator extended over arrival order)."""
    import os

    from distributed_api_etl_spark.streaming.stateful import (
        streaming_token_budget_admission,
    )

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [(1, "g", 60), (2, "g", 70), (10, "h", 50)],
        "doc_id bigint, lang string, n_tokens bigint",
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(3, "g", 10), (11, "h", 40)],
        "doc_id bigint, lang string, n_tokens bigint",
    ).coalesce(1).write.mode("append").parquet(src)
    # pin batch order: FileStreamSource orders by (mtime, path) — push the
    # second write's files 10 minutes later so batch 1 is always file 1
    files = sorted(
        (os.path.getmtime(os.path.join(src, f)), os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    later = files[-1][0] + 600
    os.utime(files[-1][1], (later, later))

    stream = (
        spark.readStream.schema("doc_id bigint, lang string, n_tokens bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_token_budget_admission(
        stream, "doc_id", "lang", "n_tokens", {"g": 100, "h": 100}, 0
    )
    q = (
        out.writeStream.format("memory")
        .queryName("budget_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM budget_out").collect()
    admitted = {r.doc_id: r for r in rows}
    # g: exactly one of docs 1/2 fits (60+70 > 100), the rejection closes
    # the group, so batch 2's tiny doc 3 must NOT be admitted
    g_docs = {d for d in admitted if admitted[d].grp == "g"}
    assert len(g_docs) == 1 and g_docs <= {1, 2}
    assert 3 not in admitted
    # h: batch 2's doc 11 pays batch 1's 50 used tokens (50 + 40 <= 100)
    assert 10 in admitted and 11 in admitted
    assert admitted[11].cum_tokens == 90
    # lifetime cap holds per group
    for grp in ("g", "h"):
        tot = sum(r.n_tokens for r in rows if r.grp == grp)
        assert tot <= 100


def test_streaming_token_budget_null_tokens_keep_group_open(spark, tmp_path):
    """A NULL token count must behave as in the batch operator — the row is
    admitted contributing 0 — and must NOT latch `closed` (pre-fix: pandas
    cumsum left NaN, the row was rejected, and the group shut forever
    against all future batches)."""
    from distributed_api_etl_spark.streaming.stateful import (
        streaming_token_budget_admission,
    )

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [(1, "g", 60), (2, "g", None), (3, "g", 30)],
        "doc_id bigint, lang string, n_tokens bigint",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id bigint, lang string, n_tokens bigint"
    ).parquet(src)
    out = streaming_token_budget_admission(
        stream, "doc_id", "lang", "n_tokens", {"g": 100}, 0
    )
    q = (
        out.writeStream.format("memory")
        .queryName("budget_null_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.doc_id: r for r in spark.sql("SELECT * FROM budget_null_out").collect()}
    # all three fit (60 + 0 + 30 <= 100); the null row's n_tokens stays null
    assert set(rows) == {1, 2, 3}
    assert rows[2].n_tokens is None
    assert max(r.cum_tokens for r in rows.values()) == 90


def test_streaming_token_budget_multi_chunk_group(spark, tmp_path):
    """The within-batch priority order must hold across Arrow CHUNKS: with
    arrow.maxRecordsPerBatch forced tiny, a group's micro-batch arrives as
    many pandas chunks, and the admitted set must still equal the batch
    operator's (one global sort, not per-chunk sorts)."""
    from distributed_api_etl_spark.operators.sampling import token_budget_sample
    from distributed_api_etl_spark.streaming.stateful import (
        streaming_token_budget_admission,
    )

    rows = [(i, "g", 7 + (i % 5)) for i in range(40)]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, n_tokens bigint"
    ).coalesce(1).write.parquet(src)
    batch_df = spark.createDataFrame(
        rows, "doc_id bigint, grp string, n_tokens bigint"
    )
    expect = {
        (r.doc_id, r.cum_tokens)
        for r in token_budget_sample(
            batch_df, "doc_id", "grp", "n_tokens", {"g": 150}, 0
        ).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = (
            spark.readStream.schema("doc_id bigint, lang string, n_tokens bigint")
            .parquet(src)
        )
        out = streaming_token_budget_admission(
            stream, "doc_id", "lang", "n_tokens", {"g": 150}, 0
        )
        q = (
            out.writeStream.format("memory")
            .queryName("budget_chunks_out")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.doc_id, r.cum_tokens)
            for r in spark.sql("SELECT * FROM budget_chunks_out").collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == expect and len(got) > 3


def _recipe_gate_text(doc: int, n: int = 60, tweak: int = -1) -> str:
    """Gate-passing synthetic text: >=50 words, mean word length in
    [3,10], all-alpha words, >=2 english stopword hits, no repeated
    lines/ngrams (every non-stopword is doc-and-position unique).
    ``tweak`` replaces one position's word to make a NEAR-duplicate
    (changing 1 of 60 words keeps trigram-shingle jaccard ~0.9)."""
    words = []
    for i in range(n):
        if i % 15 == 0:
            words.append("the")
        elif i % 15 == 7:
            words.append("and")
        elif i == tweak:
            words.append("tweaked")
        else:
            words.append(f"word{doc}x{i}")
    return " ".join(words)


def _write_recipe_batches(spark, tmp_path):
    """Two arrival batches with pinned order: batch 1 = docs 1..8; batch 2
    = doc 101 (near-dup of doc 1) + docs 102..104 (fresh)."""
    import os

    src = str(tmp_path / "recipe_src")
    b1 = [(i, "en", _recipe_gate_text(i)) for i in range(1, 9)]
    b2 = [(101, "en", _recipe_gate_text(1, tweak=30))] + [
        (i, "en", _recipe_gate_text(i)) for i in (102, 103, 104)
    ]
    spark.createDataFrame(b1, "doc_id bigint, lang string, text string").coalesce(
        1
    ).write.parquet(src)
    spark.createDataFrame(b2, "doc_id bigint, lang string, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    files = sorted(
        (os.path.getmtime(os.path.join(src, f)), os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    later = files[-1][0] + 600
    os.utime(files[-1][1], (later, later))
    return src


def test_streaming_recipe_across_batches(spark, tmp_path):
    """The cross-batch semantics the single-drain oracle can't see:
    (1) standing-wins near-dup — a batch-2 doc that near-duplicates a
    batch-1 keeper is dropped; (2) pack offsets CONTINUE across batches
    (concat-and-chunk invariant cb_{i+1} = cb_i + tok_i holds over the
    full arrival order, no per-batch reset)."""
    from distributed_api_etl_spark.streaming.recipe import (
        RecipeConfig,
        run_streaming_training_recipe,
    )

    src = _write_recipe_batches(spark, tmp_path)
    stream = (
        spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cfg = RecipeConfig(
        mix_rates={},
        mix_default=1000,  # keep-all mixture
        budgets={},
        budget_default=10**9,  # budget never binds
        budget_seed="t",
        n_shards=1,  # one pack stream -> continuity assertable end to end
        shard_seed="t",
        pack_budget=50,
        train_pct=100,  # every survivor ships
        val_pct=0,
    )
    manifest, _ = run_streaming_training_recipe(
        spark, stream, str(tmp_path / "recipe_store"), cfg
    )
    rows = {r.doc_id: r for r in manifest.collect()}
    # near-dup of batch-1 keeper dropped; everything else shipped
    assert 101 not in rows
    assert set(rows) == {1, 2, 3, 4, 5, 6, 7, 8, 102, 103, 104}
    # pack continuity: cb recovered from (pack_id, pack_offset) must chain
    ordered = sorted(rows.values(), key=lambda r: r.pack_id * 50 + r.pack_offset)
    cb = 0
    batch1_total = 0
    for r in ordered:
        assert r.pack_id * 50 + r.pack_offset == cb, (r.doc_id, cb)
        cb += r.n_tokens
        if r.doc_id <= 8:
            batch1_total += r.n_tokens
    # batch-2 docs sit AFTER every batch-1 token (continuation, not reset)
    min_b2 = min(
        r.pack_id * 50 + r.pack_offset for r in ordered if r.doc_id > 100
    )
    assert min_b2 >= batch1_total


def test_streaming_recipe_budget_closes_across_batches(spark, tmp_path):
    """Lifetime budget semantics over arrival: a batch-1 rejection closes
    the language for the stream's life, so NO batch-2 doc is admitted and
    the lifetime cap holds over everything ever shipped."""
    from distributed_api_etl_spark.streaming.recipe import (
        RecipeConfig,
        run_streaming_training_recipe,
    )

    src = _write_recipe_batches(spark, tmp_path)
    stream = (
        spark.readStream.schema("doc_id bigint, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # each doc is 60 tokens; 8 batch-1 docs = 480 > budget 200 -> batch 1
    # MUST reject someone, closing "en" before batch 2 arrives
    cfg = RecipeConfig(
        mix_rates={},
        mix_default=1000,
        budgets={},
        budget_default=200,
        budget_seed="t",
        n_shards=1,
        shard_seed="t",
        pack_budget=50,
        train_pct=100,
        val_pct=0,
    )
    manifest, _ = run_streaming_training_recipe(
        spark, stream, str(tmp_path / "recipe_store_b"), cfg
    )
    rows = manifest.collect()
    assert rows, "budget 200 admits at least the first 60-token doc"
    assert all(r.doc_id <= 8 for r in rows)  # closed before batch 2
    assert sum(r.n_tokens for r in rows) <= 200  # lifetime cap
    assert max(r.cum_tokens for r in rows) <= 200


# -- exactly-once per batch_id (VERDICT r15 #2: the foreachBatch replay
# contract) -----------------------------------------------------------------


def _recipe_eo_cfg():
    from distributed_api_etl_spark.streaming.recipe import RecipeConfig

    return RecipeConfig(
        mix_rates={},
        mix_default=1000,
        budgets={},
        budget_default=10**9,
        budget_seed="t",
        n_shards=1,
        shard_seed="t",
        pack_budget=50,
        train_pct=100,
        val_pct=0,
    )


def _recipe_eo_batches(spark):
    b1 = [(i, "en", _recipe_gate_text(i)) for i in range(1, 9)]
    b2 = [(101, "en", _recipe_gate_text(1, tweak=30))] + [
        (i, "en", _recipe_gate_text(i)) for i in (102, 103, 104)
    ]
    schema = "doc_id bigint, lang string, text string"
    return spark.createDataFrame(b1, schema), spark.createDataFrame(b2, schema)


def _recipe_census(store):
    """Logical store content: manifest rows, dedup-state cardinalities,
    and the committed mark with its budget and pack state — everything a
    replay could corrupt."""
    manifest = sorted(tuple(r) for r in store.read_manifest().collect())
    standing = store.read_dedup_state()
    feats, bands, pfps = (
        (d.count() for d in standing) if standing else (0, 0, 0)
    )
    return {
        "manifest": manifest,
        "feats": feats,
        "bands": bands,
        "pfps": pfps,
        "mark": store.last_committed(),
        "budget": store.read_budget_state(),
        "pack": store.read_pack_state(),
    }


def test_recipe_store_bare_and_uri_roots_are_one_store(spark, tmp_path, monkeypatch):
    """A bare path and its ``file://`` form name ONE store: both views read
    the same mark, state and committed inputs, and a ``file://`` root never
    lands under the working directory."""
    from distributed_api_etl_spark.streaming.recipe import RecipeStore

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = str(tmp_path / "one_store")
    uri = RecipeStore(spark, "file://" + root)
    uri.reset()
    spark.range(3).write.parquet(uri.batch_subdir(uri.manifest_dir, 0))
    uri.commit(0, {"en": (5, False)}, {0: 5})
    assert not any(cwd.iterdir())
    bare = RecipeStore(spark, root)
    views = [
        (
            s.last_committed(),
            s.read_budget_state(),
            s.read_pack_state(),
            sorted(s.read_manifest().inputFiles()),
        )
        for s in (bare, uri)
    ]
    assert views[0] == views[1]
    assert views[0][:3] == (0, {"en": (5, False)}, {0: 5})
    assert views[0][3] and all("/one_store/manifest/b000000000/" in f for f in views[0][3])


def test_recipe_redelivery_of_committed_batch_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: the SAME (batch_id, rows) delivered
    twice (sink succeeded, checkpoint write crashed) must leave the store
    byte-identical — no duplicate manifest rows, no double-counted budget
    or pack state, no duplicated dedup corpus ids."""
    from distributed_api_etl_spark.streaming.recipe import (
        RecipeStore,
        process_recipe_batch,
    )

    b1, b2 = _recipe_eo_batches(spark)
    cfg = _recipe_eo_cfg()
    # a URI root: every store operation must resolve it like Spark does
    store = RecipeStore(spark, "file://" + str(tmp_path / "eo_store"))
    store.reset()
    process_recipe_batch(b1, store, cfg, 0)
    process_recipe_batch(b2, store, cfg, 1)
    snap = _recipe_census(store)
    assert snap["mark"] == 1 and snap["feats"] > 0
    # redeliver BOTH committed batches, out of order for good measure
    process_recipe_batch(b2, store, cfg, 1)
    process_recipe_batch(b1, store, cfg, 0)
    assert _recipe_census(store) == snap


def test_recipe_crash_before_commit_redoes_cleanly(spark, tmp_path):
    """Crash AFTER the batch's parquet writes but BEFORE the commit marker
    (the widest window: manifest + dedup state already on disk): the
    partial output must stay invisible (no double admission between crash
    and recovery) and the checkpoint's re-delivery must redo the batch to
    the exact state a crash-free run reaches."""
    from distributed_api_etl_spark.streaming.recipe import (
        RecipeStore,
        process_recipe_batch,
    )

    b1, b2 = _recipe_eo_batches(spark)
    cfg = _recipe_eo_cfg()

    clean = RecipeStore(spark, str(tmp_path / "eo_clean"))
    clean.reset()
    process_recipe_batch(b1, clean, cfg, 0)
    process_recipe_batch(b2, clean, cfg, 1)
    want = _recipe_census(clean)

    class _CrashBeforeCommit(RecipeStore):
        def commit(self, batch_id, budget_state, pack_state):
            raise RuntimeError("injected crash between appends and commit")

    # the store under test sits on a URI root, the clean reference on a
    # bare path: the census equality also proves the two land alike
    root = "file://" + str(tmp_path / "eo_crash")
    store = RecipeStore(spark, root)
    store.reset()
    process_recipe_batch(b1, store, cfg, 0)
    after_b1 = _recipe_census(store)

    with pytest.raises(RuntimeError, match="injected crash"):
        process_recipe_batch(b2, _CrashBeforeCommit(spark, root), cfg, 1)
    # between crash and recovery: batch 1's partial subdirs exist on disk
    # but every read exposes ONLY batch 0 — no double admission
    assert (tmp_path / "eo_crash" / "manifest" / "b000000001").is_dir()
    assert _recipe_census(store) == after_b1
    # recovery: the checkpoint re-delivers batch 1; the redo overwrites the
    # partials and lands on the crash-free state
    process_recipe_batch(b2, store, cfg, 1)
    assert _recipe_census(store) == want


def test_recipe_partial_dedup_subdir_is_ignored_and_overwritten(spark, tmp_path):
    """Crash BETWEEN the dedup-state writes (feats written, bands/pfps
    not): ADVICE r15 recipe.py:126. The partial feats subdir must not make
    read_dedup_state claim a standing corpus, and the redo must replace
    it."""
    from distributed_api_etl_spark.streaming.recipe import (
        RecipeStore,
        process_recipe_batch,
    )

    b1, b2 = _recipe_eo_batches(spark)
    cfg = _recipe_eo_cfg()
    store = RecipeStore(spark, "file://" + str(tmp_path / "eo_partial"))
    store.reset()
    # simulate a first-batch crash that got as far as writing feats only
    b1.limit(3).write.parquet(store.batch_subdir(store.feats_dir, 0))
    assert store.read_dedup_state() is None  # uncommitted => invisible
    process_recipe_batch(b1, store, cfg, 0)
    process_recipe_batch(b2, store, cfg, 1)
    clean = RecipeStore(spark, str(tmp_path / "eo_partial_clean"))
    clean.reset()
    process_recipe_batch(b1, clean, cfg, 0)
    process_recipe_batch(b2, clean, cfg, 1)
    assert _recipe_census(store) == _recipe_census(clean)


def test_recipe_compaction_between_batches_is_noop(spark, tmp_path):
    """store.compact() between micro-batches (VERDICT r15 #3): file counts
    drop to the target while batch N+1 reads the compacted state UNCHANGED
    — the compaction == no-op oracle, at the recipe-store grain."""
    from distributed_api_etl_spark.streaming.recipe import (
        RecipeStore,
        process_recipe_batch,
    )

    b1, b2 = _recipe_eo_batches(spark)
    b3 = spark.createDataFrame(
        [(i, "en", _recipe_gate_text(i)) for i in (201, 202)]
        + [(203, "en", _recipe_gate_text(102, tweak=40))],  # near-dup of 102
        "doc_id bigint, lang string, text string",
    )
    cfg = _recipe_eo_cfg()

    plain = RecipeStore(spark, str(tmp_path / "cmp_plain"))
    plain.reset()
    for i, b in enumerate((b1, b2, b3)):
        process_recipe_batch(b, plain, cfg, i)
    want = _recipe_census(plain)

    compacted = RecipeStore(spark, "file://" + str(tmp_path / "cmp_compact"))
    compacted.reset()
    process_recipe_batch(b1, compacted, cfg, 0)
    process_recipe_batch(b2, compacted, cfg, 1)
    pre = _recipe_census(compacted)
    census = compacted.compact(target_files=1)
    assert census, "two committed batches must leave something to compact"
    for d, c in census.items():
        assert c["files_after"] <= 1, (d, c)
        assert c["files_after"] < c["files_before"], (d, c)
    # committed reads unchanged by the rewrite...
    assert _recipe_census(compacted) == pre
    # ...and the NEXT batch over the compacted baseline lands exactly where
    # the uncompacted store does (near-dup 203 still collides with standing
    # keeper 102 through the compacted feats/bands)
    process_recipe_batch(b3, compacted, cfg, 2)
    got = _recipe_census(compacted)
    assert got == want
    assert all(r[0] != 203 for r in got["manifest"])  # standing-wins held


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["bare", "file_uri"])
def test_recipe_store_heals_a_crash_between_the_swap_renames(spark, tmp_path, scheme):
    """A compaction that crashed between its two renames leaves a store
    dir parked at ``<dir>__compact_old`` and nothing at ``<dir>``: the
    next read restores it and returns the same rows. A parked copy next
    to a live dir (the swap finished, its delete did not) and a rewrite
    left at ``<dir>__compact_tmp`` (the crash hit before the first
    rename) are dropped."""
    from distributed_api_etl_spark.streaming.recipe import (
        RecipeStore,
        process_recipe_batch,
    )

    b1, _ = _recipe_eo_batches(spark)
    store = RecipeStore(spark, scheme + str(tmp_path / "heal"))
    store.reset()
    process_recipe_batch(b1, store, _recipe_eo_cfg(), 0)

    def manifest():
        return sorted(tuple(r) for r in store.read_manifest().collect())

    want = manifest()
    assert want
    fs, path = store.fs, store._path
    live = path(store.manifest_dir)
    parked = path(store.manifest_dir + "__compact_old")
    assert fs.rename(live, parked)
    assert manifest() == want
    assert fs.exists(live) and not fs.exists(parked)
    jvm, conf = spark.sparkContext._jvm, spark.sparkContext._jsc.hadoopConfiguration()
    for stage in ("old", "tmp"):
        scratch = path(f"{store.manifest_dir}__compact_{stage}")
        assert jvm.org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, scratch, False, conf)
        assert manifest() == want
        assert not fs.exists(scratch), stage


def test_recipe_stream_restart_from_checkpoint(spark, tmp_path):
    """END-TO-END restart: the sink crashes AFTER batch 0's commit (so the
    checkpoint never records batch 0 as done), the stream is restarted on
    the SAME checkpoint + store, and Structured Streaming re-delivers
    batch 0 — the at-least-once replay the exactly-once store exists for.
    The restarted drain must observe the redelivery, skip it as already
    applied, process the remaining batch, and land on the clean
    uninterrupted run's state."""
    from pyspark.sql.streaming import StreamingQueryException

    from distributed_api_etl_spark.streaming.recipe import (
        RecipeStore,
        process_recipe_batch,
    )

    src = _write_recipe_batches(spark, tmp_path)
    cfg = _recipe_eo_cfg()

    # clean reference: both batches through a fresh store, no interruption
    b1, b2 = _recipe_eo_batches(spark)
    clean = RecipeStore(spark, str(tmp_path / "restart_clean"))
    clean.reset()
    process_recipe_batch(b1, clean, cfg, 0)
    process_recipe_batch(b2, clean, cfg, 1)
    want = _recipe_census(clean)

    store = RecipeStore(spark, str(tmp_path / "restart_store"))
    store.reset()
    ckpt = str(tmp_path / "restart_ckpt")
    schema = "doc_id bigint, lang string, text string"
    seen: list[int] = []

    def crashing_sink(bdf, bid):
        process_recipe_batch(bdf, store, cfg, bid)
        seen.append(bid)
        if len(seen) == 1:
            # store committed, checkpoint not yet: the widest replay window
            raise RuntimeError("injected sink failure after store commit")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(StreamingQueryException):
        q.awaitTermination(600)
    assert seen == [0]
    assert store.last_committed() == 0  # batch 0 applied, checkpoint behind

    replayed: list[int] = []

    def resumed_sink(bdf, bid):
        replayed.append(bid)
        process_recipe_batch(bdf, store, cfg, bid)

    q2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(resumed_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(600)
    # the engine re-delivered the uncommitted batch 0; the store skipped it
    assert replayed[0] == 0 and replayed[-1] == 1
    assert _recipe_census(store) == want
