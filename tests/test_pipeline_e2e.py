"""End-to-end pipeline: source -> mock HTTP -> typed bronze sink, plus the
idempotency proof (re-run is a no-op) — M1 of SURVEY §7.2."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_api_etl_spark.core.bronze import BRONZE_COLUMNS
from distributed_api_etl_spark.orchestration import run_pipeline
from distributed_api_etl_spark.orchestration.batch_handler import read_sink_ids
from tests.http_server import MockApiServer


def base_config(sink_location=None, **execution):
    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/items",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "mock"},
        "execution": {"batch_size": 40, "num_partitions": 4, **execution},
    }
    if sink_location:
        cfg["tables"] = {"sink": {"location": sink_location, "format": "parquet"}}
    return cfg


@pytest.fixture
def source(spark):
    return spark.range(100).select(F.col("id").cast("string").alias("tracking_id"))


def test_dry_run_returns_typed_bronze(spark, source):
    result = run_pipeline(
        spark,
        base_config(),
        source_df=source,
        source_id="tracking_id",
        dry_run=True,
        fixed_time="2024-01-01T00:00:00",
    )
    df = result.bronze_df
    assert df is not None
    assert [f.name for f in df.schema.fields] == list(BRONZE_COLUMNS)
    rows = df.collect()
    assert len(rows) == 100
    r = rows[0]
    assert r.status_code == 200 and r.success is True and r.attempts == 1
    assert r.method == "GET"
    assert result.stats.total_rows == 100


def test_dry_run_retries_a_failed_batch(spark, source, monkeypatch):
    """The dry run goes through the batch run's loop: a batch whose handler
    raises once is retried on the next attempt, diffed against the ids
    already collected, so each id lands exactly once in ``bronze_df``."""
    from distributed_api_etl_spark.orchestration.batch_handler import (
        BronzeBatchHandler,
    )

    process = BronzeBatchHandler.process
    calls = []

    def fail_second_batch_once(self, batch_df):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected batch failure")
        process(self, batch_df)

    monkeypatch.setattr(BronzeBatchHandler, "process", fail_second_batch_once)
    result = run_pipeline(spark, base_config(), source_df=source,
                          source_id="tracking_id", dry_run=True)
    ids = [r.request_id for r in result.bronze_df.select("request_id").collect()]
    assert sorted(ids) == sorted(str(i) for i in range(100))
    # attempt 1 fails the batch, attempt 2 re-sends it, attempt 3 finds
    # nothing left (a clean run reports 2: the send and the empty diff)
    assert result.stats.attempts == 3
    assert result.stats.errors == ["attempt 1 batch 1: injected batch failure"]
    assert result.stats.processed_rows == 100


def test_sink_write_and_idempotent_rerun(spark, source, tmp_path):
    loc = str(tmp_path / "bronze")
    cfg = base_config(sink_location=loc)
    r1 = run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
    sink = spark.read.parquet(loc)
    assert sink.count() == 100
    assert sink.select("request_id").distinct().count() == 100
    # exact, not attempts*batch_size (100 rows / batch_size 40 -> 3 batches,
    # the old per-batch += batch_size would have reported 120)
    assert r1.stats.processed_rows == 100

    # re-run: anti-join finds nothing to do; sink unchanged
    r2 = run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
    assert spark.read.parquet(loc).count() == 100
    assert r2.stats.attempts == 1
    assert r2.stats.processed_rows == 0

    # new rows only are processed on an incremental run
    bigger = spark.range(120).select(F.col("id").cast("string").alias("tracking_id"))
    r3 = run_pipeline(spark, cfg, source_df=bigger, source_id="tracking_id")
    assert spark.read.parquet(loc).count() == 120
    assert r3.stats.processed_rows == 20


def test_parquet_merge_exactly_once_on_partial_batch(spark, source, tmp_path):
    """The merge sink's exactly-once proof: a batch that crashed half-way
    leaves 50 rows in the sink; the driver retry re-runs the FULL batch and
    the sink must end with zero duplicates (insert-only anti-join merge —
    the parquet equivalent of Delta whenNotMatchedInsertAll)."""
    from distributed_api_etl_spark.orchestration.batch_handler import (
        BronzeBatchHandler,
    )

    loc = str(tmp_path / "bronze_merge")
    bronze = run_pipeline(
        spark,
        base_config(),
        source_df=source,
        source_id="tracking_id",
        dry_run=True,
        fixed_time="2024-01-01T00:00:00",
    ).bronze_df
    sink = {"format": "parquet", "location": loc, "mode": "merge"}
    handler = BronzeBatchHandler(spark, compiled={}, sink=sink)

    half = bronze.where(F.col("request_id").cast("int") < 50)
    handler._merge_parquet(half, sink)  # the half-written crash state
    handler._merge_parquet(bronze, sink)  # retry re-writes the full batch
    out = spark.read.parquet(loc)
    assert out.count() == 100
    assert out.select("request_id").distinct().count() == 100

    handler._merge_parquet(bronze, sink)  # a full duplicate re-run: no-op
    assert spark.read.parquet(loc).count() == 100


def test_merge_mode_pipeline_e2e(spark, source, tmp_path):
    loc = str(tmp_path / "bronze_merge_e2e")
    cfg = base_config(sink_location=loc)
    cfg["tables"]["sink"]["mode"] = "merge"
    run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
    assert spark.read.parquet(loc).count() == 100
    # re-run through the full pipeline: still exactly one row per request
    run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
    sink_df = spark.read.parquet(loc)
    assert sink_df.count() == 100
    assert sink_df.select("request_id").distinct().count() == 100


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _files(loc) -> set[str]:
    import os

    return {os.path.join(d, f) for d, _, fs in os.walk(loc) for f in fs}


@pytest.fixture
def api():
    srv = MockApiServer().start()
    yield srv
    srv.stop()


def http_config(api, sink_location=None, **execution):
    cfg = base_config(sink_location, **execution)
    cfg["endpoint"]["url"] = f"{api.base_url}/ok"
    cfg["transport"] = {"engine": "asyncio", "base_timeout": 5.0}
    return cfg


def test_read_sink_ids_missing_sink_is_none_without_a_job(spark, tmp_path):
    before = _job_ids(spark)
    assert read_sink_ids(spark, {"format": "parquet", "location": str(tmp_path / "x")}) is None
    assert read_sink_ids(spark, {"name": "no_such_bronze_table"}) is None
    assert _job_ids(spark) == before


def test_read_sink_ids_reads_declared_schema_without_a_job(spark, source, tmp_path):
    """parquet binds columns by name, so the sink read declares the fixed
    bronze ``request_id`` instead of inferring a schema from file footers
    (which costs a Spark job on every read)."""
    loc = str(tmp_path / "bronze")
    run_pipeline(spark, base_config(sink_location=loc), source_df=source,
                 source_id="tracking_id")
    before = _job_ids(spark)
    ids = read_sink_ids(spark, {"format": "parquet", "location": loc})
    assert _job_ids(spark) == before
    assert ids.columns == ["request_id"]
    assert ids.distinct().count() == 100


def test_unreadable_sink_fails_the_run_before_any_request(spark, api, tmp_path):
    """A read error on a sink that exists is not "nothing processed yet":
    treating it so would re-send the whole source."""
    loc = tmp_path / "bronze"
    loc.mkdir()
    (loc / "part-0.parquet").write_bytes(b"not a parquet file")
    src = spark.range(20).select(F.col("id").cast("string").alias("tracking_id"))
    with pytest.raises(Exception, match="(?i)parquet"):
        run_pipeline(spark, http_config(api, str(loc)), source_df=src,
                     source_id="tracking_id")
    assert api.request_count == 0


def test_null_ids_fail_before_any_request(spark, api, tmp_path):
    """A null id never matches the sink's anti-join: it used to be sent on
    every attempt and land as request_id 'None' each time."""
    loc = tmp_path / "bronze"
    src = spark.createDataFrame([("a",), (None,), ("c",)], "tracking_id string")
    with pytest.raises(ValueError, match="'tracking_id' is null in 1 of 3 rows"):
        run_pipeline(spark, http_config(api, str(loc), max_attempts=3),
                     source_df=src, source_id="tracking_id")
    with pytest.raises(ValueError, match="tracking_id"):
        run_pipeline(spark, http_config(api), source_df=src,
                     source_id="tracking_id", dry_run=True)
    assert api.request_count == 0
    assert not loc.exists()


def test_partitioned_sink_rerun_is_noop(spark, source, tmp_path):
    """The sink read declares only request_id; the partition column comes
    from the directory layout and must not break the idempotency diff."""
    loc = str(tmp_path / "bronze")
    cfg = base_config(sink_location=loc)
    cfg["tables"]["sink"]["partition_by"] = ["method"]
    run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
    written = _files(loc)
    assert any("method=GET" in f for f in written)
    r2 = run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
    assert r2.stats.processed_rows == 0 and r2.stats.attempts == 1
    assert _files(loc) == written
    assert spark.read.parquet(loc).count() == 100


def test_namespaced_sink_lands_in_its_namespace(spark, source, tmp_path):
    """``tables.sink.namespace`` qualifies the sink table: the rows land in
    ``ns.t``, not ``default.t``, and a re-run finds them there and
    processes 0 rows."""
    ns, t = "bronze_ns", "bronze_named"
    spark.sql(f"CREATE DATABASE {ns} LOCATION '{tmp_path / 'ns.db'}'")
    try:
        cfg = base_config()
        cfg["tables"] = {"sink": {"namespace": ns, "name": t}}
        r1 = run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
        assert r1.stats.processed_rows == 100
        assert spark.table(f"{ns}.{t}").count() == 100
        assert not spark.catalog.tableExists(f"default.{t}")
        r2 = run_pipeline(spark, cfg, source_df=source, source_id="tracking_id")
        assert r2.stats.processed_rows == 0
        assert spark.table(f"{ns}.{t}").count() == 100
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
        spark.sql(f"DROP TABLE IF EXISTS default.{t}")


def test_dry_run_num_partitions_binds_on_multipartition_source(spark):
    """`execution.num_partitions: 1` must hold even when the SOURCE arrives
    with many partitions (VERDICT r9 #2): the dry_run branch used to skip
    BatchProcessor.process's repartition, so each source partition got its
    own Python worker and thus its own process-scoped RateLimiter bucket —
    the rate-limit audit's single-bucket invariant held only by the
    accident of a single-partition scan. Proof here is structural, not
    timing-based: with an 8-partition source and num_partitions=1, every
    bronze row must carry the SAME worker pid (one worker saw the whole
    batch), and the token-bucket invariant n <= burst + rate*span + 1.5
    must hold on the monotonic issue stamps."""
    import json as _json

    src = (
        spark.range(25)
        .select(F.col("id").cast("string").alias("tracking_id"))
        .repartition(8)
    )
    assert src.rdd.getNumPartitions() == 8
    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/items",
            "param_mapping": [
                {"endpoint_param": "id", "source_column": "request_id"}
            ],
        },
        "transport": {"engine": "mock"},
        "execution": {
            "batch_size": 100_000,
            "num_partitions": 1,
            "max_concurrent_requests": 8,
            "max_requests_per_second": 20.0,
        },
        "middleware": [{"type": "timing"}, {"type": "worker_identity"}],
    }
    result = run_pipeline(
        spark, cfg, source_df=src, source_id="tracking_id", dry_run=True,
        fixed_time="2024-01-01T00:00:00",
    )
    metas = [
        _json.loads(r.response_metadata) for r in result.bronze_df.collect()
    ]
    assert len(metas) == 25
    pids = {m["executor_identity"]["pid"] for m in metas}
    assert len(pids) == 1, f"expected one worker, saw pids {pids}"
    starts = [m["timing"]["started_monotonic"] for m in metas]
    span = max(starts) - min(starts)
    assert 25 <= 20 + 20.0 * span + 1.5, f"bucket invariant violated, span={span}"
    # the limiter genuinely throttled: 5 of 25 requests had to wait
    assert span >= 0.175, f"issue span too short for a 20-rps bucket: {span}"


def test_param_mapping_on_id_column_is_injected(spark):
    """A mapping whose source_column IS the configured id column must still
    bind: the rename to request_id may not strand it (regression — the
    pruning step used to drop the column, so the request went out without
    the parameter and still landed as success=true bronze)."""
    import json as _json

    src = spark.createDataFrame([("t1",), ("t2",)], "tracking_id string")
    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/items",
            "param_mapping": [
                {"endpoint_param": "id", "source_column": "tracking_id"}
            ],
        },
        "transport": {"engine": "mock"},
        "execution": {"num_partitions": 2},
    }
    result = run_pipeline(
        spark, cfg, source_df=src, source_id="tracking_id", dry_run=True,
        fixed_time="2024-01-01T00:00:00",
    )
    rows = {r.request_id: r for r in result.bronze_df.collect()}
    assert set(rows) == {"t1", "t2"}
    # mock echoes params: the id parameter must actually have been sent
    assert _json.loads(rows["t1"].body_text) == {"id": "t1"}
    assert _json.loads(rows["t2"].body_text) == {"id": "t2"}


def test_source_validation_rejects_missing_id(spark):
    df = spark.range(5).select(F.col("id").alias("not_the_id"))
    with pytest.raises(ValueError, match="missing id column"):
        run_pipeline(spark, base_config(), source_df=df, source_id="tracking_id")


def test_source_xor_enforced(spark):
    with pytest.raises(ValueError, match="exactly one"):
        run_pipeline(spark, base_config())  # no table name, no source_df


def test_generate_tracking_ids_unique_and_distributed(spark):
    from distributed_api_etl_spark.orchestration import generate_tracking_ids

    df = generate_tracking_ids(spark, 500, partitions=8)
    assert df.rdd.getNumPartitions() == 8
    rows = df.collect()
    ids = {r.tracking_id for r in rows}
    assert len(ids) == 500
    assert all(len(i) == 64 for i in ids)  # sha2-256 hex


def test_pipeline_with_request_template_e2e(spark):
    """request_template rendered per row, POSTed through the mock engine,
    template columns survive scan pruning."""
    import json as _json

    from distributed_api_etl_spark.request_execution.transport import mock as mock_mod
    from distributed_api_etl_spark.orchestration import run_pipeline

    src = spark.createDataFrame(
        [("t1", "SEG_A"), ("t2", "SEG_B")], "tracking_id string, seg string"
    )
    cfg = {
        "endpoint": {
            "method": "POST",
            "url": "http://mock.local/api/post",
            "request_template": {"body_seg": "{seg}", "static": "x"},
        },
        "transport": {"engine": "mock"},
        "execution": {"num_partitions": 2},
    }
    result = run_pipeline(
        spark, cfg, source_df=src, source_id="tracking_id", dry_run=True,
        fixed_time="2024-01-01T00:00:00",
    )
    rows = {r.request_id: r for r in result.bronze_df.collect()}
    assert set(rows) == {"t1", "t2"}
    assert all(r.status_code == 200 for r in rows.values())
    # the mock echoes the rendered json body — proves the template crossed
    # the whole pipeline (row -> middleware -> transport -> bronze)
    assert _json.loads(rows["t1"].body_text) == {"body_seg": "SEG_A", "static": "x"}
    assert _json.loads(rows["t2"].body_text) == {"body_seg": "SEG_B", "static": "x"}


def test_pipeline_source_from_file_location(spark, tmp_path):
    """tables.source.location: read the source directly from files (csv with
    header here) — no metastore, no caller DataFrame."""
    src_dir = str(tmp_path / "src_csv")
    spark.createDataFrame(
        [("a1",), ("a2",), ("a3",)], "tracking_id string"
    ).coalesce(1).write.option("header", True).csv(src_dir)

    from distributed_api_etl_spark.orchestration import run_pipeline

    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/x",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "mock"},
        "execution": {"num_partitions": 2},
        "tables": {
            "source": {"location": src_dir, "format": "csv", "options": {"header": "true"}}
        },
    }
    result = run_pipeline(spark, cfg, dry_run=True, fixed_time="2024-01-01T00:00:00")
    rows = {r.request_id for r in result.bronze_df.collect()}
    assert rows == {"a1", "a2", "a3"}


def test_pipeline_source_from_xml_location(spark, tmp_path):
    """tables.source.location with format=xml — Spark 4's native XML source
    through the same config path (rowTag via options)."""
    src_dir = str(tmp_path / "src_xml")
    spark.createDataFrame(
        [("x1",), ("x2",)], "tracking_id string"
    ).coalesce(1).write.format("xml").option("rowTag", "row").save(src_dir)

    from distributed_api_etl_spark.orchestration import run_pipeline

    cfg = {
        "endpoint": {
            "method": "GET",
            "url": "http://mock.local/api/x",
            "param_mapping": [{"endpoint_param": "id", "source_column": "request_id"}],
        },
        "transport": {"engine": "mock"},
        "execution": {"num_partitions": 2},
        "tables": {
            "source": {
                "location": src_dir,
                "format": "xml",
                "options": {"rowTag": "row"},
            }
        },
    }
    result = run_pipeline(spark, cfg, dry_run=True, fixed_time="2024-01-01T00:00:00")
    assert {r.request_id for r in result.bronze_df.collect()} == {"x1", "x2"}


def test_source_name_and_location_mutually_exclusive():
    import pytest as _pytest

    from distributed_api_etl_spark.config.models import SourceTableConfig

    with _pytest.raises(ValueError, match="not both"):
        SourceTableConfig(name="t", location="/tmp/x")


def test_corpus_curation_pipeline_end_to_end(spark, sf_dir):
    """The training-data story, composed: quality-gate -> decontaminate ->
    near-dup keep-set -> chunk -> pack -> shard. Asserts the conservation
    and monotonicity invariants that hold whatever the data: each stage
    only removes (or re-partitions) rows, every surviving doc keeps its
    provenance, and the final shards cover exactly the surviving tokens."""
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.dedup import minhash_lsh_pairs
    from distributed_api_etl_spark.operators.graph import dedup_cluster_assignment
    from distributed_api_etl_spark.operators.text import (
        decontaminate,
        quality_model_score,
    )
    from distributed_api_etl_spark.operators.sampling import shard_assignment
    from distributed_api_etl_spark.queries.registry import table

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()

    # 1. model-based quality gate
    scored = quality_model_score(docs, "doc_id", "text")
    kept_ids = scored.where("keep").select("doc_id")
    gated = docs.join(kept_ids, "doc_id")
    n_gated = gated.count()
    assert 0 < n_gated <= n_docs

    # 2. decontaminate against a fake eval set (first 5 docs)
    eval_set = docs.orderBy("doc_id").limit(5)
    clean = decontaminate(gated, eval_set, "doc_id", "text", n=3)
    n_clean = clean.count()
    assert n_clean <= n_gated
    # every doc sharing the eval docs' text is gone (eval docs themselves
    # were either gated out or removed here if they survived the gate)
    surviving_eval = clean.join(eval_set.select("doc_id"), "doc_id").count()
    assert surviving_eval == 0

    # 3. near-dup keep-set over the clean corpus
    pairs = minhash_lsh_pairs(clean, "doc_id", "text", 3, 70)
    clusters = dedup_cluster_assignment(
        pairs.select("d1", "d2"), clean.select("doc_id"), "doc_id"
    )
    assert clusters.count() == n_clean  # every doc got a cluster row
    keep = clusters.where("is_keep")
    n_keep = keep.count()
    assert 0 < n_keep <= n_clean
    # keep-set is one doc per cluster
    assert keep.select("cluster_id").distinct().count() == n_keep

    # 4. shard the surviving corpus deterministically
    final = clean.join(keep.select("doc_id"), "doc_id")
    sharded = shard_assignment(final, "doc_id", n_shards=4, seed="e2e")
    assert sharded.count() == n_keep
    assert sharded.select("shard").distinct().count() <= 4
    # determinism: same seed => identical assignment under a different layout
    sharded2 = shard_assignment(final.repartition(7), "doc_id", n_shards=4, seed="e2e")
    a = {r["doc_id"]: r["shard"] for r in sharded.collect()}
    b = {r["doc_id"]: r["shard"] for r in sharded2.collect()}
    assert a == b


def test_backfill_resumes_after_failure_exactly_once(spark, tmp_path):
    """Crash mid-backfill -> re-invoke -> completed units skipped, the
    failed unit re-runs, every unit's effect lands exactly once."""
    import pytest

    from distributed_api_etl_spark.orchestration.backfill import (
        completed_units,
        run_backfill,
    )

    state = str(tmp_path / "bookmarks")
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    calls: list[str] = []
    fail_once = {"2024-01-03"}

    def process(sp, unit):
        calls.append(unit)
        if unit in fail_once:
            fail_once.discard(unit)
            raise RuntimeError(f"transient failure in {unit}")
        # idempotent write: overwrite the unit's own partition
        sp.range(3).withColumn("unit", F.lit(unit)).write.mode("overwrite").parquet(
            str(out_dir / unit)
        )
        return 3

    units = [f"2024-01-0{i}" for i in range(1, 6)]
    with pytest.raises(RuntimeError, match="2024-01-03"):
        run_backfill(spark, units, process, state)
    assert completed_units(spark, state) == {"2024-01-01", "2024-01-02"}

    stats = run_backfill(spark, units, process, state)
    assert stats == {"processed": 3, "skipped": 2, "failed": 0}
    assert completed_units(spark, state) == set(units)
    # each unit attempted at most twice (the failed one), none re-processed
    # after bookmarking
    assert calls.count("2024-01-01") == 1 and calls.count("2024-01-03") == 2
    total = spark.read.parquet(str(out_dir / "*")).count()
    assert total == 15  # 5 units x 3 rows, exactly once each

    # third invocation is a no-op
    assert run_backfill(spark, units, process, state)["processed"] == 0


def test_backfill_state_missing_vs_corrupt(spark, tmp_path):
    """MISSING state table or a dir with no COMMITTED files (crash during
    the first bookmark append leaves only _temporary/) means first run;
    a committed-but-unreadable part file must raise, not silently restart
    the backfill (ADVICE r4 + round-5 review)."""
    import pytest

    from distributed_api_etl_spark.orchestration.backfill import completed_units

    assert completed_units(spark, str(tmp_path / "never_written")) == set()

    # crash-during-first-append shape: dir exists, nothing committed —
    # must self-heal as first run, not block resume forever
    half_written = tmp_path / "half_written"
    (half_written / "_temporary").mkdir(parents=True)
    assert completed_units(spark, str(half_written)) == set()

    corrupt = tmp_path / "corrupt_state"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        completed_units(spark, str(corrupt))


def test_curation_demo_composed_pipeline(spark, capsys):
    """The one-command corpus-curation script must keep its stage order
    (near-dup removal on RAW text before passage cleaning — review
    finding round 6) and emit a complete summary."""
    import json
    import sys

    sys.path.insert(0, "scripts")
    import curation_demo

    argv = sys.argv
    sys.argv = ["curation_demo.py", "/root/testdata/sf0.001", "4"]
    try:
        curation_demo.main()
    finally:
        sys.argv = argv
    out = [
        line
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]
    summary = json.loads(out[-1])
    assert summary["docs_total"] > 0
    # monotone survivor funnel
    assert (
        summary["docs_total"]
        >= summary["after_gopher_gate"]
        >= summary["after_quality_gate"]
        >= summary["after_decontamination"]
        >= summary["after_near_dup_dedup"]
        >= summary["after_span_clean"]
        > 0
    )
    assert summary["passages_stripped"] >= 0
    assert set(summary["split"]) <= {"train", "val", "test"}
    assert sum(summary["shards"].values()) == summary["after_span_clean"]
    assert summary["surviving_tokens"] > 0
