"""DDL rendering, table creation, schema drift, comment enrichment, and
silver extraction (the reference's table_manager + the response_schema
surface, rebuilt)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_api_etl_spark.core.table_manager import (
    TableManager,
    enrich_schema_with_comments,
    render_create_table,
    validate_schema,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False, {"comment": "primary key"}),
        T.StructField("n", T.IntegerType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
    ]
)


def test_render_create_table_full():
    ddl = render_create_table(
        "db.t",
        SCHEMA,
        fmt="parquet",
        partition_by=["n"],
        properties={"owner": "etl", "note": "it's quoted"},
    )
    assert "CREATE TABLE IF NOT EXISTS db.t" in ddl
    assert "`id` string NOT NULL COMMENT 'primary key'" in ddl
    assert "`tags` array<string>" in ddl
    assert "PARTITIONED BY (`n`)" in ddl
    assert "'note' = 'it''s quoted'" in ddl


def test_create_and_validate_roundtrip(spark, tmp_path):
    tm = TableManager(spark)
    name = "default.tm_roundtrip"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    ddl = tm.create_table(
        name,
        T.StructType(
            [
                T.StructField("id", T.StringType(), True),
                T.StructField("n", T.IntegerType(), True),
            ]
        ),
        location=str(tmp_path / "tm_roundtrip"),
        descriptions={"id": "the id"},
    )
    assert "COMMENT 'the id'" in ddl
    report = tm.validate_table(
        name,
        T.StructType(
            [
                T.StructField("id", T.StringType(), True),
                T.StructField("n", T.IntegerType(), True),
            ]
        ),
    )
    assert report.ok
    comment_row = [
        r for r in spark.sql(f"DESCRIBE {name}").collect() if r.col_name == "id"
    ][0]
    assert comment_row.comment == "the id"
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_validate_schema_drift_kinds():
    actual = T.StructType(
        [
            T.StructField("a", T.StringType(), True),
            T.StructField("b", T.DoubleType(), True),
            T.StructField("extra", T.StringType(), True),
        ]
    )
    expected = T.StructType(
        [
            T.StructField("a", T.StringType(), False),  # nullability tightened
            T.StructField("b", T.DecimalType(10, 2), True),  # type mismatch
            T.StructField("missing", T.StringType(), True),
        ]
    )
    report = validate_schema(actual, expected)
    kinds = {(i.issue_type, i.column) for i in report.issues}
    assert kinds == {
        ("nullability_tightened", "a"),
        ("type_mismatch", "b"),
        ("missing_column", "missing"),
        ("extra_column", "extra"),
    }


def test_enrich_schema_preserves_existing_metadata():
    enriched = enrich_schema_with_comments(SCHEMA, {"n": "a counter"})
    by_name = {f.name: f for f in enriched.fields}
    assert by_name["id"].metadata["comment"] == "primary key"
    assert by_name["n"].metadata["comment"] == "a counter"


def test_silver_extract_types_and_parse_flag(spark):
    from distributed_api_etl_spark.core.silver import silver_extract

    bronze = spark.createDataFrame(
        [
            ("r1", '{"uid": "u1", "score": 4.5}', True),
            ("r2", "not json at all", True),
            ("r3", '{"uid": "u3"}', False),  # excluded: success=false
        ],
        "request_id string, body_text string, success boolean",
    )
    out = silver_extract(
        bronze,
        {
            "columns": [
                {"name": "uid", "type": "string"},
                {"name": "score", "type": "double"},
            ]
        },
    )
    rows = {r.request_id: r for r in out.collect()}
    assert set(rows) == {"r1", "r2"}
    assert rows["r1"].uid == "u1" and rows["r1"].score == 4.5 and rows["r1"]._parse_ok
    assert rows["r2"].uid is None and not rows["r2"]._parse_ok
    assert dict(out.dtypes)["score"] == "double"


def test_compact_files_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.core.table_manager import compact_files

    loc = str(tmp_path / "fragmented")
    # simulate per-batch appends: 6 appends x 8 partitions = ~48 small files
    for i in range(6):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("h")
        ).repartition(8).write.mode("append").parquet(loc)

    before = spark.read.parquet(loc)
    rows_before = {(r.id, r.h) for r in before.collect()}
    stats = compact_files(spark, loc, target_file_mb=128)
    after = spark.read.parquet(loc)
    assert {(r.id, r.h) for r in after.collect()} == rows_before
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] >= 1


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with ZERO shuffle exchanges — the plan-level proof that
    one write-time shuffle amortizes every downstream join on that key."""
    from distributed_api_etl_spark.core.table_manager import TableManager

    tm = TableManager(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    tm.write_bucketed(
        orders.withColumnRenamed("o_custkey", "k"),
        "bktdb.orders_b",
        ["k"], 4, sort_cols=["k"],
        location=str(tmp_path / "orders_b"),
    )
    tm.write_bucketed(
        cust.withColumnRenamed("c_custkey", "k"),
        "bktdb.customer_b",
        ["k"], 4, sort_cols=["k"],
        location=str(tmp_path / "customer_b"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force SMJ so the assertion is about bucketing, not broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bktdb.orders_b").join(spark.table("bktdb.customer_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert j.count() == orders.count()  # every order has its customer
        # control: the same join over the raw (unbucketed) parquet shuffles
        raw = (
            orders.withColumnRenamed("o_custkey", "k")
            .join(cust.withColumnRenamed("c_custkey", "k"), "k")
        )
        raw_plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bktdb.orders_b")
        spark.sql("DROP TABLE IF EXISTS bktdb.customer_b")


def test_partitioned_sink_prunes_partitions(spark, sf_dir, tmp_path):
    """A date-range read over a date-partitioned sink must scan only the
    matching partition directories (PartitionFilters, file-count proof)."""
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.queries.registry import table

    out = str(tmp_path / "events_by_day")
    ev = table(spark, sf_dir, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out)
    n_days = back.select("event_date").distinct().count()
    pruned = back.where(F.col("event_date") == "2024-01-02")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the equality predicate must land in PartitionFilters (directory-level
    # pruning), NOT in DataFilters (row-level, after reading the file)
    import re

    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf and "event_date" in pf.group(0) and "2024-01-02" in pf.group(0), plan[:800]
    assert n_days > 1  # the pruning claim is non-vacuous
    # and the partition column never materializes as data rows
    assert pruned.count() == back.where(F.col("event_date") == "2024-01-02").count()


def test_upsert_parquet_update_insert_preserve(spark, tmp_path):
    """Copy-on-write upsert: matched keys take the new row, unmatched sink
    rows survive untouched, new keys insert; re-running the same upsert is
    idempotent (no duplicate keys ever)."""
    from distributed_api_etl_spark.core.table_manager import upsert_parquet

    loc = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "request_id int, k string, v int"
    )
    stats = upsert_parquet(spark, loc, base, "request_id")
    assert stats == {"rows_before": 0, "rows_after": 3, "rows_updated": 0, "rows_inserted": 3}

    upd = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "request_id int, k string, v int"
    )
    stats = upsert_parquet(spark, loc, upd, "request_id")
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {r.request_id: (r.k, r.v) for r in spark.read.parquet(loc).collect()}
    assert got == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30), 4: ("d", 40)}

    # idempotent re-run
    stats = upsert_parquet(spark, loc, upd, "request_id")
    assert stats["rows_inserted"] == 0 and stats["rows_after"] == 4
    got2 = {r.request_id: (r.k, r.v) for r in spark.read.parquet(loc).collect()}
    assert got2 == got


def test_upsert_parquet_rejects_duplicate_update_keys(spark, tmp_path):
    """Duplicate keys in the updates frame would write duplicate rows and
    corrupt the stats — the guard fails loud before touching the sink."""
    import pytest

    from distributed_api_etl_spark.core.table_manager import upsert_parquet

    loc = str(tmp_path / "sink")
    base = spark.createDataFrame([(1, "a")], "request_id int, k string")
    upsert_parquet(spark, loc, base, "request_id")
    dup = spark.createDataFrame(
        [(2, "x"), (2, "y")], "request_id int, k string"
    )
    with pytest.raises(ValueError, match="unique"):
        upsert_parquet(spark, loc, dup, "request_id")
    # sink untouched
    assert spark.read.parquet(loc).count() == 1


def test_optimize_zorder_rewrites_in_place(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from distributed_api_etl_spark.operators.layout import optimize_zorder
    from distributed_api_etl_spark.queries.registry import table

    loc = str(tmp_path / "ev")
    ev = table(spark, sf_dir, "events").withColumn(
        "minute_idx", F.expr("div(unix_millis(cast(ts as timestamp)), 60000)")
    )
    # fragmented starting layout
    ev.repartition(16).write.parquet(loc)
    before = spark.read.parquet(loc)
    n_rows = before.count()
    # materialize BEFORE the swap: the rewrite replaces the files this
    # frame's listing points at
    sum_before = before.agg(F.sum("event_id")).first()[0]
    stats = optimize_zorder(spark, loc, "user_id", "minute_idx", target_file_mb=1)
    after = spark.read.parquet(loc)
    assert after.count() == n_rows
    assert stats["files_before"] == 16
    assert stats["files_after"] == len(after.inputFiles())
    # same data, new layout; scratch dirs gone
    import os

    assert not os.path.exists(loc + "__zorder_tmp")
    assert not os.path.exists(loc + "__zorder_old")
    assert after.agg(F.sum("event_id")).first()[0] == sum_before


def test_recover_scratch_restores_or_cleans(spark, tmp_path):
    import os

    from distributed_api_etl_spark.core.table_manager import recover_scratch

    loc = str(tmp_path / "tbl")
    df = spark.range(10).withColumnRenamed("id", "k")

    # case 1: crash BETWEEN renames — only __old exists -> restore it
    df.write.parquet(loc + "__upsert_old")
    stats = recover_scratch(spark, loc)
    assert stats["restored"] == ["__upsert_old"] and stats["deleted"] == []
    assert spark.read.parquet(loc).count() == 10

    # case 2: crash BEFORE the first rename — live table + stale __tmp
    df.write.parquet(loc + "__zorder_tmp")
    stats = recover_scratch(spark, loc)
    assert stats["deleted"] == ["__zorder_tmp"] and stats["restored"] == []
    assert not os.path.exists(loc + "__zorder_tmp")
    assert spark.read.parquet(loc).count() == 10

    # idempotent no-op afterwards
    assert recover_scratch(spark, loc) == {"restored": [], "deleted": []}


def test_swap_restores_original_when_second_rename_fails(monkeypatch):
    """The two-rename swap's failure path: the live layout has been parked
    at ``__old`` when renaming the new one into place fails. The original
    must be back at the location before OSError is raised, and the stale
    ``__tmp`` is then cleaned by recover_scratch."""
    from distributed_api_etl_spark.core import table_manager as tm

    class FakeFS:
        def __init__(self):
            self.dirs = {"/t": "original"}

        def exists(self, p):
            return p in self.dirs

        def rename(self, src, dst):
            if src == "/t__compact_tmp" or src not in self.dirs or dst in self.dirs:
                return False
            self.dirs[dst] = self.dirs.pop(src)
            return True

        def delete(self, p, recursive):
            return self.dirs.pop(p, None) is not None

    fs = FakeFS()
    monkeypatch.setattr(tm, "hadoop_fs", lambda spark, location: (fs, str))

    def write(tmp):
        fs.dirs[tmp] = "rewritten"

    with pytest.raises(OSError, match="rename /t__compact_tmp -> /t failed"):
        tm.swap_in_rewrite(None, "/t", "compact", write)
    assert fs.dirs == {"/t": "original", "/t__compact_tmp": "rewritten"}
    assert tm.recover_scratch(None, "/t") == {
        "restored": [],
        "deleted": ["__compact_tmp"],
    }
    assert fs.dirs == {"/t": "original"}
