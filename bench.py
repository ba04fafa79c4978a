#!/usr/bin/env python
"""Headline benchmark: runs the bench-tagged queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query executes to completion through the ``noop`` sink (full pipeline
runs on executors; nothing collected to the driver) — the honest way to time
a distributed plan.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from distributed_api_etl_spark.queries import load_all
    from distributed_api_etl_spark.session import get_spark, release_caches

    spark = get_spark(app_name="daes-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    bench_specs = {n: s for n, s in sorted(registry.items()) if s.bench}
    # dev knob: SPARK_GRAFT_BENCH_ONLY=q1_pricing_summary,dedup_minhash_lsh
    # times just those queries (any registered name, bench-tagged or not) —
    # the tuning loop shouldn't pay the whole headline set per iteration
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        bench_specs = {n: registry[n] for n in names}

    # JVM warmup outside the timed region: first parquet read (Hadoop FS +
    # footer machinery), a shuffle agg, a window, and a broadcast join —
    # the codepaths every timed query shares. Uses the tiny region table.
    # Warmup runs the same CODE the timed queries run, never their data
    # scale: steady-state timings should reflect compute, not the one-time
    # Janino/JIT compilation of each generated class (which a long-lived
    # cluster job pays once, not per query).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    w = Window.partitionBy("r_regionkey").orderBy("r_name")
    (
        region.join(F.broadcast(region.select("r_regionkey")), "r_regionkey")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("r_name")
        .agg(F.sum("rn"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # compile the dedup/text expression classes (shingles, minhash stack,
    # band joins, Arrow/pandas-UDF machinery) on a 50-row document slice
    # and a 50-row embedding slice — same generated code, negligible data
    from distributed_api_etl_spark.operators.dedup import minhash_lsh_pairs
    from distributed_api_etl_spark.operators.similarity import embedding_lsh_pairs

    docs50 = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    minhash_lsh_pairs(docs50, "doc_id", "text", 3, 70).write.format("noop").mode(
        "overwrite"
    ).save()
    emb50 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    embedding_lsh_pairs(
        emb50, "vec_id", "embedding", threshold=0.3, dim=64
    ).write.format("noop").mode("overwrite").save()
    # warm EVERY Python worker slot, not just one: the 50-row frames above
    # run on a single partition, so only ONE of local[N]'s workers pays its
    # fork + numpy/pandas import during warmup — the other N-1 would start
    # (measured ~5s for 32 workers) inside the FIRST timed pandas-UDF query.
    # Same one-time-per-executor cost class as the Janino warmup above: a
    # long-lived cluster job pays it once, not per query.
    def _warm_batches(it):
        import numpy  # noqa: F401 — the kernels' import, paid here once
        import pandas  # noqa: F401

        yield from it

    par = spark.sparkContext.defaultParallelism
    spark.range(0, par * 4, 1, par * 4).mapInPandas(
        _warm_batches, "id long"
    ).write.format("noop").mode("overwrite").save()

    # two measured runs per query, report the MIN: single-sample timings on
    # a shared box conflate the query's cost with GC pauses / first-touch
    # page faults / neighbor load; min-of-2 is the standard steady-state
    # estimator (JMH-style) and is declared in the output JSON.
    # shuffle bytes, job count and executor task seconds per head: the
    # load-robust twins of each wall, read from the AppStatusStore with the
    # readers the ingest benchmark uses
    from perfbench.tracing import next_job_id, spark_counters

    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001

    def counters():
        sc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
        return spark_counters(spark), next_job_id(spark)

    def task_seconds(first_job: int, last_job: int) -> float:
        """Executor run time of the stages of jobs ``first_job ..
        last_job - 1``. (The executor summary's ``totalDuration`` is no
        substitute: in local mode it grows with wall time while no task
        runs.)"""
        stages = set()
        for j in range(first_job, last_job):
            ids = sc.statusStore().job(j).stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        store = sc.statusStore()
        return sum(store.lastStageAttempt(st).executorRunTime() for st in stages) / 1000.0

    RUNS = 2
    # VERDICT r16 #8: when the first RUNS walls spread >30% the box was
    # loaded mid-query and even the min is suspect — take ONE extra run
    # (still min-of-all, additions-only: the parsed summary line's schema
    # is unchanged, the detail line's runs_done gives the runs per query)
    RESPREAD_PCT = 30.0
    MAX_RUNS = 3
    timings: dict[str, float] = {}
    spread_pct: dict[str, float] = {}
    runs_done: dict[str, int] = {}
    shuffle_mb: dict[str, float] = {}
    spark_jobs: dict[str, int] = {}
    task_s: dict[str, float] = {}
    total = 0.0
    load_start = os.getloadavg()[0]
    for name, spec in bench_specs.items():
        best = None
        worst = None
        n_runs = 0
        while n_runs < MAX_RUNS:
            # clear cached frames so every run pays the FULL pipeline —
            # operator-internal persists otherwise leak into the next run
            # via CacheManager plan-matching and we'd time partial queries
            release_caches()
            spark.catalog.clearCache()
            # build inside the timed region: some operators (the API
            # pipeline) execute eagerly during build, and plan construction
            # is cheap anyway
            c0, j0 = counters()
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            c1, j1 = counters()
            best = dt if best is None else min(best, dt)
            worst = dt if worst is None else max(worst, dt)
            n_runs += 1
            if n_runs >= RUNS and 100.0 * (worst / best - 1.0) <= RESPREAD_PCT:
                break
        # counters from the LAST run (bytes and jobs are deterministic
        # modulo AQE; runs agree)
        shuffle_mb[name] = round(c1["shuffle_write_mb"] - c0["shuffle_write_mb"], 2)
        spark_jobs[name] = j1 - j0
        task_s[name] = round(task_seconds(j0, j1), 2)
        timings[name] = round(best, 3)
        # max/min - 1 across the runs: a large spread means the box was
        # loaded mid-query and the wall number is suspect even as a min
        spread_pct[name] = round(100.0 * (worst / best - 1.0), 1)
        runs_done[name] = n_runs
        total += best

    # VERDICT r7 #1: the r7 official bench record was unparseable because one
    # giant JSON line (31 walls + shuffle counters + spread + loadavg) outgrew
    # the driver's tail capture and lost its head. Output framing is now:
    #   line 1 (detail): shuffle_write_mb / spark_jobs / task_s /
    #     run_spread_pct / loadavg — the diagnostics a human reads; also
    #     written to docs/bench_detail_last.json so the evidence survives
    #     even if the driver drops the line.
    #   line 2 (LAST): the compact summary the driver parses — total +
    #     per-query walls rounded to 2 dp, nothing else. Tail-capture safe.
    try:
        git_head = (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        git_head = None
    detail = {
        "metric": "bench_detail",
        "sf": float(sf),
        "runs_done": runs_done,
        "respread_extra_run_pct": RESPREAD_PCT,
        "agg": "min",
        "git_head": git_head,
        # walls live here too so a quiet-box detail file IS the trend
        # snapshot (VERDICT r11: quiet walls existed only in round notes)
        "total_s": round(total, 2),
        "query_walls_s": timings,
        "shuffle_write_mb": shuffle_mb,
        "spark_jobs": spark_jobs,
        "task_s": task_s,
        "run_spread_pct": spread_pct,
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
    }
    # UNTRACKED live path (.gitignore'd): the driver's post-commit bench run
    # overwrote the committed copy every round and left the tree dirty at
    # round end (VERDICT r9/r10/r11). Quiet-box runs worth keeping are
    # copied to explicit names, e.g. docs/bench_r12_quiet.json.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "docs", "bench_detail_last.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "bench_total_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {n: round(t, 2) for n, t in timings.items()},
                "sf": float(sf),
            }
        )
    )


if __name__ == "__main__":
    main()
