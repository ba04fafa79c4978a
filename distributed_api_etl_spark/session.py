"""SparkSession factory tuned for this engine.

Scale notes (100 TB / 1000-executor design):
  * AQE on: runtime partition coalescing, skew-join splitting, dynamic
    broadcast conversion cover most physical-plan decisions at scale.
  * ``spark.sql.shuffle.partitions`` defaults to total cores locally; on a
    real cluster set it to 2-3x total executor cores (AQE coalesces down).
  * Arrow enabled so any pandas-UDF path is vectorized batch transfer.
  * Kryo serializer for the few RDD/closure paths (the HTTP fan-out stage).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else a quarter of physical memory capped at
    8g: a fixed 8g runs a small box out of memory once a few sessions share
    it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mb = min(8192, phys // 4 // 2**20)
    return os.environ.get("SPARK_DRIVER_MEMORY", f"{mb}m")


# Engine defaults that are settable at runtime: :func:`get_spark` builds
# them into a new session and :func:`apply_runtime_conf` sets them on one
# created elsewhere (an external harness).
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE convert shuffle joins to broadcast from RUNTIME stats up to
    # 64MB: small-SF intermediates (e.g. the shingle table) broadcast;
    # at 100 TB the same plan keeps sort-merge — stats decide, not code.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Catalyst's runtime bloom filter: inject a bloom of a selective
    # build side into the probe scan of large shuffle joins (the
    # optimizer-internal cousin of operators/sketch.py's explicit form)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "distributed-api-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Configs that only apply at JVM launch (e.g. driver memory) are taken from
    the environment when this process is the one creating the JVM; when the
    caller already holds a session (driver harness), we reuse it untouched.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_SCOPED_CACHES: list = []
_SCOPED_CACHES_LOCK = __import__("threading").Lock()


def scoped_persist(df):
    """Persist a DataFrame and track it for :func:`release_caches`.

    Operators persist intermediates that feed the lazily-returned result
    more than once (shingle tables, LSH band tables, tf tables); the cache
    must outlive the function but not the session. Callers that run many
    queries in one session (bench, the grading harness) call
    ``release_caches()`` between queries so cached plans never accumulate
    in executor memory. Direct library callers own cleanup the same way.
    """
    df = df.persist()
    with _SCOPED_CACHES_LOCK:
        _SCOPED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every DataFrame tracked by :func:`scoped_persist`.

    Safe to call at any point where no returned-but-unconsumed DataFrame
    still depends on a tracked cache (i.e. between queries). Returns the
    number of caches released.
    """
    # swap the list out under the lock, unpersist outside it: concurrent
    # drivers (threaded grading harnesses) must never double-pop or race a
    # release against another thread's registration
    with _SCOPED_CACHES_LOCK:
        drained, _SCOPED_CACHES[:] = _SCOPED_CACHES[:], []
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:  # pragma: no cover - session already stopped
            pass
    return n


def cache_mark() -> int:
    """Current length of the scoped-cache registry — pair with
    :func:`release_caches_since` for batch-scoped cleanup."""
    with _SCOPED_CACHES_LOCK:
        return len(_SCOPED_CACHES)


def release_caches_since(mark: int) -> int:
    """Unpersist only the caches registered after ``mark``
    (:func:`cache_mark`). The long-lived streaming sinks need this:
    a foreachBatch body that persists per-batch intermediates would
    otherwise accumulate one cache generation per micro-batch for the
    stream's whole life (the round-15 recipe probe OOMed the shared
    local-mode heap at sf0.1 x 5 batches exactly this way), while a full
    release_caches() inside the sink could drop caches a surrounding
    pipeline still depends on."""
    with _SCOPED_CACHES_LOCK:
        drained, _SCOPED_CACHES[mark:] = _SCOPED_CACHES[mark:], []
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:  # pragma: no cover - session already stopped
            pass
    return n


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the subset of engine defaults that are settable at runtime.

    Used when an externally-created session (the driver's harness) is handed
    to us and we cannot control JVM-launch configs.
    """
    for k, v in {
        **_RUNTIME_CONF,
        # Externally-created sessions often keep the 200 default; size the
        # shuffle to the actual cluster (AQE coalesces down, never up).
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static
            pass
    return spark


def shuffle_bytes_snapshot(spark) -> tuple[int, int]:
    """(total_shuffle_write, total_shuffle_read) bytes since JVM start.

    Read from the driver's AppStatusStore executor summaries (populated
    with the UI disabled too) — diff two snapshots around a job to measure
    what a query ACTUALLY shuffled, instead of inferring it from the plan.
    bench.py reports the per-query diff; SCALE.md's shuffle census cites
    those measurements. Cumulative monotonic counters: cheap (one py4j
    round trip), safe to call between queries, meaningless mid-job.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    ex = store.executorList(False)
    w = r = 0
    for i in range(ex.size()):
        e = ex.apply(i)
        w += e.totalShuffleWrite()
        r += e.totalShuffleRead()
    return w, r
