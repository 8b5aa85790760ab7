"""SparkSession factory with scale-aware defaults.

The reference configures a small standalone cluster
(``/root/reference/spark/spark-defaults.conf:1-5``: 200 shuffle
partitions, 2g executors) and turns AQE on for its heaviest job
(``dags/05_clickhouse_complete_setup.py:257``). Our engine makes the
scale knobs first-class: AQE always on (runtime coalescing + skew-join
splitting), explicit shuffle parallelism, Arrow for any Python<->JVM
exchange, and UTC session time so results are timezone-stable.

On a real cluster the same builder is used unchanged — only
``master`` / executor sizing differ (supplied by spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["collect", "get_spark", "stop_spark"]

# Defaults chosen for local[  N] testing; on a 1000-executor cluster the
# shuffle partition count should be ~2-3x total cores (or left to AQE's
# coalescing with a high initial value).
_LOCAL_DEFAULTS: dict[str, str] = {
    # --- correctness / determinism -------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # --- adaptive execution: re-plan at runtime, coalesce small shuffle
    # partitions, split skewed ones (critical for 100 TB joins/aggs).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing -------------------------------------------------
    "spark.sql.shuffle.partitions": "32",
    # Keep scan splits big enough to amortize task overhead locally.
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    # --- python exchange: Arrow batches, never row-at-a-time pickling ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- broadcast: let small dims broadcast aggressively ---------------
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # --- parquet ---------------------------------------------------------
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.filterPushdown": "true",
    # timestamps in the fixtures are ns; read without rebase chatter
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # quieter local runs
    "spark.ui.showConsoleProgress": "false",
    # --- codegen class cache (static conf) ------------------------------
    # Janino-compiled classes are cached in a small LRU (default 100
    # entries). Any long-lived session running a varied workload — a
    # serving endpoint, a dashboard backend, this engine's 150+-query
    # suite — generates several classes per query and THRASHES a
    # 100-entry cache, recompiling every stage on every re-run. 2000
    # entries holds the whole working set for tens of MB of metaspace.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app_name: str = "data_lakehouse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) for local runs; pass ``None`` on a cluster where spark-submit
    supplies it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_LOCAL_DEFAULTS)
    if master.startswith("local"):
        # local mode runs every executor thread inside the DRIVER JVM,
        # whose heap defaults to 1g — 32 concurrent tasks' shuffle/scan
        # buffers blow that at any real data size (observed: hard OOM at
        # a 10× fixture with 1g; at 24g the same fixture survives but a
        # long query sequence turns GC-bound — the 135-query bench
        # measured 463s at 24g vs 274s at 48g, with individual queries
        # degrading up to 15× in the thrash segments). Size the single
        # JVM like the worker it is; only effective before the JVM
        # launches, so set it here, not in extra_conf of a later
        # getOrCreate.
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def collect(df) -> list:
    """``df.collect()`` that closes its local result socket. PySpark's
    own ``collect`` closes only the file wrapper and leaves the socket
    to the garbage collector: a ``ResourceWarning`` per call, and an
    open descriptor until the next collection in a long-lived server.
    The SQL endpoint and the DML it routes collect through here.

    It makes the calls PySpark 4.1's ``DataFrame.collect`` makes, plus
    the close; ``tests/test_sql_endpoint.py`` pins that version and
    checks the rows equal ``df.collect()``'s."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.traceback_utils import SCCallSiteSync
    from pyspark.util import local_connect_and_auth

    with SCCallSiteSync(df.sparkSession.sparkContext):
        sock_info = df._jdf.collectToPython()
    sockfile, sock = local_connect_and_auth(sock_info[0], sock_info[1])
    with sock, sockfile:
        sock.settimeout(None)
        return list(BatchedSerializer(CPickleSerializer()).load_stream(sockfile))


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
