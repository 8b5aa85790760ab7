"""Shared pieces of the benchmark: Spark session sizing, host record,
latency statistics and on-disk byte and row counts."""

from __future__ import annotations

import os
import statistics

#: driver heap for the single local-mode JVM; the engine's own default
#: (48g) exceeds the memory of a small host
DRIVER_HEAP = "4g"


def spark_threads() -> int:
    """``nproc - 1`` task threads, so the Python driver keeps a core."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def start_spark(work: str):
    """The engine's session (``get_spark``) sized for one host process,
    with every scratch directory inside ``work``."""
    from data_lakehouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    # the environment variable overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files under /tmp from the launcher and driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return get_spark(
        "perfbench",
        master=f"local[{spark_threads()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.ui.enabled": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        proc.stdin.close()
        proc.wait(timeout=60)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWindow:
    """Steal and iowait share of all CPU time over a window, from
    ``/proc/stat`` (fields: user nice system idle iowait irq softirq
    steal ...)."""

    def __init__(self) -> None:
        self.t0 = _cpu_ticks()

    def record(self) -> dict:
        d = [b - a for a, b in zip(self.t0, _cpu_ticks())]
        total = sum(d[:8]) or 1
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_threads": spark_threads(),
            "driver_heap": DRIVER_HEAP,
            "steal_share": round(d[7] / total, 4),
            "iowait_share": round(d[4] / total, 4),
            "loadavg_1m": float(open("/proc/loadavg").read().split()[0]),
        }


def latency_summary(seconds: list[float]) -> dict:
    """Median and p90 (interpolated between the nearest ranks) of the
    op latencies, with how many samples lie beyond the p90."""
    p90 = statistics.quantiles(seconds, n=10, method="inclusive")[8]
    return {
        "op_p50_ms": statistics.median(seconds) * 1000,
        "op_p90_ms": p90 * 1000,
        "samples": len(seconds),
        "samples_beyond_p90": sum(s > p90 for s in seconds),
    }


def dir_files(path: str) -> dict[str, int]:
    """Path → size of every regular file under ``path``."""
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(dp, f)
            out[p] = os.path.getsize(p)
    return out


def written_since(path: str, seen: dict[str, int]) -> tuple[dict, dict[str, int]]:
    """What was written under ``path`` since ``seen`` (path → size, as
    this returned last time): bytes of new or rewritten data and delete
    files, bytes of rewritten manifests (``_manifest.json``, which holds
    commit times, so its size is not fixed by the seed) and parquet rows.
    Returns ``(counts, files now)``."""
    import pyarrow.parquet as pq

    now = dir_files(path)
    new = [p for p, b in now.items() if seen.get(p) != b]
    manifest = [p for p in new if os.path.basename(p) == "_manifest.json"]
    counts = {
        "bytes": sum(now[p] for p in new) - sum(now[p] for p in manifest),
        "manifest_bytes": sum(now[p] for p in manifest),
        "rows": sum(pq.read_metadata(p).num_rows for p in new if p.endswith(".parquet")),
    }
    return counts, now


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    return sum(dir_files(path).values())


def parquet_bytes(df) -> int:
    """Bytes of a pandas frame as one snappy parquet file: the
    reference size of a batch of user rows."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf)
    return buf.tell()


def fresh_table_bytes(catalog, name: str, df, partition_by=None) -> int:
    """Bytes the rows of ``df`` occupy written once as a fresh table."""
    catalog.create_table(name, df, partition_by=partition_by)
    return dir_bytes(os.path.join(catalog.root, name))
