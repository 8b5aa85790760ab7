"""Driver-simulation sweep: run EVERY ``queries()`` entry under a
PLAIN SparkSession (Spark 4 defaults: ANSI on, 200 shuffle partitions)
with an adverse session timezone, and string-compare each oracle-backed
query against DuckDB.

This catches config leaks the engine-session sweep (tools/check.py)
cannot: anything that silently depends on ``get_spark``'s conf
(timezone, nanosAsLong, Arrow, ANSI) instead of being pinned per query
by ``_ensure_conf``.

The sweep also runs under an adverse PATH: ``tempfile.tempdir`` (where
the entry module builds its catalogs and scratch tables) is set to a
fresh directory whose name contains a space, so every catalog path
goes through Spark's percent-encoded ``file:`` URIs — a raw path
comparison anywhere in the engine shows up as a failure here, just as
a timezone dependence does. The directory is removed afterwards.

Usage: python tools/hostile_check.py [sf_dir] [timezone]
"""

from __future__ import annotations

import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tz = sys.argv[2] if len(sys.argv) > 2 else "America/New_York"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.session.timeZone", tz)
        .appName("hostile-check")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    orc = entrymod.oracle_sql()
    fails: list[tuple[str, str]] = []
    tempfile.tempdir = tempfile.mkdtemp(prefix="hostile sweep ")
    try:
        sweep(spark, sf_dir, con, orc, fails)
    finally:
        shutil.rmtree(tempfile.tempdir, ignore_errors=True)
    for name, why in fails:
        print(f"FAIL  {name}: {why}")
    print(f"failures: {len(fails)}")
    sys.exit(1 if fails else 0)


def sweep(spark, sf_dir: str, con, orc: dict, fails: list) -> None:
    """Run every query and compare it with its oracle; append each
    failure to ``fails``."""
    for name, fn in entrymod.queries().items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
            if name not in orc:
                print(f"ran   {name}: {len(sdf)} rows (no oracle)")
                continue
            ddf = con.execute(orc[name]).df()
            cols = sorted(sdf.columns)
            if cols != sorted(ddf.columns):
                fails.append((name, f"cols {cols} vs {sorted(ddf.columns)}"))
                continue
            a = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
            b = ddf[cols].astype(str).sort_values(cols).reset_index(drop=True)
            if len(a) != len(b) or not a.equals(b):
                fails.append((name, f"values ({len(a)} vs {len(b)} rows)"))
            else:
                print(f"ok    {name}: {len(a)} rows")
        except Exception as ex:  # noqa: BLE001 - report and continue
            fails.append((name, f"ERR {type(ex).__name__}: {str(ex)[:150]}"))


if __name__ == "__main__":
    main()
