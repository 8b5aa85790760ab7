"""The ``.partitions`` metadata table (catalog.partitions) and SQL
metadata-table addressing (``SELECT ... FROM t.snapshots|files|
partitions`` — Iceberg's metadata-table shape on the dialect router)."""

from __future__ import annotations

import json

from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.sql import execute_sql


def _cat(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 3)], ["d", "x"]
    )
    c.create_table("p", df, partition_by=["d"])
    c.append("p", spark.createDataFrame([("d2", 4), ("d3", 5)], ["d", "x"]))
    return c


def test_partitions_rollup_matches_data(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    rows = {
        json.loads(r["partition"]).get("d"): (r["rows"], r["n_files"])
        for r in cat.partitions("p").collect()
    }
    assert set(rows) == {"d1", "d2", "d3"}
    assert rows["d1"][0] == 2
    assert rows["d2"][0] == 2  # one row per commit
    assert rows["d3"][0] == 1
    # totals agree with the metadata row count
    assert sum(v[0] for v in rows.values()) == cat.row_count("p")
    # version pinning: the first snapshot had no d3
    v0 = {
        json.loads(r["partition"]).get("d")
        for r in cat.partitions("p", version=0).collect()
    }
    assert v0 == {"d1", "d2"}


def test_unpartitioned_reports_empty_tuple(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_table("u", spark.createDataFrame([(1,)], ["x"]))
    rows = cat.partitions("u").collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["partition"]) == {}


def test_sql_metadata_table_addressing(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    rows = execute_sql(
        cat,
        "SELECT partition, rows FROM p.partitions ORDER BY partition",
    ).collect()
    assert len(rows) == 3
    snaps = execute_sql(
        cat, "SELECT version, operation FROM p.snapshots ORDER BY version"
    ).collect()
    assert [r["operation"] for r in snaps] == ["create", "append"]
    n_files = execute_sql(
        cat, "SELECT COUNT(*) AS n FROM p.files"
    ).collect()[0]["n"]
    assert n_files == cat.files("p").count()
    # a string literal containing the pattern must NOT rewrite
    lit = execute_sql(cat, "SELECT 'p.files' AS s").collect()[0]["s"]
    assert lit == "p.files"


def test_explain_analyze_returns_final_plan(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    row = execute_sql(
        cat, "EXPLAIN ANALYZE SELECT d, COUNT(*) AS n FROM p GROUP BY d"
    ).collect()[0]
    assert row["wall_sec"] >= 0
    assert "isFinalPlan=true" in row["plan"]
    assert "HashAggregate" in row["plan"]


def test_null_partition_reports_json_null(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "wh"))
    c.create_table(
        "n",
        spark.createDataFrame(
            [("d1", 1), (None, 2), (None, 3)], "d string, x long"
        ),
        partition_by=["d"],
    )
    rows = {
        json.loads(r["partition"])["d"]: r["rows"]
        for r in c.partitions("n").collect()
    }
    assert rows == {"d1": 1, None: 2}
