"""Snapshot files under a catalog root whose name needs URI escaping.

Spark reports ``_metadata.file_path`` as a percent-encoded URI
(``file:/w/wh%20sp+ace/t/v00000/part-….parquet``) while the manifest
names dirs by local path. Every DML, read, change-feed and export path
must map one onto the other; a raw string comparison makes DML silently
match no file. Every case here runs under a root containing a space and
a ``+`` (which form decoding would turn into a space)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.interop.delta import (
    export_delta,
    export_delta_history,
    read_delta,
)
from data_lakehouse_spark.interop.iceberg import (
    export_iceberg,
    export_iceberg_history,
    read_iceberg,
)
from data_lakehouse_spark.streaming.source import stream_table

SCHEMA = "id long, v string"


def _cat(spark, tmp_path, n: int = 10) -> Catalog:
    cat = Catalog(spark, str(tmp_path / "wh sp+ace"))
    cat.create_table(
        "t",
        spark.createDataFrame([(i, f"v{i}") for i in range(n)], SCHEMA),
    )
    return cat


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


def test_cow_delete(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    res = cat.delete_where("t", "id < 3")
    assert res["affected_rows"] == 3
    assert _ids(cat.read("t")) == list(range(3, 10))


def test_update_where(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    res = cat.update_where("t", "id < 2", {"v": F.lit("x")})
    assert res["affected_rows"] == 2
    got = {r["id"]: r["v"] for r in cat.read("t").collect()}
    assert got[0] == got[1] == "x" and got[2] == "v2" and len(got) == 10


def test_merge_into(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    src = spark.createDataFrame([(3, "new"), (10, "ins")], SCHEMA)
    cat.merge_into("t", src, ["id"])
    rows = cat.read("t").collect()
    assert len(rows) == 11
    assert len({r["id"] for r in rows}) == 11
    assert {r["id"]: r["v"] for r in rows}[3] == "new"


def test_compact_where(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append("t", spark.createDataFrame([(20, "a"), (21, "b")], SCHEMA))
    res = cat.compact("t", where="id >= 20")
    assert res["rewritten_dirs"] == ["v00001"]
    assert res["kept_dirs"] == ["v00000"]
    assert _ids(cat.read("t")) == list(range(10)) + [20, 21]


def test_row_count_after_mor_delete(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.delete_where("t", "id = 4", mode="mor")
    assert cat.read("t").count() == 9
    assert cat.row_count("t") == 9


def test_read_after_mor_eq_delete(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.delete_where("t", "id < 2", mode="mor-eq", equality_cols=["id"])
    assert _ids(cat.read("t")) == list(range(2, 10))


def test_upsert_cdc_then_read(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    batch = spark.createDataFrame(
        [(1, "u1", "U"), (2, None, "D"), (11, "i11", "I")],
        "id long, v string, _op string",
    )
    cat.upsert_cdc("t", batch, ["id"])
    got = {r["id"]: r["v"] for r in cat.read("t").collect()}
    assert sorted(got) == [0, 1] + list(range(3, 10)) + [11]
    assert got[1] == "u1" and got[11] == "i11"


def test_change_feed_stream_over_mor_delete(spark, tmp_path):
    cat = _cat(spark, tmp_path, n=3)
    cat.delete_where("t", "id = 1", mode="mor")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        stream_table(spark, cat.root, "t", readChangeFeed="true")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("id", "v", "_change_type", "_commit_version")
        .collect()
    )
    assert got == [
        (0, "v0", "insert", 0),
        (1, "v1", "delete", 1),
        (1, "v1", "insert", 0),
        (2, "v2", "insert", 0),
    ]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_current_snapshot_exports_roundtrip(spark, tmp_path, fmt):
    cat = _cat(spark, tmp_path)
    cat.append("t", spark.createDataFrame([(20, "a")], SCHEMA))
    cat.delete_where("t", "id % 4 = 0", mode="mor")
    dest = str(tmp_path / f"out {fmt}+x")
    if fmt == "delta":
        res = export_delta(cat, "t", dest)
        assert res["deletion_vector_files"] >= 1
        got = read_delta(spark, dest)
    else:
        res = export_iceberg(cat, "t", dest)
        assert res["position_delete_files"] == 1
        got = read_iceberg(spark, dest)
    assert not res["materialized"]
    assert _ids(got) == _ids(cat.read("t")) == [
        1, 2, 3, 5, 6, 7, 9,
    ]


def test_history_exports_roundtrip(spark, tmp_path):
    cat = _cat(spark, tmp_path, n=4)
    cat.append("t", spark.createDataFrame([(20, "a")], SCHEMA))
    cat.delete_where("t", "id = 2")
    dest = str(tmp_path / "ice hist+x")
    snaps = {
        s["catalog_version"]: s["snapshot_id"]
        for s in export_iceberg_history(cat, "t", dest)["snapshots"]
    }
    for v in range(3):
        want = _ids(cat.read("t", version=v))
        assert _ids(read_iceberg(spark, dest, snapshot_id=snaps[v])) == want
    cat.delete_where("t", "id = 3", mode="mor")
    dest = str(tmp_path / "delta hist+x")
    export_delta_history(cat, "t", dest)
    for v in range(4):
        want = _ids(cat.read("t", version=v))
        assert _ids(read_delta(spark, dest, version=v)) == want
    assert _ids(read_delta(spark, dest)) == [0, 1, 20]



@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_exports_roundtrip_with_escaped_partition_values(spark, tmp_path, fmt):
    # Spark escapes ':' and '/' in partition dir names (s=10%3A00), so
    # the files' local paths hold a literal '%': Iceberg manifests name
    # them as-is and must not be decoded, Delta logs name them as URIs
    cat = Catalog(spark, str(tmp_path / "wh sp+ace"))
    rows = [(i, ("10:00", "a/b", "c%d")[i % 3]) for i in range(9)]
    cat.create_table(
        "t",
        spark.createDataFrame(rows, "id long, s string"),
        partition_by=["s"],
    )
    cat.delete_where("t", "id = 4", mode="mor")
    if fmt == "iceberg":  # Delta exports refuse equality deletes
        batch = spark.createDataFrame(
            [(5, "c%d", "D"), (7, "a/b", "U")], "id long, s string, _op string"
        )
        cat.upsert_cdc("t", batch, ["id"])
    want = sorted(tuple(r) for r in cat.read("t").select("id", "s").collect())
    dest = str(tmp_path / f"{fmt}%3Aout")
    if fmt == "delta":
        res = export_delta(cat, "t", dest)
        got = read_delta(spark, dest)
    else:
        res = export_iceberg(cat, "t", dest)
        got = read_iceberg(spark, dest)
    assert not res["materialized"]
    assert sorted(tuple(r) for r in got.select("id", "s").collect()) == want
    assert len(want) == (7 if fmt == "iceberg" else 8)
