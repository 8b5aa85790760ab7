"""The catalog's per-directory scan cache: a committed snapshot dir is
resolved (reader, projection, delete-file frames, byte totals) once per
directory stamp, and every read still resolves its snapshot from the
manifest."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from data_lakehouse_spark import client as dbapi
from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.server import SqlEndpoint

SCHEMA = "id long, user string, amt double"


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _cached(cat: Catalog, name: str) -> dict:
    return cat._scan_cache.get(os.path.normpath(cat._handle(name).path), {})


@pytest.fixture()
def parquet_calls(monkeypatch):
    calls = []
    orig = DataFrameReader.parquet

    def counting(self, *paths, **options):
        calls.append(paths)
        return orig(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    return calls


def _mor_table(spark, cat: Catalog) -> None:
    """Three data dirs, a positional delete and an equality delete."""
    cat.create_table(
        "t", spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    )
    cat.append("t", spark.createDataFrame([(3, "c", 3.0), (4, "d", 4.0)], SCHEMA))
    cat.delete_where("t", "id = 2", mode="mor")
    cat.upsert_cdc(
        "t",
        spark.createDataFrame(
            [(3, "c", 30.0, "U"), (4, "d", 0.0, "D")], SCHEMA + ", _op string"
        ),
        ["id"],
    )


def test_second_read_makes_no_parquet_calls(spark, tmp_path, parquet_calls):
    cat = Catalog(spark, str(tmp_path / "w"))
    _mor_table(spark, cat)
    first = _rows(cat.read("t"))
    assert first == [(1, "a", 1.0), (3, "c", 30.0)]
    assert parquet_calls, "the first read resolves its dirs"
    parquet_calls.clear()
    assert _rows(cat.read("t")) == first
    assert parquet_calls == []


def test_building_a_read_starts_no_job(spark, tmp_path):
    """Positional and equality delete dirs are read with a known schema
    (the equality-key schema from the footer Spark writes), so building
    a fresh catalog's read over them starts no schema-inference job."""
    cat = Catalog(spark, str(tmp_path / "w"))
    _mor_table(spark, cat)
    fresh = Catalog(spark, cat.root)
    sc = spark.sparkContext
    sc.setJobGroup("build-read", "building a read")
    try:
        df = fresh.read("t")
        jobs = sc.statusTracker().getJobIdsForGroup("build-read")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert _rows(df) == [(1, "a", 1.0), (3, "c", 30.0)]


def test_two_reads_join_by_column(spark, tmp_path):
    """Reads built from the same cached dir frames keep distinct output
    columns, so a self-join by column reference stays unambiguous."""
    cat = Catalog(spark, str(tmp_path / "w"))
    _mor_table(spark, cat)
    a, b = cat.read("t"), cat.read("t")
    joined = a.join(b, a["id"] == b["id"] + 2).select(a["id"], b["amt"])
    assert _rows(joined) == [(3, 1.0)]


def test_recreated_table_is_never_served_stale_frames(spark, tmp_path):
    root = str(tmp_path / "w")
    cat = Catalog(spark, root)
    cat.create_table("t", spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    assert _rows(cat.read("t")) == [(1, "a", 1.0)]
    cat.drop_table("t")
    cat.create_table("t", spark.createDataFrame([(7, "z", 7.0)], SCHEMA))
    assert _rows(cat.read("t")) == [(7, "z", 7.0)]

    # recreated by ANOTHER catalog on the same root: this one was never
    # told, and the dir stamps alone must keep it from serving v00000
    other = Catalog(spark, root)
    other.drop_table("t")
    other.create_table("t", spark.createDataFrame([(8, "y", 8.0)], SCHEMA))
    assert _rows(cat.read("t")) == [(8, "y", 8.0)]
    assert len(_cached(cat, "t")) == 1


def test_recreated_table_gets_fresh_delete_byte_totals(spark, tmp_path):
    """The broadcast decision sizes delete dirs from cached byte totals;
    a recreated table's ``d00001`` must be walked again, not served the
    dropped table's total."""
    cat = Catalog(spark, str(tmp_path / "w"))
    h = cat._handle("t")

    def mor_table(n: int) -> int:
        cat.create_table(
            "t",
            spark.createDataFrame(
                [(i, "u" * (i % 7), float(i)) for i in range(n)], SCHEMA
            ).coalesce(1),
        )
        cat.delete_where("t", f"id < {n // 2}", mode="mor")
        cat.read("t").count()
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(h.path, "d00001"))
            for f in fs
            if f.endswith(".parquet")
        )

    small = mor_table(4)
    assert cat._dir_bytes(h, "d00001") == small
    cat.drop_table("t")
    big = mor_table(4000)
    assert big != small
    assert cat._dir_bytes(h, "d00001") == big


def test_schema_evolution_shows_on_next_read(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(1, "a", 1.0)], SCHEMA))
    assert cat.read("t").columns == ["id", "user", "amt"]
    cat.add_column("t", "note", "string")
    df = cat.read("t")
    assert df.columns == ["id", "user", "amt", "note"]
    assert _rows(df) == [(1, "a", 1.0, None)]
    cat.rename_column("t", "user", "who")
    df = cat.read("t")
    assert df.columns == ["id", "who", "amt", "note"]
    assert _rows(df.select("who")) == [("a",)]
    # the frames projected to the older schemas were dropped
    assert len(_cached(cat, "t")) == 1


def test_cache_holds_only_the_head_snapshot_dirs(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame([(0, "a", 0.0)], SCHEMA))
    for i in range(1, 11):
        cat.append("t", spark.createDataFrame([(i, "a", float(i))], SCHEMA))
        assert cat.read("t").count() == i + 1
        if i % 4 == 0:
            cat.compact("t")
    head = cat._main_head(cat._load_manifest(cat._handle("t")), "t")
    assert cat.read("t").count() == 11
    cached = _cached(cat, "t")
    assert 0 < len(cached) <= len(head["data_dirs"])
    head_dirs = {
        os.path.normpath(os.path.join(cat._handle("t").path, d))
        for d in head["data_dirs"]
    }
    assert {k[0] for k in cached} <= head_dirs
    cat.drop_table("t")
    assert _cached(cat, "t") == {}


def test_threaded_endpoint_reads(spark, tmp_path):
    """More reader threads than cores race to build the same dir frames
    (switch interval shortened so they interleave inside the cache);
    every answer is right and the cache keeps one frame per key."""
    import sys

    cat = Catalog(spark, str(tmp_path / "w"))
    _mor_table(spark, cat)
    cat.append("t", spark.createDataFrame([(5, "e", 5.0)], SCHEMA))
    cat._scan_cache.clear()
    ep = SqlEndpoint(cat, read_only=True).start()
    results, errors = [], []

    def reader():
        try:
            conn = dbapi.connect(port=ep.port)
            cur = conn.cursor()
            for _ in range(3):
                cur.execute("SELECT COUNT(*), SUM(amt) FROM t")
                results.append(cur.fetchone())
            conn.close()
        except Exception as e:  # surfaced by the assert below
            errors.append(repr(e))

    n = (os.cpu_count() or 2) + 2
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=reader) for _ in range(n)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(300)
        assert not any(t.is_alive() for t in ts)
    finally:
        sys.setswitchinterval(interval)
        ep.stop()
    assert errors == []
    assert results == [(3, 36.0)] * (3 * n)
    # 4 data dirs + 1 positional and 1 equality delete dir: one frame
    # each, plus the two delete dirs' byte totals
    assert len(_cached(cat, "t")) == 8
    assert cat.read("t").agg(F.sum("amt")).collect()[0][0] == 36.0
