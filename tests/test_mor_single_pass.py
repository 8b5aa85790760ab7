"""Merge-on-read DML runs its Spark plan once: a MOR delete writes its
positions in one pass and counts them from the written footers,
``upsert_cdc`` counts keys and images from the files its commit wrote,
and equality deletes scope rows by a per-dir sequence literal instead
of a per-row path test."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_lakehouse_spark.catalog import Catalog

SCHEMA = "id long, v string"
CDC = "id long, v string, _op string"


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup("mor-single-pass", "counted")
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup("mor-single-pass")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(jobs)


def _ids(df) -> list:
    return sorted(r["id"] for r in df.collect())


def _table(spark, cat, rows=((1, "a"), (2, "b"), (3, "c"), (4, "d"))):
    cat.create_table("t", spark.createDataFrame(list(rows), SCHEMA).coalesce(1))


def test_mor_delete_runs_one_job_and_counts_from_footers(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    _table(spark, cat)
    out, jobs = _jobs(
        spark, lambda: cat.delete_where("t", "id <= 2", mode="mor")
    )
    # the position write is the only job: no count pass before it
    assert len(jobs) == 1
    assert out["affected_rows"] == 2
    assert out["delete_dir"] == "d00001"
    assert _ids(cat.read("t")) == [3, 4]


def test_zero_match_mor_delete_commits_nothing(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    _table(spark, cat)
    h = cat._handle("t")
    before = cat._load_manifest(h)
    out = cat.delete_where("t", "id > 100", mode="mor")
    assert out["affected_rows"] == 0 and out["delete_dir"] is None
    assert cat._load_manifest(h) == before
    assert not [d for d in os.listdir(h.path) if d.startswith("d")]
    assert _ids(cat.read("t")) == [1, 2, 3, 4]


def test_upsert_cdc_runs_validation_plus_writes(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    _table(spark, cat)
    batch = spark.createDataFrame(
        [(1, "A", "U"), (2, None, "D"), (9, "z", "I")], CDC
    ).coalesce(1)
    out, jobs = _jobs(spark, lambda: cat.upsert_cdc("t", batch, ["id"]))
    # one `_op` validation job, the image write, and the distinct-key
    # write (its shuffle map stage is a job of its own under AQE); the
    # parent counted images and keys first, for 9 jobs in all
    assert len(jobs) == 4
    assert out["keys_deleted"] == 3 and out["rows_appended"] == 2
    assert sorted(tuple(r) for r in cat.read("t").collect()) == [
        (1, "A"), (3, "c"), (4, "d"), (9, "z"),
    ]


def _direct_counts(batch, key_cols):
    images = batch.filter(F.lower("_op") != "d").count()
    return batch.select(*key_cols).distinct().count(), images


def test_upsert_cdc_counts_match_a_direct_count(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    _table(spark, cat)
    cases = {
        # one key twice: two images, one distinct key
        "duplicate keys": [(5, "x", "I"), (5, "y", "U"), (1, "A", "U")],
        "all deletes": [(1, None, "D"), (2, None, "D"), (2, None, "D")],
    }
    for label, rows in cases.items():
        batch = spark.createDataFrame(rows, CDC)
        want = _direct_counts(batch, ["id"])
        out = cat.upsert_cdc("t", batch, ["id"])
        assert (out["keys_deleted"], out["rows_appended"]) == want, label

    pcat = Catalog(spark, str(tmp_path / "p"))
    pcat.create_table(
        "t",
        spark.createDataFrame([(i, f"d{i % 3}") for i in range(9)], SCHEMA),
        partition_by=["v"],
    )
    batch = spark.createDataFrame(
        [(0, "d0", "U"), (1, "d2", "U"), (4, None, "D"), (20, "d1", "I")], CDC
    )
    want = _direct_counts(batch, ["id"])
    out = pcat.upsert_cdc("t", batch, ["id"])
    assert (out["keys_deleted"], out["rows_appended"]) == want == (4, 3)
    assert pcat.row_count("t") == pcat.read("t").count() == 9


def test_equality_delete_plan_has_no_path_test(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    _table(spark, cat)
    cat.append("t", spark.createDataFrame([(5, "e")], SCHEMA))
    cat.delete_where("t", "id = 2", mode="mor-eq", equality_cols=["id"])
    cat.upsert_cdc(
        "t", spark.createDataFrame([(3, "C", "U")], CDC), ["id"]
    )
    df = cat.read("t")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # `_file` renders as `_metadata.file_path` once optimized: no
    # per-row prefix test of any column is left
    assert "StartsWith(" not in plan
    assert "raise_error" not in plan
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "a"), (3, "C"), (4, "d"), (5, "e"),
    ]


def test_table_changes_over_equality_deletes(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "w"))
    _table(spark, cat)
    cat.delete_where("t", "id = 1", mode="mor-eq", equality_cols=["id"])
    cat.upsert_cdc(
        "t",
        spark.createDataFrame([(2, "B", "U"), (3, None, "D")], CDC),
        ["id"],
    )
    got = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in cat.table_changes("t", 0).collect()
    )
    assert got == [
        (1, "a", "delete"), (2, "B", "insert"), (2, "b", "delete"),
        (3, "c", "delete"),
    ]
    # the span after the first delete sees only the upsert's changes
    got = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in cat.table_changes("t", 1).collect()
    )
    assert got == [(2, "B", "insert"), (2, "b", "delete"), (3, "c", "delete")]


def test_cloned_equality_delete_keeps_its_dir_scope(spark, tmp_path):
    """A cloned equality delete scopes by the dirs it shipped with
    (``applies_to``), so rows the clone appends later with a deleted
    key survive, in the clone's own version space."""
    cat = Catalog(spark, str(tmp_path / "w"))
    _table(spark, cat)
    cat.append("t", spark.createDataFrame([(5, "e")], SCHEMA))
    cat.delete_where("t", "id in (2, 5)", mode="mor-eq", equality_cols=["id"])
    cat.clone_table("t", "c")
    h = cat._handle("c")
    head = cat._main_head(cat._load_manifest(h), "c")
    (rec,) = [d for d in head["delete_dirs"] if isinstance(d, dict)]
    assert "applies_to" in rec
    assert _ids(cat.read("c")) == [1, 3, 4]
    cat.append("c", spark.createDataFrame([(2, "again")], SCHEMA))
    assert _ids(cat.read("c")) == [1, 2, 3, 4]
    assert _ids(cat.read("t")) == [1, 3, 4]
