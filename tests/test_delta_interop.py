"""Delta Lake export / read round-trip (interop/delta.py): pure-JSON
log per the public Delta protocol, replayed by the module's own
independent reader (add/remove reconciliation, checkpoints, partition
reconstruction, refusal of wrong-rows features)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_lakehouse_spark.catalog import Catalog
from data_lakehouse_spark.interop.delta import export_delta, read_delta


def _cat(spark, tmp_path) -> Catalog:
    return Catalog(spark, str(tmp_path / "w"))


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_zero_copy_export_roundtrip(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, x double"
        ),
    )
    cat.append(
        "t",
        spark.createDataFrame([(3, "c", 3.5)], "id long, name string, x double"),
    )
    dest = str(tmp_path / "dl")
    res = export_delta(cat, "t", dest)
    assert not res["materialized"] and res["rows"] == 3
    got = read_delta(spark, dest)
    assert _rows(got.select("id", "name", "x")) == _rows(cat.read("t"))
    # log structure: protocol + metaData + one add per file
    with open(os.path.join(dest, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    assert kinds.count("add") == res["data_files"]
    meta = actions[1]["metaData"]
    schema = json.loads(meta["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "name", "x"]


def test_identity_partitioned_zero_copy(spark, tmp_path):
    """Identity hive partitioning exports ZERO-COPY for Delta: the
    partition column values ride in add.partitionValues and the reader
    reconstructs them with the declared type."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, 10), (2, 10), (3, 20)], "id long, bucket int"
        ),
        partition_by=["bucket"],
    )
    dest = str(tmp_path / "dl")
    res = export_delta(cat, "t", dest)
    assert not res["materialized"]
    assert res["partition_columns"] == ["bucket"]
    got = read_delta(spark, dest)
    assert dict(got.dtypes)["bucket"] == "int"
    assert _rows(got.select("id", "bucket")) == _rows(
        cat.read("t").select("id", "bucket")
    )


def test_mor_positional_deletes_export_as_deletion_vectors(spark, tmp_path):
    """MOR positional deletes are (file, row_index) pairs — exactly a
    deletion vector's content — so the export stays ZERO-COPY: per-file
    spec-format DV sidecars + the protocol feature bump, no rewrite."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(i,) for i in range(10)], "id long")
    )
    cat.delete_where("t", "id >= 7", mode="mor")
    dest = str(tmp_path / "dl")
    res = export_delta(cat, "t", dest)
    assert not res["materialized"]
    assert res["deletion_vector_files"] >= 1
    assert res["rows"] == 7  # logical rows (DV-suppressed excluded)
    assert _rows(read_delta(spark, dest).select("id")) == _rows(cat.read("t"))
    # opting out of DVs restores materialize-on-deletes
    res2 = export_delta(
        cat, "t", str(tmp_path / "dl2"), deletion_vectors=False
    )
    assert res2["materialized"] and res2["rows"] == 7
    with pytest.raises(ValueError, match="MOR delete"):
        export_delta(cat, "t", str(tmp_path / "dl3"), materialize=False,
                     deletion_vectors=False)


def test_mor_equality_deletes_still_materialize(spark, tmp_path):
    """Equality deletes need a scan to resolve into row indexes — the
    export materializes them (documented), and the zero-copy refusal
    names the reason."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(i,) for i in range(10)], "id long")
    )
    cat.delete_where("t", "id >= 7", mode="mor-eq", equality_cols=["id"])
    dest = str(tmp_path / "dl")
    res = export_delta(cat, "t", dest)
    assert res["materialized"] and res["rows"] == 7
    assert _rows(read_delta(spark, dest).select("id")) == _rows(cat.read("t"))
    with pytest.raises(ValueError, match="equality-delete"):
        export_delta(cat, "t", str(tmp_path / "dl2"), materialize=False)


def test_dv_export_partitioned_zero_copy(spark, tmp_path):
    """DV export composes with identity-partitioned zero-copy: the
    sidecars key on row indexes within each partition's files."""
    cat = _cat(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b") for i in range(10)],
        "id long, part string",
    )
    cat.create_table("t", df, partition_by=["part"])
    cat.delete_where("t", "id IN (1, 8)", mode="mor")
    dest = str(tmp_path / "dl")
    res = export_delta(cat, "t", dest)
    assert not res["materialized"] and res["rows"] == 8
    assert res["partition_columns"] == ["part"]
    out = read_delta(spark, dest)
    assert {r["id"] for r in out.collect()} == set(range(10)) - {1, 8}
    assert out.filter(F.col("part") == "a").count() == 4


def test_read_delta_replays_multi_commit_log(spark, tmp_path):
    """Reader handles logs other writers produce: multiple commits with
    add AND remove actions, version pinning (time travel)."""
    cat = _cat(spark, tmp_path)
    cat.create_table("t", spark.createDataFrame([(1,), (2,)], "id long"))
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    log = os.path.join(dest, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    first_add = next(a for a in actions if "add" in a)["add"]

    # commit 1: another engine removes the first file and adds a new one
    extra = os.path.join(dest, "extra.parquet")
    spark.createDataFrame([(99,)], "id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(dest, "extra_dir"))
    part = next(
        f for f in os.listdir(os.path.join(dest, "extra_dir"))
        if f.endswith(".parquet")
    )
    os.replace(os.path.join(dest, "extra_dir", part), extra)
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"remove": {"path": first_add["path"],
                                       "dataChange": True}}) + "\n")
        f.write(json.dumps({"add": {
            "path": extra, "partitionValues": {},
            "size": os.path.getsize(extra), "modificationTime": 0,
            "dataChange": True}}) + "\n")

    latest = read_delta(spark, dest)
    v0 = read_delta(spark, dest, version=0)
    assert _rows(v0.select("id")) == [(1,), (2,)]
    removed_ids = {
        r["id"] for r in spark.read.parquet(first_add["path"]).collect()
    }
    got = {r["id"] for r in latest.collect()}
    assert got == ({1, 2} - removed_ids) | {99}


def test_read_delta_refuses_wrong_rows_features(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.create_table("t", spark.createDataFrame([(1,)], "id long"))
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    log = os.path.join(dest, "_delta_log")
    # an unknown column-mapping mode would mean unknown physical
    # resolution rules: wrong-rows failure mode — refuse
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    meta = next(a for a in actions if "metaData" in a)["metaData"]
    meta["configuration"] = {"delta.columnMapping.mode": "weird"}
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(ValueError, match="column mapping"):
        read_delta(spark, dest)
    # an unknown reader feature still refuses
    with open(os.path.join(log, f"{2:020d}.json"), "w") as f:
        f.write(json.dumps({"metaData": dict(meta, configuration={})})
                + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["somethingNew"]}}) + "\n")
    with pytest.raises(ValueError, match="somethingNew"):
        read_delta(spark, dest)


def _dv_commit(log, version, add, desc):
    """One protocol-shaped DV commit: remove + re-add of the same file
    carrying the deletion vector (what a real DV writer emits)."""
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        f.write(json.dumps({"remove": {"path": add["path"],
                                       "dataChange": True}}) + "\n")
        f.write(json.dumps({"add": dict(
            add, dataChange=True, deletionVector=desc)}) + "\n")


@pytest.mark.parametrize("storage,use_runs", [
    ("u", False), ("i", False), ("p", True),
])
def test_read_delta_applies_deletion_vectors(
    spark, tmp_path, storage, use_runs
):
    """Deletion vectors (r9 verdict ask #6): a DV written via the
    protocol's own layout (Z85 / roaring portable / versioned sidecar
    file) suppresses exactly its row indexes; earlier versions still
    read in full; protocol gates accept the deletionVectors feature."""
    from data_lakehouse_spark.interop.dv import attach_dv

    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.range(100).select(F.col("id").cast("long").alias("id"))
    )
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    log = os.path.join(dest, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    first_add = next(a for a in actions if "add" in a)["add"]

    # learn the file's (row index -> id) mapping, kill the even ids
    rows = spark.read.parquet(first_add["path"]).select(
        "id", F.col("_metadata.row_index").alias("ri")
    ).collect()
    killed_idx = sorted(r["ri"] for r in rows if r["id"] % 2 == 0)
    killed_ids = {r["id"] for r in rows if r["id"] % 2 == 0}
    desc = attach_dv(
        dest, killed_idx, storage=storage,
        prefix="ab/" if storage == "u" else "", use_runs=use_runs,
    )
    _dv_commit(log, 1, first_add, desc)
    # a DV writer bumps the protocol to the feature gate — must pass
    with open(os.path.join(log, f"{2:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"]}}) + "\n")

    got = {r["id"] for r in read_delta(spark, dest).collect()}
    assert got == set(range(100)) - killed_ids
    assert len(got.intersection(killed_ids)) == 0
    # time travel to pre-DV still reads every row
    assert read_delta(spark, dest, version=0).count() == 100


def test_read_delta_dv_on_partitioned_table(spark, tmp_path):
    """DVs compose with partition-value reconstruction: the anti-join
    keys on (file, row index), so only the targeted partition's rows
    disappear."""
    from data_lakehouse_spark.interop.dv import attach_dv

    cat = _cat(spark, tmp_path)
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(100)],
        "id long, part string",
    )
    cat.create_table("t", df, partition_by=["part"])
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    log = os.path.join(dest, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    add_a = next(
        a for a in actions
        if "add" in a and a["add"]["partitionValues"].get("part") == "a"
    )["add"]
    rows_a = spark.read.parquet(add_a["path"]).select(
        "id", F.col("_metadata.row_index").alias("ri")
    ).collect()
    kill = sorted(r["ri"] for r in rows_a if r["id"] < 10)
    desc = attach_dv(dest, kill, storage="u")
    _dv_commit(log, 1, add_a, desc)

    out = read_delta(spark, dest)
    ids = {r["id"] for r in out.collect()}
    assert ids == set(range(10, 100))
    # partition column survives reconstruction next to the DV join
    assert out.filter(F.col("part") == "b").count() == 50


def test_null_partition_value_roundtrip(spark, tmp_path):
    """A NULL partition value exports as JSON null in partitionValues
    (the protocol's encoding), not Hive's __HIVE_DEFAULT_PARTITION__
    sentinel string, and the reader restores it as NULL — including
    for STRING partition columns, where a cast would not rescue the
    sentinel."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "us"), (2, None), (3, "eu")], "id long, region string"
        ),
        partition_by=["region"],
    )
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    with open(os.path.join(dest, "_delta_log", f"{0:020d}.json")) as f:
        adds = [
            json.loads(line)["add"]
            for line in f
            if line.strip() and "\"add\"" in line
        ]
    vals = {a["partitionValues"].get("region") for a in adds}
    assert None in vals and "__HIVE_DEFAULT_PARTITION__" not in vals
    got = read_delta(spark, dest)
    assert _rows(got.select("id", "region")) == _rows(
        cat.read("t").select("id", "region")
    )


# ---------------------------------------------------------------------------
# full-history export
# ---------------------------------------------------------------------------

from data_lakehouse_spark.interop.delta import export_delta_history


def _mk_history(cat, spark):
    """v0 create, v1 append, v2 COW delete (forces remove actions)."""
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, name string"
        ),
    )
    cat.append(
        "t", spark.createDataFrame([(3, "c"), (4, "d")], "id long, name string")
    )
    cat.delete_where("t", F.col("id") == 2, mode="cow")


def test_history_export_version_pinned_reads(spark, tmp_path):
    """Every catalog snapshot is readable as a Delta VERSION AS OF:
    commit k's replay equals the catalog's time travel to version k —
    including across a COW rewrite, which must log remove actions for
    the rewritten files."""
    cat = _cat(spark, tmp_path)
    _mk_history(cat, spark)
    dest = str(tmp_path / "dlh")
    res = export_delta_history(cat, "t", dest, checkpoint_interval=None)
    assert res["commits"] == 3 and res["checkpoint"] is None
    for k in range(3):
        got = read_delta(spark, dest, version=k)
        want = cat.read("t", version=k)
        assert _rows(got.select("id", "name")) == _rows(
            want.select("id", "name")
        ), f"version {k} mismatch"
    # the COW commit logged removes for the rewritten file(s)
    with open(os.path.join(dest, "_delta_log", f"{2:020d}.json")) as f:
        kinds = [next(iter(json.loads(l))) for l in f if l.strip()]
    assert "remove" in kinds and "add" in kinds


def test_history_checkpoint_equivalent_to_json_replay(spark, tmp_path):
    """The head checkpoint parquet replays to the SAME state as the
    JSON log: reading with the checkpoint present equals reading after
    deleting it (checkpoint is an accelerator, never a semantic
    change), and _last_checkpoint points at the head commit."""
    cat = _cat(spark, tmp_path)
    _mk_history(cat, spark)
    dest = str(tmp_path / "dlh")
    res = export_delta_history(cat, "t", dest, checkpoint_interval=1)
    log_dir = os.path.join(dest, "_delta_log")
    with open(os.path.join(log_dir, "_last_checkpoint")) as f:
        assert json.load(f)["version"] == res["commits"] - 1
    via_ckpt = _rows(read_delta(spark, dest).select("id", "name"))
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    via_json = _rows(read_delta(spark, dest).select("id", "name"))
    assert via_ckpt == via_json == _rows(cat.read("t").select("id", "name"))


def test_history_schema_evolution_pins_old_schema(spark, tmp_path):
    """A catalog add_column surfaces as a metaData-only Delta commit:
    pinned reads at the old version see the old column set, the head
    sees the new column (null-backfilled for old files)."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "a")], "id long, name string")
    )
    cat.add_column("t", "score", "double")
    cat.append(
        "t",
        spark.createDataFrame(
            [(2, "b", 0.5)], "id long, name string, score double"
        ),
    )
    dest = str(tmp_path / "dlh")
    export_delta_history(cat, "t", dest)
    assert read_delta(spark, dest, version=0).columns == ["id", "name"]
    got = read_delta(spark, dest)
    assert got.columns == ["id", "name", "score"]
    assert _rows(got) == _rows(cat.read("t"))


def test_history_partitioned_zero_copy(spark, tmp_path):
    """Identity-partitioned history stays zero-copy: partitionValues
    carry the per-file values at every commit and no parquet is
    rewritten under dest."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame(
            [(1, "us"), (2, "eu")], "id long, region string"
        ),
        partition_by=["region"],
    )
    cat.append(
        "t", spark.createDataFrame([(3, "us")], "id long, region string")
    )
    dest = str(tmp_path / "dlh")
    export_delta_history(cat, "t", dest)
    data_parquet = [
        f
        for dp, _, fs in os.walk(dest)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in dp
    ]
    assert data_parquet == []  # zero-copy: only log + checkpoint files
    for k in range(2):
        assert _rows(
            read_delta(spark, dest, version=k).select("id", "region")
        ) == _rows(cat.read("t", version=k).select("id", "region"))


def test_import_of_dv_delta_table_materializes_survivors(spark, tmp_path):
    """The migration inbound path: a modern-writer Delta table carrying
    deletion vectors imports into the catalog with the DV-suppressed
    rows already gone (import goes through read_delta, which applies
    DVs) — a catalog user never sees ghost rows."""
    import json as _json

    from data_lakehouse_spark.__main__ import main as cli_main
    from data_lakehouse_spark.interop.dv import attach_dv

    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.range(20).select(F.col("id").cast("long").alias("id"))
    )
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    log = os.path.join(dest, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        first_add = next(
            _json.loads(x)["add"] for x in f
            if x.strip() and "add" in _json.loads(x)
        )
    rows = spark.read.parquet(first_add["path"]).select(
        "id", F.col("_metadata.row_index").alias("ri")
    ).collect()
    kill_ids = {rows[0]["id"], rows[-1]["id"]}
    desc = attach_dv(dest, sorted(r["ri"] for r in rows
                                  if r["id"] in kill_ids))
    _dv_commit(log, 1, first_add, desc)

    rc = cli_main([
        "import", "--warehouse", str(tmp_path / "wh2"),
        "--table", "imported", "--source", dest, "--format", "delta",
    ])
    assert rc == 0
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    got = {r["id"] for r in cat2.read("imported").collect()}
    assert got == set(range(20)) - kill_ids


def test_history_refuses_eq_deletes(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    )
    cat.delete_where("t", F.col("id") == 1, mode="mor-eq",
                     equality_cols=["id"])
    with pytest.raises(ValueError, match="equality-delete"):
        export_delta_history(cat, "t", str(tmp_path / "dlh"))


def test_history_mor_deletes_export_as_dv_commits(spark, tmp_path):
    """Each delete_mor version becomes a remove + re-add commit carrying
    the file's CUMULATIVE deletion vector; pinned reads see the delete
    state as of that version, and the head checkpoint round-trips the
    DV descriptors."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t",
        spark.createDataFrame([(i,) for i in range(10)], "id long")
        .coalesce(1),
    )
    cat.delete_where("t", "id IN (1, 2)", mode="mor")       # v1
    cat.append("t", spark.createDataFrame([(10,), (11,)], "id long"))  # v2
    cat.delete_where("t", "id IN (3, 10)", mode="mor")      # v3
    dest = str(tmp_path / "dlh")
    # checkpoint at the head so the DV descriptors must survive the
    # checkpoint parquet schema too
    res = export_delta_history(cat, "t", dest, checkpoint_interval=2)
    assert res["commits"] == 4

    def ids(df):
        return {r["id"] for r in df.collect()}

    assert ids(read_delta(spark, dest, version=0)) == set(range(10))
    assert ids(read_delta(spark, dest, version=1)) == set(range(10)) - {1, 2}
    assert ids(read_delta(spark, dest, version=2)) == (
        set(range(12)) - {1, 2}
    )
    # head (checkpoint replay): both deletes applied cumulatively
    assert ids(read_delta(spark, dest)) == set(range(12)) - {1, 2, 3, 10}
    assert ids(read_delta(spark, dest)) == ids(cat.read("t"))


def test_dv_update_commit_order_independent(spark, tmp_path):
    """ADVICE r10 (high): the spec keys Action Reconciliation on
    (path, deletionVector.uniqueId) and does NOT fix action order
    inside a commit. A DV-update commit serialized add{path, newDV}
    BEFORE remove{path, oldDV} must still leave the new add live —
    a path-keyed replay would let the tombstone pop it."""
    from data_lakehouse_spark.interop.dv import attach_dv

    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.range(100).select(F.col("id").cast("long").alias("id"))
    )
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    log = os.path.join(dest, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    add0 = next(a for a in actions if "add" in a)["add"]
    rows = spark.read.parquet(add0["path"]).select(
        "id", F.col("_metadata.row_index").alias("ri")
    ).collect()

    dv1 = attach_dv(dest, sorted(r["ri"] for r in rows if r["id"] % 2 == 0))
    _dv_commit(log, 1, add0, dv1)          # kills evens (remove-then-add)
    dv2 = attach_dv(dest, sorted(r["ri"] for r in rows if r["id"] < 50))
    # v2: the update pattern with the ADD FIRST — remove carries oldDV
    with open(os.path.join(log, f"{2:020d}.json"), "w") as f:
        f.write(json.dumps({"add": dict(
            add0, dataChange=True, deletionVector=dv2)}) + "\n")
        f.write(json.dumps({"remove": {
            "path": add0["path"], "dataChange": True,
            "deletionVector": dv1}}) + "\n")

    file_ids = {r["id"] for r in rows}
    got = {r["id"] for r in read_delta(spark, dest).collect()}
    assert got == set(range(100)) - {i for i in file_ids if i < 50}
    # and the intermediate version still reads with dv1 only
    assert {r["id"] for r in read_delta(spark, dest, version=1).collect()} \
        == set(range(100)) - {i for i in file_ids if i % 2 == 0}


def test_checkpoint_tombstone_does_not_drop_readded_file(spark, tmp_path):
    """A checkpoint legitimately carries BOTH a vacuum tombstone
    remove{path} and the live add{path, DV} for the same path, with no
    guaranteed row order. Checkpoint removes are pure tombstones: the
    live add must survive even when the remove row sorts after it."""
    from data_lakehouse_spark.interop.dv import attach_dv

    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.range(20).select(F.col("id").cast("long").alias("id"))
    )
    dest = str(tmp_path / "dl")
    export_delta(cat, "t", dest)
    log = os.path.join(dest, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    add0 = next(a for a in actions if "add" in a)["add"]
    meta = next(a for a in actions if "metaData" in a)["metaData"]
    rows = spark.read.parquet(add0["path"]).select(
        "id", F.col("_metadata.row_index").alias("ri")
    ).collect()
    dv = attach_dv(dest, sorted(r["ri"] for r in rows if r["id"] < 5))
    _dv_commit(log, 1, add0, dv)

    # foreign-writer-shaped checkpoint at v1: protocol, metaData, the
    # live add{path, dv} and — AFTER it — the bare tombstone remove
    ddl = (
        "protocol struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>, "
        "metaData struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>,"
        "createdTime:long>, "
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean,stats:string,"
        "deletionVector struct<storageType:string,pathOrInlineDv:string,"
        "offset:int,sizeInBytes:int,cardinality:long>>, "
        "remove struct<path:string,dataChange:boolean>"
    )
    dv_t = (dv["storageType"], dv["pathOrInlineDv"], dv.get("offset"),
            dv["sizeInBytes"], dv["cardinality"])
    meta_t = (meta["id"],
              (meta["format"]["provider"], meta["format"].get("options") or {}),
              meta["schemaString"], meta.get("partitionColumns") or [],
              meta.get("configuration") or {}, meta.get("createdTime"))
    ck_rows = [
        ((3, 7, ["deletionVectors"], None), None, None, None),
        (None, meta_t, None, None),
        (None, None, (add0["path"], add0.get("partitionValues") or {},
                      add0["size"], add0["modificationTime"], True,
                      add0.get("stats"), dv_t), None),
        (None, None, None, (add0["path"], True)),
    ]
    import shutil
    tmp = os.path.join(log, "._ckpt_test")
    spark.createDataFrame(ck_rows, ddl).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith("."))
    os.replace(os.path.join(tmp, part),
               os.path.join(log, f"{1:020d}.checkpoint.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": len(ck_rows)}, f)

    # the checkpoint's live set is exactly add0 (with its DV): the
    # file must survive the trailing tombstone row
    file_ids = {r["id"] for r in rows}
    got = {r["id"] for r in read_delta(spark, dest).collect()}
    assert got == {i for i in file_ids if i >= 5}


def _cmap_meta(schema_fields, part_cols=()):
    return {
        "id": "cmap-test", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {"type": "struct", "fields": schema_fields}),
        "partitionColumns": list(part_cols),
        "configuration": {"delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "9"},
        "createdTime": 0,
    }


def _one_parquet(spark, df, where):
    df.coalesce(1).write.mode("overwrite").parquet(where)
    return next(
        os.path.join(where, f) for f in os.listdir(where)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def test_read_delta_column_mapping_name(spark, tmp_path):
    """r10 verdict ask #1: a column-mapped Delta table (the default
    posture of any modern table that ever renamed a column) reads by
    physicalName and projects back to logical names; a rename commit
    (new logical name, same physical) resolves to the SAME bytes."""
    dest = str(tmp_path / "dl")
    log = os.path.join(dest, "_delta_log")
    os.makedirs(log)
    # physical file: columns named col-9f8e / col-77aa
    fpath = _one_parquet(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")],
            "`col-9f8e` long, `col-77aa` string"),
        str(tmp_path / "data"))
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-9f8e"}},
        {"name": "name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-77aa"}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        f.write(json.dumps({"metaData": _cmap_meta(fields)}) + "\n")
        f.write(json.dumps({"add": {
            "path": fpath, "partitionValues": {},
            "size": os.path.getsize(fpath), "modificationTime": 0,
            "dataChange": True}}) + "\n")

    df = read_delta(spark, dest)
    assert df.columns == ["id", "name"]
    assert _rows(df) == [(1, "a"), (2, "b"), (3, "c")]

    # v1: RENAME name -> customer_name (logical only; physical fixed)
    renamed = [fields[0], dict(fields[1], name="customer_name")]
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"metaData": _cmap_meta(renamed)}) + "\n")
    df1 = read_delta(spark, dest)
    assert df1.columns == ["id", "customer_name"]
    assert _rows(df1) == [(1, "a"), (2, "b"), (3, "c")]
    # pinned read still shows the pre-rename logical name
    assert read_delta(spark, dest, version=0).columns == ["id", "name"]


def test_read_delta_column_mapping_partitioned(spark, tmp_path):
    """partitionValues keys use PHYSICAL names under column mapping
    while metaData.partitionColumns stays logical; the reconstructed
    partition column comes back under its logical name. The
    columnMapping readerFeature (protocol v3) is accepted."""
    dest = str(tmp_path / "dl")
    log = os.path.join(dest, "_delta_log")
    os.makedirs(log)
    fa = _one_parquet(
        spark, spark.createDataFrame([(1,), (2,)], "`col-9f8e` long"),
        str(tmp_path / "da"))
    fb = _one_parquet(
        spark, spark.createDataFrame([(3,)], "`col-9f8e` long"),
        str(tmp_path / "db"))
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-9f8e"}},
        {"name": "part", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-pp"}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"]}}) + "\n")
        f.write(json.dumps(
            {"metaData": _cmap_meta(fields, part_cols=["part"])}) + "\n")
        for p, pv in ((fa, "a"), (fb, "b")):
            f.write(json.dumps({"add": {
                "path": p, "partitionValues": {"col-pp": pv},
                "size": os.path.getsize(p), "modificationTime": 0,
                "dataChange": True}}) + "\n")

    df = read_delta(spark, dest)
    assert df.columns == ["id", "part"]
    assert _rows(df) == [(1, "a"), (2, "a"), (3, "b")]


def test_export_dv_falls_back_when_delete_set_exceeds_broadcast(
    spark, tmp_path
):
    """ADVICE r10: the DV encode groups the WHOLE positional-delete set
    on the driver — past the broadcast threshold (the same gate the MOR
    read path uses) the export must fall back to materialize instead of
    risking a driver OOM, and an explicit materialize=False must refuse
    with the reason."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(i,) for i in range(50)], "id long")
    )
    cat.delete_where("t", "id % 5 = 0", mode="mor")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
        res = export_delta(cat, "t", str(tmp_path / "dl"))
        assert res["materialized"] and res["deletion_vector_files"] == 0
        assert _rows(read_delta(spark, str(tmp_path / "dl"))
                     .select("id")) == _rows(cat.read("t"))
        with pytest.raises(ValueError, match="broadcast threshold"):
            export_delta(cat, "t", str(tmp_path / "dl2"),
                         materialize=False)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # back under the threshold: zero-copy DV export again
    res = export_delta(cat, "t", str(tmp_path / "dl3"))
    assert not res["materialized"] and res["deletion_vector_files"] >= 1


def test_history_export_refuses_dv_set_past_broadcast_threshold(
    spark, tmp_path
):
    """The history twin of the test above: the history export groups
    every positional delete of the whole history on the driver, so it
    takes the same gate and refuses past it (it has no materialize
    fallback)."""
    cat = _cat(spark, tmp_path)
    cat.create_table(
        "t", spark.createDataFrame([(i,) for i in range(50)], "id long")
    )
    cat.delete_where("t", "id % 5 = 0", mode="mor")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
        with pytest.raises(ValueError, match="broadcast threshold"):
            export_delta_history(cat, "t", str(tmp_path / "dlh"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    dest = str(tmp_path / "dlh2")
    export_delta_history(cat, "t", dest)
    assert _rows(read_delta(spark, dest).select("id")) == _rows(cat.read("t"))
