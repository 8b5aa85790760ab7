"""Manifest commits: every manifest write happens under the table's
commit lock, concurrent appends survive schema DDL and expiry, and every
metadata-only commit carries its base snapshot's fields forward."""

from __future__ import annotations

import os
import threading

import pytest

from data_lakehouse_spark import catalog as catalog_mod
from data_lakehouse_spark.catalog import Catalog

S0 = "id long, label string, qty int, p string"
#: the schema after the DDL steps (qty widened, label renamed)
S1 = "id long, name string, qty long, p string"
#: the fields a metadata-only commit carries from its base entry
CARRIED = (
    "data_dirs", "delete_dirs", "schema", "partition_by",
    "partition_transforms", "properties", "stats",
)


def _rows(ids) -> list[tuple]:
    return [(i, f"r{i}", i * 10, "a" if i % 2 else "b") for i in ids]


def _manifest(cat: Catalog, name: str) -> list[dict]:
    return cat._load_manifest(cat._handle(name))


def _ids(cat: Catalog, name: str) -> list[int]:
    return sorted(r["id"] for r in cat.read(name).collect())


def every_manifest_op(spark) -> list[tuple[str, object]]:
    """One scripted run of every public method that writes a manifest,
    as ``(label, fn(catalog))`` steps on tables ``t`` and ``c``."""

    def df0(ids):
        return spark.createDataFrame(_rows(ids), S0)

    def df1(ids):
        return spark.createDataFrame(_rows(ids), S1)

    def txn_append(cat):
        with cat.transaction() as txn:
            txn.append("t", df1([15]))

    state = {}
    return [
        ("create_table", lambda cat: cat.create_table(
            "t", df0(range(1, 9)), partition_by=["p"],
            properties={"owner": "ops"})),
        ("append", lambda cat: cat.append("t", df0([9, 10]))),
        ("add_column", lambda cat: cat.add_column("t", "note", "string")),
        ("alter_column_type",
         lambda cat: cat.alter_column_type("t", "qty", "long")),
        ("rename_column", lambda cat: cat.rename_column("t", "label", "name")),
        ("drop_column", lambda cat: cat.drop_column("t", "note")),
        ("set_partition_spec", lambda cat: cat.set_partition_spec("t", None)),
        ("create_branch", lambda cat: cat.create_branch("t", "dev")),
        ("append_branch", lambda cat: cat.append("t", df1([11]), branch="dev")),
        ("fast_forward", lambda cat: state.update(
            ff=cat.fast_forward("t", "dev") and cat.current_version("t"))),
        ("drop_branch", lambda cat: cat.drop_branch("t", "dev")),
        ("append_staged", lambda cat: cat.append("t", df1([12]), staged=True)),
        ("publish", lambda cat: cat.publish("t")),
        ("rollback", lambda cat: cat.rollback("t", state["ff"])),
        ("delete_mor", lambda cat: cat.delete_where("t", "id = 1", mode="mor")),
        ("delete_mor_eq", lambda cat: cat.delete_where(
            "t", "id = 2", mode="mor-eq", equality_cols=["id"])),
        ("delete_cow", lambda cat: cat.delete_where("t", "id = 3")),
        ("upsert_cdc", lambda cat: cat.upsert_cdc(
            "t",
            spark.createDataFrame(
                [(4, "u4", 44, "b", "U"), (13, "i13", 130, "a", "I")],
                S1 + ", _op string",
            ),
            ["id"],
        )),
        ("merge_into", lambda cat: cat.merge_into(
            "t",
            spark.createDataFrame([(5, "m5", 55, "a"), (14, "m14", 140, "b")], S1),
            ["id"],
        )),
        ("compact", lambda cat: cat.compact("t")),
        ("delete_mor_2", lambda cat: cat.delete_where("t", "id = 6", mode="mor")),
        ("rewrite_position_deletes",
         lambda cat: cat.rewrite_position_deletes("t")),
        ("expire_snapshots", lambda cat: cat.expire_snapshots("t", keep_last=2)),
        ("clone_table", lambda cat: cat.clone_table("t", "c")),
        ("transaction", txn_append),
    ]


def test_every_manifest_write_holds_the_commit_lock(spark, tmp_path, monkeypatch):
    cat = Catalog(spark, str(tmp_path / "w"))
    real = Catalog._save_manifest
    current = {"step": None}
    saved, unlocked = set(), []

    def guarded(self, h, entries):
        saved.add(current["step"])
        if not os.path.exists(os.path.join(h.path, "_commit.lock")):
            unlocked.append(current["step"])
        return real(self, h, entries)

    monkeypatch.setattr(Catalog, "_save_manifest", guarded)
    steps = every_manifest_op(spark)
    for label, fn in steps:
        current["step"] = label
        fn(cat)
    assert unlocked == []
    assert saved == {label for label, _ in steps}
    assert _ids(cat, "t") == [4, 5, 7, 8, 9, 10, 11, 13, 14, 15]
    assert _ids(cat, "c") == [4, 5, 7, 8, 9, 10, 11, 13, 14]


def test_tag_file_writes_hold_the_commit_lock(spark, tmp_path, monkeypatch):
    """Tags are a retention contract expiry reads under the lock, so
    their writes take it too (the "not expired" check in create_tag
    cannot interleave with an expiry)."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame(_rows([1]), S0))
    real = catalog_mod._write_json
    seen = []

    def guarded(path, obj):
        lock = os.path.join(os.path.dirname(path), "_commit.lock")
        seen.append((os.path.basename(path), os.path.exists(lock)))
        return real(path, obj)

    monkeypatch.setattr(catalog_mod, "_write_json", guarded)
    cat.create_tag("t", "freeze")
    cat.drop_tag("t", "freeze")
    assert [s for s in seen if s[0] == "_tags.json"] == [
        ("_tags.json", True), ("_tags.json", True)
    ]


def _inject_append_after_first_load(spark, monkeypatch, cat, name, row):
    """Append ``row`` to ``name`` from a second Catalog right after the
    next manifest load ``cat`` makes. If that load happens without the
    commit lock, the append lands before the op continues (the lost
    update interleaving); under the lock it waits for the op to release
    it. Returns the thread to join."""
    real = Catalog._load_manifest
    other = Catalog(spark, cat.root)
    df = spark.createDataFrame(_rows([row]), S0)
    state = {"armed": True, "thread": None, "error": None}

    def append():
        try:
            other.append(name, df)
        except Exception as e:  # surfaced by the test after join
            state["error"] = e

    def loading(self, h):
        entries = real(self, h)
        if self is cat and state["armed"] and h.name == name:
            state["armed"] = False
            locked = os.path.exists(os.path.join(h.path, "_commit.lock"))
            t = threading.Thread(target=append)
            t.start()
            state["thread"] = t
            if not locked:
                t.join()
        return entries

    monkeypatch.setattr(Catalog, "_load_manifest", loading)
    return state


@pytest.mark.parametrize(
    "op,ddl",
    [
        ("add_column", lambda cat: cat.add_column("t", "note", "string")),
        ("rename_column", lambda cat: cat.rename_column("t", "label", "name")),
    ],
    ids=["add_column", "rename_column"],
)
def test_concurrent_append_survives_schema_ddl(
    spark, tmp_path, monkeypatch, op, ddl
):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame(_rows([1]), S0))
    state = _inject_append_after_first_load(spark, monkeypatch, cat, "t", 2)
    ddl(cat)
    state["thread"].join(timeout=120)
    monkeypatch.undo()
    assert not state["thread"].is_alive()
    assert state["error"] is None
    assert _ids(cat, "t") == [1, 2]
    assert sorted(e["op"] for e in _manifest(cat, "t")) == sorted(
        ["create", "append", op]
    )


def test_concurrent_append_survives_expiry(spark, tmp_path, monkeypatch):
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table("t", spark.createDataFrame(_rows([1]), S0))
    state = _inject_append_after_first_load(spark, monkeypatch, cat, "t", 2)
    cat.expire_snapshots("t", keep_last=1)
    state["thread"].join(timeout=120)
    monkeypatch.undo()
    assert not state["thread"].is_alive()
    assert state["error"] is None
    entries = _manifest(cat, "t")
    assert [e["op"] for e in entries] == ["create", "append"]
    assert os.path.isdir(os.path.join(cat.root, "t", entries[1]["data_dirs"][-1]))
    assert _ids(cat, "t") == [1, 2]


def test_meta_commits_carry_base_fields(spark, tmp_path):
    """Each metadata-only commit equals its base entry on every carried
    field except the ones the op changes."""
    cat = Catalog(spark, str(tmp_path / "w"))
    cat.create_table(
        "t", spark.createDataFrame(_rows(range(1, 9)), S0),
        partition_by=["p"], properties={"owner": "ops"},
    )
    # a delete dir every later carry must keep
    cat.delete_where("t", "id = 8", mode="mor")

    def main():
        return cat._main_head(_manifest(cat, "t"), "t")

    def check(op, base_of, changed, name="t"):
        base = base_of()
        op()
        new = _manifest(cat, name)[-1]
        for k in CARRIED:
            if k in changed:
                assert new.get(k) != base.get(k), (new["op"], k)
            else:
                assert new.get(k) == base.get(k), (new["op"], k)

    check(lambda: cat.add_column("t", "note", "string"), main, {"schema"})
    check(lambda: cat.alter_column_type("t", "qty", "long"), main, {"schema"})
    check(lambda: cat.rename_column("t", "label", "name"), main, {"schema"})
    check(lambda: cat.drop_column("t", "note"), main, {"schema"})
    check(lambda: cat.set_partition_spec("t", None), main,
          {"partition_transforms"})
    check(lambda: cat.delete_where("t", "id = 1", mode="mor"), main,
          {"delete_dirs"})
    check(lambda: cat.delete_where("t", "id = 2", mode="mor-eq",
                                   equality_cols=["id"]),
          main, {"delete_dirs"})
    check(lambda: cat.create_branch("t", "dev"), main, set())
    cat.append("t", spark.createDataFrame(_rows([20]), S1), branch="dev")
    check(lambda: cat.fast_forward("t", "dev"),
          lambda: cat._branch_head(_manifest(cat, "t"), "dev"), set())
    cat.append("t", spark.createDataFrame(_rows([21]), S1), staged=True)
    check(lambda: cat.publish("t"), main, set())
    check(lambda: cat.rollback("t", 3), lambda: _manifest(cat, "t")[3], set())
    check(lambda: cat.clone_table("t", "c"), main,
          {"data_dirs", "delete_dirs"}, name="c")
    txn = cat.transaction()
    txn.append("t", spark.createDataFrame(_rows([22]), S1))
    check(txn.commit, main, set())
    assert _manifest(cat, "t")[-1]["txn_id"] == txn.txn_id


def test_locked_ops_on_a_missing_table_leave_no_dir(spark, tmp_path):
    """Only a commit that creates a table makes its dir: a locked op on
    a name with no table raises and leaves nothing under the root."""
    root = tmp_path / "w"
    cat = Catalog(spark, str(root))
    ops = {
        "add_column": lambda: cat.add_column("m1", "x", "int"),
        "create_branch": lambda: cat.create_branch("m2", "b"),
        "drop_tag": lambda: cat.drop_tag("m3", "tag"),
        "expire_snapshots": lambda: cat.expire_snapshots("m4"),
    }
    for label, op in ops.items():
        with pytest.raises(ValueError, match="does not exist"):
            op()
        assert os.listdir(root) == [], label
    cat.create_table("m1", spark.createDataFrame([(1,)], "id long"))
    cat.clone_table("m1", "m5")
    assert sorted(os.listdir(root)) == ["m1", "m5"]
