"""Model-based differential test: random sequences of catalog DML
(append / COW+MOR delete / update / merge / compact / delete-fold /
rollback) against an in-memory multiset model. Every step the table
must equal the model exactly, and time travel to any recorded version
must equal that version's model snapshot — the catalog's whole DML
surface composed in orders no hand-written test covers."""

from __future__ import annotations

import random

import pytest

from data_lakehouse_spark.catalog import Catalog

SCHEMA = "id long, v double"


def _read(cat: Catalog, version=None) -> dict[int, float]:
    df = cat.read("t", version=version)
    rows = df.collect()
    out = {}
    for r in rows:
        assert r["id"] not in out, "duplicate id leaked into the table"
        out[r["id"]] = r["v"]
    return out


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_random_dml_sequences_match_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    cat = Catalog(spark, str(tmp_path / "w"))

    next_id = 0

    def fresh_rows(n):
        nonlocal next_id
        rows = [(next_id + i, float(rng.randint(0, 100))) for i in range(n)]
        next_id += n
        return rows

    model: dict[int, float] = dict(fresh_rows(5))
    cat.create_table(
        "t", spark.createDataFrame(list(model.items()), SCHEMA)
    )
    history = {0: dict(model)}  # version -> model snapshot

    def cur_version():
        return len(cat._load_manifest(cat._handle("t"))) - 1

    for step in range(14):
        op = rng.choice(
            ["append", "delete_cow", "delete_mor", "update", "merge",
             "compact", "rewrite_deletes", "rollback"]
        )
        if op == "append":
            rows = fresh_rows(rng.randint(1, 4))
            cat.append("t", spark.createDataFrame(rows, SCHEMA))
            model.update(dict(rows))
        elif op in ("delete_cow", "delete_mor"):
            cut = rng.randint(0, 100)
            cat.delete_where(
                "t", f"v < {cut}", mode="mor" if op == "delete_mor" else "cow"
            )
            model = {k: v for k, v in model.items() if not v < cut}
        elif op == "update":
            cut = rng.randint(0, 100)
            cat.update_where("t", f"v >= {cut}", {"v": "v + 1000"})
            model = {
                k: (v + 1000 if v >= cut else v) for k, v in model.items()
            }
        elif op == "merge":
            # half updates of existing ids, half inserts
            ids = rng.sample(sorted(model), k=min(2, len(model)))
            src = [(i, -1.0) for i in ids] + fresh_rows(2)
            cat.merge_into(
                "t", spark.createDataFrame(src, SCHEMA), ["id"]
            )
            model.update(dict(src))
        elif op == "compact":
            cat.compact("t")
        elif op == "rewrite_deletes":
            cat.rewrite_position_deletes("t")
        elif op == "rollback":
            target = rng.choice(sorted(history))
            cat.rollback("t", target)
            model = dict(history[target])
        history[cur_version()] = dict(model)
        assert _read(cat) == model, f"seed={seed} step={step} op={op}"
        # metadata-only count agrees with the model every step
        assert cat.row_count("t") == len(model)

    # time travel to three random recorded versions
    for v in rng.sample(sorted(history), k=min(3, len(history))):
        assert _read(cat, version=v) == history[v], f"time travel to v{v}"

    # the change feed from v0 to now reconciles to the model:
    # inserts minus deletes per id equals the final state
    changes = cat.table_changes("t", 0).collect()
    net: dict[tuple, int] = {}
    for r in changes:
        key = (r["id"], r["v"])
        net[key] = net.get(key, 0) + (1 if r["_change_type"] == "insert" else -1)
    final = dict(history[0])
    for (i, v), n in sorted(net.items()):
        for _ in range(n):
            final[i] = v
        if n < 0:
            for _ in range(-n):
                if final.get(i) == v:
                    del final[i]
    assert final == model


def test_eq_seq_needs_no_path_match(spark, tmp_path):
    """Equality deletes scope rows by their dir's sequence, which each
    dir's part of the read carries as a literal: no per-row test of
    ``_file`` against a rendering of the manifest dirs, so the table
    reads the same through a symlinked root and through the real one,
    the upsert's same-commit images included."""
    real = tmp_path / "real"
    real.mkdir()
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    cat = Catalog(spark, str(link / "w"))
    cat.create_table(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    cat.delete_where("t", "v = 'a'", mode="mor-eq", equality_cols=["id"])
    cat.upsert_cdc(
        "t",
        spark.createDataFrame([(2, "B", "U"), (1, "x", "I")], "id long, v string, _op string"),
        ["id"],
    )
    assert sorted(tuple(r) for r in cat.read("t").collect()) == [(1, "x"), (2, "B")]
    again = Catalog(spark, str(real / "w"))
    assert sorted(tuple(r) for r in again.read("t").collect()) == [(1, "x"), (2, "B")]
